"""Quantizer staleness remediation for the maintained ANN index.

A maintained index's quantizer is frozen (streaming/ann_index.py). When the
arriving distribution drifts (a new embedding model, a new content domain),
drifted arrivals concentrate into few cells, cell lists stop pruning and
serving cost climbs. `requantize_loop` runs the shared maintenance loop
(`ann_index._IndexLoop`, vectors carried) and adds:

- detect: the loop's audit already computes each batch's cell skew
  (largest cell over the mean across all cells). A batch above
  ANN_SKEW_REFRESH raises the alarm;
- refresh: at stream end, re-seed the quantizer from the index's own
  stored vectors (the n_cells smallest live vec_ids), so the new seeds
  reflect the drift without a trip back to the source corpus;
- migrate: rewrite the index one generation forward with every stored
  vector re-assigned under the refreshed quantizer
  (`migrate_index_table`, the same rename-aside swap as compaction).

The registered queries check "migrated index equals a fresh rebuild under
the refreshed quantizer" exactly against DuckDB; a missed alarm leaves an
un-migrated index that hash-mismatches.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cqu_bigdata_recommender_system_for_movies_spark.plans.registry import register
from cqu_bigdata_recommender_system_for_movies_spark.streaming.ann_index import (
    ANN_CELLS_SQL,
    ANN_CELLS_WIDE_SQL,
    ANN_GROUP_PROBE,
    _group_sql,
    _IndexLoop,
    _quantizer,
    _slice_arrivals,
    _vectors,
    derive_ann_cells,
    derive_ann_cells_wide,
)

ANN_REQUANT_TABLE = "spark_graft_ann_index_q"
N_REQUANT_SLICES = 4  # 3 organic arrival slices + 1 drifted slice
# Alarm threshold on the per-batch largest-cell/mean-over-all-cells
# ratio. Measured bands (tools/probe_ann_requantize.py): organic <= 2.3
# at the three suite sfs but 3.58 at the 2M replica (256 cells — the
# replica tiles 2000 distinct vectors, concentrating cells), while a
# drifted batch reads >= 8.8 even under full slice merging and n_cells
# exactly (256.0 at the replica) when it rides alone. 6.0 sits >= 1.67x
# above every measured organic point and >= 1.47x below the worst-case
# (fully-merged) drift signal.
ANN_SKEW_REFRESH = 6.0


def requantize_loop(
    spark: SparkSession,
    sf_dir: str,
    table: str,
    n_slices: int = N_REQUANT_SLICES,
    audit: list | None = None,
    cleanup: bool = True,
    drift: bool = True,
    two_level: bool = False,
) -> DataFrame:
    """Run the maintenance loop with the staleness alarm armed and return
    the final (vec_id, cell) rows, post-migration when the alarm fired.

    With ``drift`` the last slice carries a new model's embeddings
    (deterministic payload abs(x) + 1.0: near-parallel vectors, the
    worst-case concentration). ``drift=False`` is the control arm: the
    alarm must stay silent and no migration may run. Each audited batch
    row gains ``alarm``; a migration appends {"migrated", "alarms"}.
    ``two_level`` runs appends, refresh and migration through the
    two-level quantizer at the uncapped width."""
    audit = [] if audit is None else audit
    first = len(audit)
    emb = _vectors(spark, sf_dir)
    n_cells = derive_ann_cells_wide(sf_dir) if two_level else derive_ann_cells(sf_dir)
    loop = _IndexLoop(
        spark,
        sf_dir,
        table,
        n_slices,
        n_cells,
        _quantizer(emb, n_cells, two_level),
        carry=("e",),
        audit=audit,
    )
    arrived = _slice_arrivals(emb, n_slices)
    if drift:
        arrived = arrived.withColumn(
            "e",
            F.when(
                F.col("ver") == n_slices - 1,
                F.transform("e", lambda x: F.abs(x) + F.lit(1.0)),
            ).otherwise(F.col("e")),
        )
    loop.run(arrived)
    batches = [a for a in audit[first:] if "batch_id" in a]
    for a in batches:
        a["alarm"] = (a["cell_skew"] or 0.0) > ANN_SKEW_REFRESH
    alarms = sum(a["alarm"] for a in batches)
    if alarms:
        # refresh from the index's own stored (arrived) vectors; every
        # corpus id is live here, so the seeds are vec_id < n_cells
        spark.catalog.refreshTable(table)
        stored = spark.table(table).select("vec_id", "e")
        loop.migrate(_quantizer(stored, n_cells, two_level))
        audit.append({"migrated": True, "alarms": alarms})
    snap = loop.snapshot()
    if cleanup:
        loop.cleanup()
    return snap


@register(
    "streaming_ann_index_requantize",
    # The oracle is the fresh one-pass rebuild under the REFRESHED
    # quantizer: arrived corpus = drift payload applied to the last
    # slice; seeds = the n_cells smallest ARRIVED vectors (the actuator
    # re-seeds from the index's own contents, and every id is live);
    # assignment = nearest refreshed seed (cos DESC, cid ASC — the
    # family's tie order). The engine must reach this through the
    # frozen-quantizer appends, the skew alarm, and the migration
    # rewrite — a missed alarm or a wrong migration hash-mismatches.
    oracle=f"""
    WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    arrived AS (
        SELECT vec_id,
               CASE WHEN vec_id % {N_REQUANT_SLICES} = {N_REQUANT_SLICES - 1}
                    THEN list_transform(e, x -> abs(x) + 1.0)
                    ELSE e END AS e
        FROM base
    ),
    cent AS (
        SELECT vec_id AS cid, e AS ce FROM arrived
        WHERE vec_id < {ANN_CELLS_SQL}
    ),
    scored AS (
        SELECT a.vec_id, c.cid,
               ROW_NUMBER() OVER (
                   PARTITION BY a.vec_id
                   ORDER BY list_dot_product(a.e, c.ce) /
                            (sqrt(list_dot_product(a.e, a.e)) *
                             sqrt(list_dot_product(c.ce, c.ce)) + 1e-8) DESC,
                            c.cid
               ) AS rn
        FROM arrived a CROSS JOIN cent c
    )
    SELECT vec_id, CAST(cid AS INTEGER) AS cell FROM scored WHERE rn = 1
    """,
    doc="Streaming ANN index QUANTIZER REFRESH + MIGRATION (beyond-"
    "reference — the staleness alarm's actuator): "
    f"{N_REQUANT_SLICES - 1} organic arrival slices append under the "
    "frozen quantizer, a final DRIFTED slice (deterministic "
    "abs(x) + 1.0 payload — a new embedding model's near-parallel "
    "output) trips the per-batch cell-skew alarm (threshold "
    f"{ANN_SKEW_REFRESH}, measured >= 1.47x margin against both bands), "
    "and at the next maintenance window the quantizer is RE-SEEDED "
    "from the index's own stored vectors and the whole index is "
    "MIGRATED one generation forward under the new seeds (the "
    "compaction write-then-swap machinery with the assignment fold "
    "applied in the rewrite). Returns the final index (vec_id, cell); "
    "the oracle computes the fresh one-pass rebuild under the "
    "refreshed quantizer, so post-migration-equals-rebuild is "
    "hash-checked exactly.",
)
def streaming_ann_index_requantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    return requantize_loop(spark, sf_dir, ANN_REQUANT_TABLE)


ANN_REQUANT2_TABLE = "spark_graft_ann_index_q2"


@register(
    "streaming_ann_requantize_two_level",
    # The WIDE-lifecycle drift story, exact-checked end to end: the
    # oracle is the fresh one-pass TWO-LEVEL rebuild of the post-drift
    # corpus under the REFRESHED quantizer — refreshed seeds = the
    # n_cells (UNCAPPED sqrt-corpus width) smallest ARRIVED vectors,
    # reps = their derive_group_width prefix, every refreshed cell
    # grouped under its nearest refreshed rep, each arrived vector
    # assigned through level 1 (top-ANN_GROUP_PROBE reps) then level 2
    # (best cell among the probed groups; cos DESC, cid ASC — the
    # family's tie order). The engine must reach this through two-level
    # appends under the INITIAL quantizer, the cell-skew alarm, the
    # two-level refresh from the index's own stored vectors, and the
    # two-level migration rewrite — a missed alarm, a flat-fold
    # fallback, or a wrong grouping all hash-mismatch.
    oracle=f"""
    WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    arrived AS (
        SELECT vec_id,
               CASE WHEN vec_id % {N_REQUANT_SLICES} = {N_REQUANT_SLICES - 1}
                    THEN list_transform(e, x -> abs(x) + 1.0)
                    ELSE e END AS e
        FROM base
    ),
    width AS (SELECT {ANN_CELLS_WIDE_SQL} AS n),
    gw AS (SELECT {_group_sql(ANN_CELLS_WIDE_SQL)} AS g),
    cent AS (
        SELECT vec_id AS cid, e AS ce FROM arrived
        WHERE vec_id < (SELECT n FROM width)
    ),
    reps AS (SELECT cid AS rid, ce AS re FROM cent WHERE cid < (SELECT g FROM gw)),
    grouped AS (
        SELECT cid, ce, rid AS gid FROM (
            SELECT c.cid, c.ce, r.rid,
                   ROW_NUMBER() OVER (
                       PARTITION BY c.cid
                       ORDER BY list_dot_product(c.ce, r.re) /
                                (sqrt(list_dot_product(c.ce, c.ce)) *
                                 sqrt(list_dot_product(r.re, r.re)) + 1e-8) DESC,
                                r.rid
                   ) AS rn
            FROM cent c CROSS JOIN reps r
        ) WHERE rn = 1
    ),
    l1 AS (
        SELECT vec_id, rid AS gid FROM (
            SELECT a.vec_id, r.rid,
                   ROW_NUMBER() OVER (
                       PARTITION BY a.vec_id
                       ORDER BY list_dot_product(a.e, r.re) /
                                (sqrt(list_dot_product(a.e, a.e)) *
                                 sqrt(list_dot_product(r.re, r.re)) + 1e-8) DESC,
                                r.rid
                   ) AS rn
            FROM arrived a CROSS JOIN reps r
        ) WHERE rn <= {ANN_GROUP_PROBE}
    ),
    l2 AS (
        SELECT vec_id, cid FROM (
            SELECT a.vec_id, c.cid,
                   ROW_NUMBER() OVER (
                       PARTITION BY a.vec_id
                       ORDER BY list_dot_product(a.e, c.ce) /
                                (sqrt(list_dot_product(a.e, a.e)) *
                                 sqrt(list_dot_product(c.ce, c.ce)) + 1e-8) DESC,
                                c.cid
                   ) AS rn
            FROM l1 w
            JOIN arrived a ON a.vec_id = w.vec_id
            JOIN grouped c ON c.gid = w.gid
        ) WHERE rn = 1
    )
    SELECT vec_id, CAST(cid AS INTEGER) AS cell FROM l2
    """,
    doc="Streaming ANN index quantizer refresh + migration through the "
    "WIDE (two-level) lifecycle (beyond-reference — the hierarchical "
    "quantizer wired into the MAINTAINED index, not a standalone "
    "assignment): arrival appends assign through the "
    "two-level selection at the UNCAPPED sqrt-corpus width, the final "
    "drifted slice (abs(x) + 1.0) trips the per-batch cell-skew alarm "
    "(measured two-level organic band 1.79-2.56 vs the drifted batch's "
    "n_cells exactly — the 6.0 threshold keeps >= 2.3x margin), the "
    "quantizer re-derives its reps AND geometry grouping from the "
    "index's own stored vectors, and the migration re-assigns every "
    "stored vector two-level under the refreshed seeds. This is the "
    "path that removes the flat requantize's width ceiling: ingest and "
    "migration cost O((1+probe)*sqrt(width)) dots per row instead of "
    "the flat quantizer's width (measured 51-55k vs 3.3k rows/s at "
    "2048 cells on a 200k-vector replica). The oracle replays the "
    "fresh two-level rebuild under the refreshed quantizer, so "
    "post-migration-equals-rebuild stays hash-checked in the wide "
    "regime.",
)
def streaming_ann_requantize_two_level(spark: SparkSession, sf_dir: str) -> DataFrame:
    return requantize_loop(spark, sf_dir, ANN_REQUANT2_TABLE, two_level=True)
