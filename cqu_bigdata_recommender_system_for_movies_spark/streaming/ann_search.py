"""Streaming vector search over the maintained ANN index (beyond-
reference — the SERVING path that closes the similarity-search loop:
streaming/ann_index.py maintains the cell-bucketed index, this module
answers arriving queries from it).

Shape, end to end:

- the INDEX is built by the maintenance write path itself
  (`apply_index_batch` with the embedding payload carried), so the
  served artifact is literally the bucketBy(cell) table the
  update/compact/upsert/delete loops produce — vectors stored
  cell-clustered, the classic IVF layout;
- QUERY vectors arrive as micro-batches (a staged file stream); each
  arriving query probes its SEARCH_NPROBE nearest quantizer cells;
- candidates = the probed cells' index rows (each corpus vector lives
  in exactly one cell, so a candidate appears at most once per query);
- exact cosine over the candidates (the JVM fold from
  operators/vectors.py — bit-identical to the oracle's
  list_dot_product form), per-query top-SEARCH_TOPK (cosine DESC,
  neighbor_id ASC), self-matches excluded;
- per batch the results append to the staging sink; queries are
  disjoint across batches, so the final snapshot is their union.

The index's size picks the serving shape of a batch, and nothing else
does. When the planner would broadcast the index anyway (its
optimized-plan size is at most spark.sql.autoBroadcastJoinThreshold)
the batch collects the index to Arrow — the same fresh table — and
runs as ONE narrow Spark stage: an Arrow UDF (functions/nearcell.py
`ann_topk_udf`) probes, fetches, scores and ranks, and posexplode gives
the rank; no join, exchange or window. Past that size the queries are
probed map-side, joined to the index ON THE CELL KEY (the SMJ-on-
bucketed-files layout) and ranked by a row_number window — the only
path for an index the driver cannot hold, and the reference the kernel
is tested against bit for bit (the same two-regime story as
streaming/candidates.py).

The DuckDB oracle replays the whole pipeline — quantizer, per-query
nprobe cells, one-cell-per-corpus-vector assignment, cell-key
candidate fetch, exact cosine ranking — so the PRUNED search result is
exact-checked: the engine must return precisely the neighbors the
pruned search defines, in rank order (ranks are integers; no float
column rides the hash). Recall vs exhaustive search is the separately
measured dial (tools/probe_candidates_recall.py,
tools/probe_ivf_multiprobe.py).
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from cqu_bigdata_recommender_system_for_movies_spark.operators.vectors import (
    EPS,
    dot,
)
from cqu_bigdata_recommender_system_for_movies_spark.plans.registry import register
from cqu_bigdata_recommender_system_for_movies_spark.streaming.ann_index import (
    ANN_CELLS_SQL,
    ANN_MAX_BUCKETS,
    QUERY_MOD,
    QUERY_REM,
    SEARCH_NPROBE,
    SEARCH_TOPK,
    _ann_cents_relation,
    apply_index_batch,
    derive_ann_cells,
    derive_fold_parts,
)
from cqu_bigdata_recommender_system_for_movies_spark.streaming.candidates import (
    _nearest_cells,
)
from cqu_bigdata_recommender_system_for_movies_spark.tables import load, table_row_count

ANN_SEARCH_TABLE = "spark_graft_ann_search_index"
# SEARCH_NPROBE / SEARCH_TOPK / QUERY_MOD / QUERY_REM moved to
# streaming/ann_index.py (r15: the hierarchical batch search shares the
# serving convention and this module imports ann_index, not vice versa);
# re-exported here so existing importers keep working.
N_SEARCH_SLICES = 2  # staged query-arrival batches


def _broadcast_sized(df: DataFrame) -> bool:
    """True when the planner would broadcast `df` into a join: its
    optimized-plan size estimate is at most autoBroadcastJoinThreshold
    (-1 disables broadcasting, and so this)."""
    jdf = df._jdf  # noqa: SLF001
    size = int(str(jdf.queryExecution().optimizedPlan().stats().sizeInBytes()))
    conf = df.sparkSession._jsparkSession.sessionState().conf()  # noqa: SLF001
    return size <= conf.autoBroadcastJoinThreshold()


def score_query_batch(
    batch_df: DataFrame, cents: DataFrame, index_df: DataFrame
) -> DataFrame:
    """(query_id, rank, neighbor_id): one micro-batch of query vectors
    (vec_id, e) answered from the index (neighbor_id, cell, ne) — the
    top SEARCH_TOPK by exact cosine (DESC, ties to the smaller
    neighbor_id) among the SEARCH_NPROBE nearest cells, self excluded.

    Precondition: query ids are distinct within `batch_df`. The kernel
    path ranks each row on its own; the join path's window would pool
    rows that share an id.

    When the planner would broadcast the index anyway (`_broadcast_sized`)
    and the quantizer carries its seed rows, the index is collected to
    Arrow on every batch — the same fresh table the join reads — and
    `ann_topk_udf` probes, fetches, scores and ranks in one narrow
    stage; posexplode gives the rank. Otherwise the query side is probed
    map-side, joined to the index on the cell key and ranked by a
    row_number window: the path for an index the driver cannot hold."""
    seed_rows = getattr(cents, "_sg_seeds", None)
    if seed_rows is not None and _broadcast_sized(index_df):
        from cqu_bigdata_recommender_system_for_movies_spark.functions.nearcell import (
            ann_topk_udf,
            index_arrays,
        )

        index = index_arrays(
            index_df.select("neighbor_id", "cell", "ne").toArrow(), "neighbor_id", "ne"
        )
        id_type = index_df.schema["neighbor_id"].dataType.simpleString()
        top = ann_topk_udf(seed_rows, index, SEARCH_NPROBE, SEARCH_TOPK, id_type)
        return batch_df.select(
            F.col("vec_id").alias("query_id"),
            F.posexplode(top(F.col("vec_id"), F.col("e"))).alias("pos", "neighbor_id"),
        ).select("query_id", (F.col("pos") + 1).alias("rank"), "neighbor_id")
    if seed_rows is not None:
        from cqu_bigdata_recommender_system_for_movies_spark.functions.nearcell import (
            nearest_cells_udf,
        )

        probes = batch_df.select(
            F.col("vec_id").alias("query_id"),
            F.col("e").alias("qe"),
            F.explode(
                nearest_cells_udf(seed_rows, SEARCH_NPROBE)(F.col("e"))
            ).alias("cell"),
        )
    else:
        probes = batch_df.crossJoin(F.broadcast(cents)).select(
            F.col("vec_id").alias("query_id"),
            F.col("e").alias("qe"),
            F.explode(_nearest_cells("e", SEARCH_NPROBE)).alias("cell"),
        )
    # both norms are join-invariant: fold them once per side BELOW the
    # cell join instead of re-folding the 64-wide arrays inside the
    # per-candidate cosine (the identical doubles keep the ranking
    # bit-identical)
    probes = probes.withColumn("qn", F.sqrt(dot("qe", "qe")))
    indexed = index_df.withColumn("nn", F.sqrt(dot("ne", "ne")))
    cands = probes.join(indexed, "cell").filter(
        F.col("neighbor_id") != F.col("query_id")
    )
    score = dot("qe", "ne") / (F.col("qn") * F.col("nn") + F.lit(EPS))
    w = Window.partitionBy("query_id").orderBy(
        F.desc(score), F.asc("neighbor_id")
    )
    return (
        cands.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= SEARCH_TOPK)
        .select("query_id", "rank", "neighbor_id")
    )


@register(
    "streaming_ann_search",
    # The oracle replays the full pruned-search pipeline: quantizer =
    # the derive_ann_cells(corpus) smallest corpus vectors (the same
    # COUNT-derived sqrt width as the index family — VERDICT r14 #3,
    # via the derive_rec_cells/_rec_cells_sql twins); each corpus vector in its
    # single nearest cell; each query probing its SEARCH_NPROBE nearest
    # cells; exact cosine top-SEARCH_TOPK within the fetched candidates
    # (cos DESC, neighbor ASC; self excluded). Every row of the pruned
    # answer is exact-checked — approximation quality vs exhaustive is
    # the separately measured recall dial.
    oracle=f"""
    WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    cent AS (SELECT vec_id AS cid, e AS ce FROM base WHERE vec_id < {ANN_CELLS_SQL}),
    corpus AS (
        SELECT vec_id AS neighbor_id, e AS ne, cid AS cell FROM (
            SELECT b.vec_id, b.e, c.cid,
                   ROW_NUMBER() OVER (
                       PARTITION BY b.vec_id
                       ORDER BY list_dot_product(b.e, c.ce) /
                                (sqrt(list_dot_product(b.e, b.e)) *
                                 sqrt(list_dot_product(c.ce, c.ce)) + 1e-8) DESC,
                                c.cid
                   ) AS rn
            FROM base b CROSS JOIN cent c
        ) WHERE rn = 1
    ),
    queries AS (
        SELECT vec_id AS query_id, e AS qe FROM base
        WHERE vec_id % {QUERY_MOD} = {QUERY_REM}
    ),
    qcells AS (
        SELECT query_id, qe, cid AS cell FROM (
            SELECT q.query_id, q.qe, c.cid,
                   ROW_NUMBER() OVER (
                       PARTITION BY q.query_id
                       ORDER BY list_dot_product(q.qe, c.ce) /
                                (sqrt(list_dot_product(q.qe, q.qe)) *
                                 sqrt(list_dot_product(c.ce, c.ce)) + 1e-8) DESC,
                                c.cid
                   ) AS rn
            FROM queries q CROSS JOIN cent c
        ) WHERE rn <= {SEARCH_NPROBE}
    ),
    ranked AS (
        SELECT qc.query_id, co.neighbor_id,
               ROW_NUMBER() OVER (
                   PARTITION BY qc.query_id
                   ORDER BY list_dot_product(qc.qe, co.ne) /
                            (sqrt(list_dot_product(qc.qe, qc.qe)) *
                             sqrt(list_dot_product(co.ne, co.ne)) + 1e-8) DESC,
                            co.neighbor_id
               ) AS rank
        FROM qcells qc JOIN corpus co USING (cell)
        WHERE co.neighbor_id != qc.query_id
    )
    SELECT query_id, CAST(rank AS INTEGER) AS rank, neighbor_id
    FROM ranked WHERE rank <= {SEARCH_TOPK}
    """,
    doc="Streaming VECTOR SEARCH over the maintained ANN index (beyond-"
    "reference — the serving path closing the similarity-search loop): "
    "the cell-bucketed, vector-bearing index is built by the "
    "maintenance write path itself (apply_index_batch carrying the "
    f"embedding payload); query vectors (vec_id % {QUERY_MOD} == "
    f"{QUERY_REM}, {N_SEARCH_SLICES} staged arrival batches) are "
    f"assigned map-side to their {SEARCH_NPROBE} nearest quantizer "
    "cells and answered with an exact cosine "
    f"top-{SEARCH_TOPK} over the probed cells' candidates (one Arrow "
    "UDF over the collected index while it is broadcast-sized, a "
    "cell-key SMJ on the bucketed files past it; self-matches "
    "excluded). Returns (query_id, rank, "
    "neighbor_id); the oracle replays the full pruned pipeline, so the "
    "served answer is exact-checked row by row.",
)
def streaming_ann_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from cqu_bigdata_recommender_system_for_movies_spark.streaming.queries import (
        _snapshot_and_clean,
    )

    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("e")
    )
    n_cells = derive_ann_cells(sf_dir)
    cents = _ann_cents_relation(emb, n_cells)

    # the served index: ONE maintenance append of the full corpus with
    # the vector payload carried — the same write path the update/
    # compact/upsert/delete loops run, so search serves their artifact
    tbl = ANN_SEARCH_TABLE
    loc = os.path.join(tempfile.gettempdir(), "spark_graft_tables", tbl)
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    shutil.rmtree(loc, ignore_errors=True)
    n_buckets = min(ANN_MAX_BUCKETS, n_cells)
    apply_index_batch(
        spark,
        tbl,
        loc,
        emb,
        cents,
        0,
        n_buckets,
        carry=("e",),
        # r16: size the pre-assignment fan-out from the corpus footers
        fold_parts=derive_fold_parts(spark, table_row_count(sf_dir, "embeddings")),
    )
    index_df = spark.table(tbl).select(
        F.col("vec_id").alias("neighbor_id"), "cell", F.col("e").alias("ne")
    )

    # stage the query stream: 2%-of-corpus query vectors in
    # N_SEARCH_SLICES sequential arrival files
    queries = emb.filter(F.pmod("vec_id", F.lit(QUERY_MOD)) == QUERY_REM)
    stage_dir = tempfile.mkdtemp(prefix="spark_graft_ann_query_stage_")
    shutil.rmtree(stage_dir, ignore_errors=True)
    os.makedirs(stage_dir, exist_ok=True)
    for s in range(N_SEARCH_SLICES):
        (
            queries.filter(
                F.pmod((F.col("vec_id") / QUERY_MOD).cast("long"), F.lit(N_SEARCH_SLICES))
                == s
            )
            .coalesce(1)
            .write.mode("append")
            .parquet(stage_dir)
        )
    stream = (
        spark.readStream.schema("vec_id long, e array<double>")
        .option("maxFilesPerTrigger", 1)
        .parquet(stage_dir)
    )

    out_dir = tempfile.mkdtemp(prefix="spark_graft_ann_search_out_")
    shutil.rmtree(out_dir, ignore_errors=True)

    def emit(batch_df: DataFrame, batch_id: int) -> None:
        (
            score_query_batch(batch_df, cents, index_df)
            .write.mode("append")
            .parquet(out_dir)
        )

    q = (
        stream.writeStream.foreachBatch(emit)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination()
    finally:
        q.stop()

    snap = _snapshot_and_clean(spark.read.parquet(out_dir), out_dir)
    shutil.rmtree(stage_dir, ignore_errors=True)
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    shutil.rmtree(loc, ignore_errors=True)
    return snap
