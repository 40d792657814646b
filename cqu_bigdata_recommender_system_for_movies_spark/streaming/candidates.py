"""Candidate-generation pruning for the real-time recommender.

The reference's streaming loop (streaming_rec.py:106-126) scores every
updated user against every item profile. `streaming_recommend_candidates`
cuts that to the items of each user's REC_NPROBE nearest quantizer cells.
The quantizer is driver-resident data (a `Flat` value over the
derive_rec_cells(catalog) smallest item_refs, functions/nearcell.py)
that travels in the assignment and probe UDFs' closures. Each batch is
ranked by the shared `cell_topk` (operators/vectors.py) on 6-dp rounded
scores. The catalog size picks its index once, at build: collected
arrays under REC_BROADCAST_MAX_ITEMS, a cell-bucketed table past it. The
DuckDB oracle replays fold, quantizer and pruned scoring, so the engine
must prune to exactly the oracle's cells.
"""

from __future__ import annotations

import math
import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cqu_bigdata_recommender_system_for_movies_spark.functions.nearcell import (
    Flat,
    IndexArrays,
    cell_udf,
    seed_quantizer,
)
from cqu_bigdata_recommender_system_for_movies_spark.operators.vectors import (
    cell_topk,
    collect_index,
    dot,
)
from cqu_bigdata_recommender_system_for_movies_spark.plans.registry import register
from cqu_bigdata_recommender_system_for_movies_spark.streaming.interest import (
    interest_fold_stream,
)
from cqu_bigdata_recommender_system_for_movies_spark.streaming.queries import (
    _events_stream,
    _stream_state_partitions,
    emissions,
    item_profiles,
)

# Quantizer width floor: below this the cell join degenerates toward the
# full cross join and the index isn't paying for itself.
REC_CELLS_MIN = 8
# Multiprobe width — the pruning family's cost/recall dial. The measured
# curve at the derived sqrt-catalog quantizer width
# (tools/probe_candidates_recall.py, 10k-item catalog, distinct interest
# vectors): nprobe 1/2/4 keeps 42/65/84% of the exhaustive top-10 at
# ~58/37/23x less scoring work. 2 is the shipped cost/recall point: the
# first probe past the assigned cell buys the largest marginal recall
# (+23 points for ~1.6x the scoring of nprobe 1, still ~37x under
# exhaustive), and the 0.30 recall@10 floor pinned in
# tests/test_streaming_extras.py (test_candidate_pruning_recall_floor)
# fails loudly if a degenerated quantizer ever drops below the band. The
# registered query AND its oracle SQL (an f-string over this constant)
# bake the SAME width.
REC_NPROBE = 2


def _rec_cells_sql(count_expr: str) -> str:
    """SQL twin of derive_rec_cells (the _n_planes_sql discipline:
    fixed-cardinality knobs are scale bombs; both engines derive the
    width from the SAME catalog COUNT so the approximation stays
    exact-checked at every sf). ceil(log2(n)/2) is
    the exact-integer form of "next power of two >= sqrt(n)":
    2^k >= sqrt(n) <=> k >= log2(n)/2."""
    return (
        f"GREATEST({REC_CELLS_MIN}, CAST(POWER(2, "
        f"CEIL(LOG2(CAST(GREATEST({count_expr}, 2) AS DOUBLE)) / 2)) AS BIGINT))"
    )


def derive_rec_cells(catalog_size: int) -> int:
    """Quantizer width = next power of two >= sqrt(catalog), floored at
    REC_CELLS_MIN. sqrt(catalog) is the balanced IVF width: per-user
    candidate work is ~ REC_NPROBE * catalog / cells, so cells ~
    sqrt(catalog) makes it ~ REC_NPROBE * sqrt(catalog) — the O(sqrt)
    class SCALE_r12's catalog-axis probe measured. Must stay the exact
    twin of _rec_cells_sql."""
    return max(
        REC_CELLS_MIN, 1 << math.ceil(math.log2(float(max(catalog_size, 2))) / 2)
    )


# Ceiling for the collected candidate index: at ~100 B/row (item_ref +
# 5-double profile + cell) 65536 items is ~6.5 MB, inside Spark's default
# 10 MB autoBroadcastJoinThreshold with headroom, so the arrays travel in
# the scoring UDF's closure as a broadcast table would. Beyond it the index
# persists as a cell-BUCKETED parquet table (the io_sinks co-located-join
# recipe): bucketed on the join key ONCE at build time, so every
# micro-batch's cell join reads the catalog side pre-partitioned — no
# per-batch exchange of the (growing) catalog; only the batch's own
# probe-side users shuffle onto the bucket layout. (A checkpointed
# repartition was measured NOT to survive into the LogicalRDD's
# outputPartitioning — the dim re-exchanged every batch — which is why
# the bucketed table, not a checkpoint, is the big-catalog shape.)
REC_BROADCAST_MAX_ITEMS = 65536
# Bucket width for the persisted index: bounded by the cell count (one
# key per cell) and capped — at 1M items the derived 1024 cells land on
# the 256 cap, ~4 cells/bucket. A real cluster deploy sizes this to its
# executor count the way io_sinks.N_BUCKETS documents.
REC_INDEX_MAX_BUCKETS = 256
CANDIDATE_INDEX_TABLE = "spark_graft_candidate_index"


def build_candidate_index(
    profiles: DataFrame, n_cells: int | None = None
) -> tuple[Flat, IndexArrays | DataFrame, int]:
    """(cents, item_dim, n_items): the full offline half of the candidate
    index. One catalog COUNT sizes the quantizer width (derive_rec_cells,
    unless pinned) and picks the serving regime. While the catalog fits
    REC_BROADCAST_MAX_ITEMS, ``item_dim`` is the index collected once to
    the driver (`IndexArrays`). Beyond it, a cell-bucketed parquet table
    in `cell_topk`'s index shape (id = item_ref, cell, vec = profile,
    norm): a persistent artifact rebuilt per catalog refresh, reused
    across every micro-batch and overwritten in place on rebuild. Each
    item's norm folds once into the table, so the join path's per-pair
    cosine is one fold instead of three (same doubles, bit-identical
    scores)."""
    spark = profiles.sparkSession
    n_items = profiles.count()
    if n_cells is None:
        n_cells = derive_rec_cells(n_items)
    cents = seed_quantizer(profiles, "item_ref", "profile", n_cells)
    index = item_cell_assignments(profiles, cents)
    if n_items <= REC_BROADCAST_MAX_ITEMS:
        return cents, collect_index(index, "item_ref", "profile"), n_items
    n_buckets = min(REC_INDEX_MAX_BUCKETS, n_cells)
    loc = os.path.join(
        tempfile.gettempdir(), "spark_graft_tables", CANDIDATE_INDEX_TABLE
    )
    (
        index.select(
            F.col("item_ref").alias("id"),
            "cell",
            F.col("profile").alias("vec"),
            F.sqrt(dot("profile", "profile")).alias("norm"),
        )
        .write.mode("overwrite")
        .option("path", loc)
        .bucketBy(n_buckets, "cell")
        .sortBy("cell")
        .format("parquet")
        .saveAsTable(CANDIDATE_INDEX_TABLE)
    )
    return cents, spark.table(CANDIDATE_INDEX_TABLE), n_items


def score_candidates_batch(
    batch_df: DataFrame,
    cents: Flat,
    item_dim: IndexArrays | DataFrame,
    k: int = 10,
) -> DataFrame:
    """One micro-batch of the pruned scoring pipeline: (user_id, rnk,
    item_ref, score), the top-k of each user's REC_NPROBE nearest cells
    by 6-dp rounded cosine (score DESC, item_ref ASC), the interest
    vector rounded to 6 dp before both probe and score. Shared verbatim
    by the registered query and the scale probe so the measured plan IS
    the shipped plan.

    Precondition: one row per user_id in `batch_df` (the update-mode
    interest fold emits exactly that).

    ``item_dim`` is `build_candidate_index`'s, passed to `cell_topk` as
    is: collected arrays serve the batch in one narrow stage, the
    bucketed table through the cell-key join."""
    return cell_topk(
        batch_df,
        cents,
        item_dim,
        REC_NPROBE,
        k,
        rounded=True,
        exclude_self=False,
        qid="user_id",
        vec=F.expr("transform(interest, x -> round(x, 6))"),
        out=("user_id", "rnk", "item_ref", "score"),
    )


def item_cell_assignments(
    profiles: DataFrame,
    cents: Flat | None = None,
    n_cells: int | None = None,
) -> DataFrame:
    """(item_ref, profile, cell): each catalog item's single nearest
    quantizer cell — the offline half of the candidate index, computed
    once per (re)build, not per batch. Pass a prebuilt `cents` to reuse
    one seed collect across the index build and the per-batch user
    assignment; `n_cells` pins the width explicitly (plan tests, probes)
    — default derives it from the catalog COUNT."""
    if cents is None:
        if n_cells is None:
            n_cells = derive_rec_cells(profiles.count())
        cents = seed_quantizer(profiles, "item_ref", "profile", n_cells)
    return profiles.select(
        "item_ref", "profile", cell_udf(cents)(F.col("profile")).alias("cell")
    )


@register(
    "streaming_recommend_candidates",
    # Same determinism argument as streaming_recommend_emit: each user's
    # LAST batch emission carries their full-fold interest vector, so the
    # batch twin — fold, round, quantize, cell-pruned cosine, top-10 —
    # IS the oracle. The quantizer is replayed exactly: seed profiles,
    # left-fold dots, sqrt norms, cos DESC / cid ASC ranking; the engine
    # must select precisely the oracle's cells or rows hash-mismatch.
    oracle=f"""
    WITH per_user AS (
        SELECT user_id,
               list(
                   [value / 50.0,
                    CAST(list_position(
                        ['click', 'error', 'purchase', 'signup', 'view'],
                        event_type) - 1 AS DOUBLE)]
                   ORDER BY ts, event_id) AS evs
        FROM events GROUP BY user_id
    ),
    folded AS (
        SELECT user_id,
               list_transform(
                   list_reduce(
                       list_prepend([0.0, 0.0, 0.0, 0.0, 0.0], evs),
                       (acc, x) -> list_transform([1, 2, 3, 4, 5],
                           i -> acc[i] * (1 - 0.05 * x[1])
                                + CASE WHEN x[2] = i - 1
                                       THEN 0.05 * x[1] ELSE 0.0 END)),
                   v -> ROUND(v, 6)) AS interest
        FROM per_user
    ),
    profiles AS (
        SELECT item_ref,
               [SUM(CASE WHEN event_type = 'click' THEN 1.0 ELSE 0.0 END) / COUNT(*),
                SUM(CASE WHEN event_type = 'error' THEN 1.0 ELSE 0.0 END) / COUNT(*),
                SUM(CASE WHEN event_type = 'purchase' THEN 1.0 ELSE 0.0 END) / COUNT(*),
                SUM(CASE WHEN event_type = 'signup' THEN 1.0 ELSE 0.0 END) / COUNT(*),
                SUM(CASE WHEN event_type = 'view' THEN 1.0 ELSE 0.0 END) / COUNT(*)
               ] AS profile
        FROM (SELECT CAST(json_extract_string(props, '$.k') AS INTEGER)
                         AS item_ref,
                     event_type
              FROM events)
        WHERE item_ref IS NOT NULL
        GROUP BY item_ref
    ),
    width AS (
        SELECT {_rec_cells_sql("COUNT(*)")} AS w FROM profiles
    ),
    cent AS (
        SELECT item_ref AS cid, profile AS ce,
               sqrt(list_reduce(
                   list_prepend(0.0, list_transform(profile, x -> x * x)),
                   (acc, x) -> acc + x)) AS nc
        FROM profiles WHERE item_ref < (SELECT w FROM width)
    ),
    item_cells AS (
        SELECT item_ref, profile, cid AS cell FROM (
            SELECT p.item_ref, p.profile, c.cid,
                   ROW_NUMBER() OVER (
                       PARTITION BY p.item_ref
                       ORDER BY
                           list_reduce(list_prepend(0.0,
                               list_transform([1,2,3,4,5],
                                   i -> p.profile[i] * c.ce[i])),
                               (acc, x) -> acc + x)
                           / (sqrt(list_reduce(list_prepend(0.0,
                                  list_transform(p.profile, x -> x * x)),
                                  (acc, x) -> acc + x)) * c.nc + 1e-8)
                           DESC, c.cid
                   ) AS rn
            FROM profiles p CROSS JOIN cent c
        ) WHERE rn = 1
    ),
    user_cells AS (
        SELECT user_id, interest, cid AS cell FROM (
            SELECT f.user_id, f.interest, c.cid,
                   ROW_NUMBER() OVER (
                       PARTITION BY f.user_id
                       ORDER BY
                           list_reduce(list_prepend(0.0,
                               list_transform([1,2,3,4,5],
                                   i -> f.interest[i] * c.ce[i])),
                               (acc, x) -> acc + x)
                           / (sqrt(list_reduce(list_prepend(0.0,
                                  list_transform(f.interest, x -> x * x)),
                                  (acc, x) -> acc + x)) * c.nc + 1e-8)
                           DESC, c.cid
                   ) AS rn
            FROM folded f CROSS JOIN cent c
        ) WHERE rn <= {REC_NPROBE}
    ),
    scored AS (
        SELECT u.user_id, i.item_ref,
               ROUND(
                 list_reduce(list_prepend(0.0,
                     list_transform([1,2,3,4,5],
                         j -> u.interest[j] * i.profile[j])),
                     (acc, x) -> acc + x)
                 / (sqrt(list_reduce(list_prepend(0.0,
                        list_transform([1,2,3,4,5],
                            j -> u.interest[j] * u.interest[j])),
                        (acc, x) -> acc + x))
                    * sqrt(list_reduce(list_prepend(0.0,
                        list_transform([1,2,3,4,5],
                            j -> i.profile[j] * i.profile[j])),
                        (acc, x) -> acc + x))
                    + 1e-8), 6) AS score
        FROM user_cells u JOIN item_cells i ON u.cell = i.cell
    ),
    ranked AS (
        SELECT user_id, item_ref, score,
               CAST(ROW_NUMBER() OVER (
                   PARTITION BY user_id ORDER BY score DESC, item_ref ASC
               ) AS INTEGER) AS rnk
        FROM scored
    )
    SELECT user_id, item_ref, rnk, score FROM ranked WHERE rnk <= 10
    """,
    doc="ST6 + M8 with candidate-generation pruning: per micro-batch, "
    "the stateful interest fold emits updated user vectors; each is "
    f"assigned map-side to its {REC_NPROBE} nearest quantizer cells "
    "(the driver-held seed quantizer in the probe UDF's closure), "
    "scored by cosine ONLY against the catalog items assigned "
    "to those cells and ranked by the shared cell_topk (one Arrow UDF "
    "over the collected index while the catalog is broadcast-sized, a "
    "cell-key join past it), top-10 per user, "
    "appended to a recommendations table. Quantizer width = next power "
    "of two >= sqrt(catalog), derived from the catalog COUNT identically "
    "on both engines (derive_rec_cells / _rec_cells_sql), so per-batch "
    f"scoring work is users x ~({REC_NPROBE} x sqrt(catalog)) instead of "
    "the full loop's users x catalog. Returns the final recommendations (latest "
    "batch per user); the oracle replays fold + quantizer + pruned "
    "scoring exactly.",
)
def streaming_recommend_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The candidate index is built ONCE (foreachBatch re-evaluates every
    # closed-over DataFrame per micro-batch without the checkpoint —
    # same pin as streaming_recommend_emit's profile dim). The index
    # build also picks the regime: collected arrays under
    # REC_BROADCAST_MAX_ITEMS, cell-bucketed table beyond.
    profiles = item_profiles(spark, sf_dir).localCheckpoint(eager=True)
    cents, item_dim, _ = build_candidate_index(profiles)

    # score_candidates_batch rounds BEFORE both quantizing and scoring:
    # the oracle's fold -> round -> (assign, cosine) pipeline runs on
    # identical doubles.
    folded = interest_fold_stream(_events_stream(spark, sf_dir))
    with _stream_state_partitions(spark, source_path=f"{sf_dir}/events.parquet"):
        recs = emissions(
            folded,
            lambda batch: score_candidates_batch(batch, cents, item_dim),
            "update",
            latest_by="user_id",
        )
    return recs.select("user_id", "item_ref", "rnk", "score")
