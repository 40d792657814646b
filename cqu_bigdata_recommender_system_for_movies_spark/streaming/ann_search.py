"""Vector search over the maintained ANN index: the serving side of
streaming/ann_index.py.

The quantizer is driver-resident data (a `Flat` or `TwoLevel` value,
functions/nearcell.py) that travels in the probe UDF's closure. A batch
of query vectors probes its SEARCH_NPROBE nearest cells and takes the
exact-cosine top-SEARCH_TOPK of those cells' index rows (cos DESC,
neighbor_id ASC, self excluded) through the shared `cell_topk`
(operators/vectors.py). The index's size, re-checked on every batch,
picks the regime: while the planner would broadcast it, it is served
from collected arrays in one narrow stage; past that size the probed
queries join the bucketed index on the cell key. Collected arrays of a
served table are kept per file list (`serving_index`): batches over an
unchanged table skip the collect, and a write to it collects afresh.
The DuckDB oracles replay the whole pruned pipeline, so every served row
is exact-checked.
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cqu_bigdata_recommender_system_for_movies_spark.functions.nearcell import (
    Flat,
    TwoLevel,
)
from cqu_bigdata_recommender_system_for_movies_spark.operators.vectors import (
    cell_topk,
    forget_serving_index,
    serving_index,
    shuffle_partitions,
)
from cqu_bigdata_recommender_system_for_movies_spark.plans.registry import register
from cqu_bigdata_recommender_system_for_movies_spark.streaming.ann_index import (
    ANN_CELLS_SQL,
    ANN_GROUP_PROBE,
    ANN_GROUP_SQL,
    ANN_MAX_BUCKETS,
    QUERY_MOD,
    QUERY_REM,
    SEARCH_NPROBE,
    SEARCH_TOPK,
    _ann_cents_relation,
    _vectors,
    apply_index_batch,
    assign_batch,
    derive_ann_cells,
    derive_fold_parts,
    two_level_quantizer,
)
from cqu_bigdata_recommender_system_for_movies_spark.streaming.queries import (
    emissions,
    replay,
    stage_slices,
)
from cqu_bigdata_recommender_system_for_movies_spark.tables import table_row_count

ANN_SEARCH_TABLE = "spark_graft_ann_search_index"
# SEARCH_NPROBE / SEARCH_TOPK / QUERY_MOD / QUERY_REM live in
# streaming/ann_index.py and are re-exported here.
N_SEARCH_SLICES = 2  # staged query-arrival batches


def score_query_batch(
    batch_df: DataFrame, cents: Flat | TwoLevel, index_df: DataFrame
) -> DataFrame:
    """(query_id, rank, neighbor_id): one micro-batch of query vectors
    (vec_id, e) answered from the index (neighbor_id, cell, ne) — the
    top SEARCH_TOPK by exact cosine (DESC, ties to the smaller
    neighbor_id) among the SEARCH_NPROBE nearest cells of ``cents``,
    self excluded.

    Precondition: query ids are distinct within `batch_df`.

    The regime follows `serving_index`: an index the planner would
    broadcast (its size re-checked on every batch) is served in one
    narrow stage from collected arrays, kept per file list when the
    index is a plain projection of a table's files and collected on
    every batch otherwise; a bigger one is joined on the cell key."""
    return cell_topk(
        batch_df,
        cents,
        serving_index(index_df, "neighbor_id", "ne"),
        SEARCH_NPROBE,
        SEARCH_TOPK,
        rounded=False,
        exclude_self=True,
        qid="vec_id",
        vec="e",
        out=("query_id", "rank", "neighbor_id", None),
    )


@register(
    "streaming_ann_search",
    # The oracle replays the full pruned-search pipeline: quantizer =
    # the derive_ann_cells(corpus) smallest corpus vectors (the same
    # COUNT-derived sqrt width as the index family, via the
    # derive_rec_cells/_rec_cells_sql twins); each corpus vector in its
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
    f"top-{SEARCH_TOPK} over the probed cells' candidates, ranked by the "
    "shared cell_topk (one Arrow UDF over the collected index while it "
    "is broadcast-sized, a cell-key SMJ on the bucketed files past it; "
    "self-matches excluded). Returns (query_id, rank, "
    "neighbor_id); the oracle replays the full pruned pipeline, so the "
    "served answer is exact-checked row by row.",
)
def streaming_ann_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _vectors(spark, sf_dir)
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
        # size the pre-assignment fan-out from the corpus footers
        fold_parts=derive_fold_parts(spark, table_row_count(sf_dir, "embeddings")),
    )
    index_df = spark.table(tbl).select(
        F.col("vec_id").alias("neighbor_id"), "cell", F.col("e").alias("ne")
    )

    # the query stream: 2%-of-corpus query vectors in N_SEARCH_SLICES
    # staged arrival slices
    queries = emb.filter(F.pmod("vec_id", F.lit(QUERY_MOD)) == QUERY_REM).withColumn(
        "slice", F.pmod((F.col("vec_id") / QUERY_MOD).cast("long"), F.lit(N_SEARCH_SLICES))
    )
    stage_dir = tempfile.mkdtemp(prefix="spark_graft_ann_query_stage_")
    try:
        stage_slices(queries, "slice", N_SEARCH_SLICES, stage_dir)
        stream = replay(spark, stage_dir, queries.schema).drop("slice")
        return emissions(
            stream, lambda batch: score_query_batch(batch, cents, index_df), "append"
        )
    finally:
        # the kept index arrays must not outlive the table they came from
        forget_serving_index(index_df)
        shutil.rmtree(stage_dir, ignore_errors=True)
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")
        shutil.rmtree(loc, ignore_errors=True)


@register(
    "ann_two_level_search",
    # The serving side of the hierarchical quantizer, exact-checked end
    # to end: the oracle replays the corpus grouping + assignment (the
    # ann_two_level_assign pipeline), the QUERY side's hierarchical
    # probe (top-ANN_GROUP_PROBE reps, then top-SEARCH_NPROBE cells
    # within the probed groups — cos DESC, cid ASC across their union,
    # the TwoLevel.topk order), the cell-key candidate fetch,
    # and the exact cosine top-k (cos DESC, neighbor ASC; self
    # excluded). Integer ranks ride the hash; no float columns.
    oracle=f"""
    WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    width AS (SELECT {ANN_CELLS_SQL} AS n),
    gw AS (SELECT {ANN_GROUP_SQL} AS g),
    cent AS (
        SELECT vec_id AS cid, e AS ce FROM base
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
    corpus_l1 AS (
        SELECT vec_id, rid AS gid FROM (
            SELECT b.vec_id, r.rid,
                   ROW_NUMBER() OVER (
                       PARTITION BY b.vec_id
                       ORDER BY list_dot_product(b.e, r.re) /
                                (sqrt(list_dot_product(b.e, b.e)) *
                                 sqrt(list_dot_product(r.re, r.re)) + 1e-8) DESC,
                                r.rid
                   ) AS rn
            FROM base b CROSS JOIN reps r
        ) WHERE rn <= {ANN_GROUP_PROBE}
    ),
    corpus AS (
        SELECT vec_id AS neighbor_id, ne, cell FROM (
            SELECT b.vec_id, b.e AS ne, c.cid AS cell,
                   ROW_NUMBER() OVER (
                       PARTITION BY b.vec_id
                       ORDER BY list_dot_product(b.e, c.ce) /
                                (sqrt(list_dot_product(b.e, b.e)) *
                                 sqrt(list_dot_product(c.ce, c.ce)) + 1e-8) DESC,
                                c.cid
                   ) AS rn
            FROM corpus_l1 w
            JOIN base b ON b.vec_id = w.vec_id
            JOIN grouped c ON c.gid = w.gid
        ) WHERE rn = 1
    ),
    queries AS (
        SELECT vec_id AS query_id, e AS qe FROM base
        WHERE vec_id % {QUERY_MOD} = {QUERY_REM}
    ),
    query_l1 AS (
        SELECT query_id, qe, rid AS gid FROM (
            SELECT q.query_id, q.qe, r.rid,
                   ROW_NUMBER() OVER (
                       PARTITION BY q.query_id
                       ORDER BY list_dot_product(q.qe, r.re) /
                                (sqrt(list_dot_product(q.qe, q.qe)) *
                                 sqrt(list_dot_product(r.re, r.re)) + 1e-8) DESC,
                                r.rid
                   ) AS rn
            FROM queries q CROSS JOIN reps r
        ) WHERE rn <= {ANN_GROUP_PROBE}
    ),
    qcells AS (
        SELECT query_id, qe, cid AS cell FROM (
            SELECT w.query_id, w.qe, c.cid,
                   ROW_NUMBER() OVER (
                       PARTITION BY w.query_id
                       ORDER BY list_dot_product(w.qe, c.ce) /
                                (sqrt(list_dot_product(w.qe, w.qe)) *
                                 sqrt(list_dot_product(c.ce, c.ce)) + 1e-8) DESC,
                                c.cid
                   ) AS rn
            FROM query_l1 w
            JOIN grouped c ON c.gid = w.gid
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
    doc="Hierarchical vector SEARCH through the two-level quantizer "
    "(beyond-reference — the serving side of ann_two_level_assign, "
    "exact-checked): the corpus is assigned hierarchically "
    "(vector-bearing IVF layout), each query probes its top-"
    f"{ANN_GROUP_PROBE} level-1 groups and then its top query-nprobe "
    "cells inside them, and the shared cell_topk ranks the candidates "
    "(scored from the collected index while it is broadcast-sized, a "
    "cell-key join past it) into an exact cosine top-k (self-matches "
    "excluded); the "
    "oracle replays "
    "grouping, both per-side selection levels, the fetch, and the "
    "ranking, so the served hierarchical answer is hash-checked row "
    "by row.",
)
def ann_two_level_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _vectors(spark, sf_dir)
    quant = two_level_quantizer(emb, derive_ann_cells(sf_dir))
    corpus = assign_batch(
        emb.repartition(shuffle_partitions(spark)), quant, carry=("e",)
    ).select(F.col("vec_id").alias("neighbor_id"), "cell", F.col("e").alias("ne"))
    queries = emb.filter(F.pmod("vec_id", F.lit(QUERY_MOD)) == QUERY_REM)
    return score_query_batch(queries, quant, corpus)
