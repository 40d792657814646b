"""Graph analytics over the user-item interaction graph: fixed-iteration
PageRank and deterministic random-walk (DeepWalk-style) corpus generation.

The reference models users/movies as a property graph and its ML stack
(LightGCN, SURVEY.md §2.10) consumes graph-structure signals; these
operators provide the two graph primitives a Spark-native rebuild needs:
a damped importance score (PageRank over the bipartite rating graph) and
walk-based (center, context) training positives — the input corpus for
skip-gram / node2vec embedding training at 100 TB.

Both are expressed as iterative DataFrame joins against a materialized
edge list — per iteration exactly one shuffle per direction, keyed on
the node id, with map-side partial aggregation folding neighbor
contributions before the exchange. Iteration count is FIXED (3), which
is what makes the computation ANSI-SQL-expressible: the DuckDB oracles
unroll the same recurrence as chained CTEs, so both queries are
hash-checked, not rows-only. The same code path extends to
convergence-driven loops the way operators/dedup.py's connected
components does (re-plan per iteration + localCheckpoint to truncate
lineage).
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cqu_bigdata_recommender_system_for_movies_spark.plans.registry import register
from cqu_bigdata_recommender_system_for_movies_spark.tables import (
    RATINGS_SQL,
    md5_long,
    ratings,
)

DAMPING = 0.85
TELEPORT = 0.15  # (1 - DAMPING), classic unnormalized formulation
PR_ITERATIONS = 3

_EDGES_SQL = f"""
    WITH r AS ({RATINGS_SQL}),
    edges AS (SELECT DISTINCT user_id AS u, item_id AS i FROM r)
"""


def _edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct (user u, item i) edge list, materialized once: every
    iteration probes it from both directions, so without the checkpoint
    the distinct (and the ratings join under it) would re-run per
    iteration — at scale this is the persisted edge table every graph
    job starts from.

    SERIALIZED storage (r11 100x probe finding): the default
    deserialized localCheckpoint holds one UnsafeRow OBJECT per edge —
    ~60-70 B of heap + GC pressure for a 16-byte payload — and at the
    100x replica (60M ratings) that plus AQE's broadcast score tables
    pushed ppr_seeded_items over the shared 8g local heap.
    MEMORY_AND_DISK (PySpark's serialized level; _DESER is the
    object form) packs the same rows into block-sized byte
    buffers (~3x smaller, near-zero GC scan cost) and spills under
    pressure; with it the whole graph family runs the 100x replica in
    the default harness heap."""
    return (
        ratings(spark, sf_dir)
        .select(F.col("user_id").alias("u"), F.col("item_id").alias("i"))
        .distinct()
        .localCheckpoint(eager=False, storageLevel=StorageLevel.MEMORY_AND_DISK)
    )


@register(
    "pagerank_bipartite",
    oracle=f"""
    {_EDGES_SQL},
    du AS (SELECT u, COUNT(*) AS d FROM edges GROUP BY u),
    di AS (SELECT i, COUNT(*) AS d FROM edges GROUP BY i),
    -- iteration 1: every node starts at pr=1, so contributions are 1/deg
    pi1 AS (SELECT e.i AS i, {TELEPORT} + {DAMPING} * SUM(1.0 / du.d) AS pr
            FROM edges e JOIN du ON e.u = du.u GROUP BY e.i),
    -- iteration 2 (user side, fed by item scores of iteration 1)
    pu2 AS (SELECT e.u AS u, {TELEPORT} + {DAMPING} * SUM(pi1.pr / di.d) AS pr
            FROM edges e JOIN pi1 ON e.i = pi1.i JOIN di ON e.i = di.i
            GROUP BY e.u),
    -- iteration 3 (item side, fed by user scores of iteration 2)
    pi3 AS (SELECT e.i AS i, {TELEPORT} + {DAMPING} * SUM(pu2.pr / du.d) AS pr
            FROM edges e JOIN pu2 ON e.u = pu2.u JOIN du ON e.u = du.u
            GROUP BY e.i)
    SELECT i AS item_id, ROUND(pr, 6) AS pagerank FROM pi3
    """,
    doc="PageRank over the bipartite user-item rating graph, 3 damped "
    "Jacobi iterations (d=0.85, unnormalized teleport 0.15): each "
    "half-iteration joins the edge list with the opposite side's "
    "scores and SUM-aggregates neighbor contributions — one shuffle "
    "keyed on the receiving node, with partial sums folded map-side, "
    "so the exchange carries one partial per (partition, node), not "
    "one row per edge. Degree tables divide contributions at the "
    "sending side. The edge list is checkpointed once and reused by "
    "all iterations. Scores rounded to 6dp (double accumulation order "
    "differs across engines).",
)
def pagerank_bipartite(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = _edges(spark, sf_dir)
    du = edges.groupBy("u").agg(F.count("*").alias("du"))
    di = edges.groupBy("i").agg(F.count("*").alias("di"))

    # iteration 1, item side: pr_u0 = 1 → contribution 1/d_u
    pi = (
        edges.join(du, "u")
        .groupBy("i")
        .agg((F.lit(TELEPORT) + F.lit(DAMPING) * F.sum(F.lit(1.0) / F.col("du"))).alias("pr"))
    )
    # iteration 2, user side: weight item scores by 1/d_i
    qi = pi.join(di, "i").select("i", (F.col("pr") / F.col("di")).alias("w"))
    pu = (
        edges.join(qi, "i")
        .groupBy("u")
        .agg((F.lit(TELEPORT) + F.lit(DAMPING) * F.sum("w")).alias("pr"))
    )
    # iteration 3, item side: weight user scores by 1/d_u
    qu = pu.join(du, "u").select("u", (F.col("pr") / F.col("du")).alias("w"))
    pi3 = (
        edges.join(qu, "u")
        .groupBy("i")
        .agg((F.lit(TELEPORT) + F.lit(DAMPING) * F.sum("w")).alias("pr"))
    )
    return pi3.select(F.col("i").alias("item_id"), F.round("pr", 6).alias("pagerank"))


def _pick(neighbor: str, start: str, step: int):
    """Deterministic neighbor choice: the md5-minimal neighbor for this
    (walker, step). A keyed hash — not RAND() — so the walk is replayable
    across engines, retries, and partitionings; vary the corpus by
    salting the start column upstream."""
    return F.min_by(
        neighbor, F.md5(F.concat_ws("|", F.col(start), F.lit(step), F.col(neighbor)))
    )


@register(
    "random_walk_training_paths",
    oracle=f"""
    {_EDGES_SQL},
    s1 AS (SELECT u AS start_user,
                  arg_min(i, md5(concat_ws('|', u, 1, i))) AS item_step1
           FROM edges GROUP BY u),
    s2 AS (SELECT s1.start_user, s1.item_step1,
                  arg_min(e.u, md5(concat_ws('|', s1.start_user, 2, e.u))) AS user_step2
           FROM s1 JOIN edges e ON e.i = s1.item_step1
           GROUP BY s1.start_user, s1.item_step1),
    s3 AS (SELECT s2.start_user, s2.item_step1, s2.user_step2,
                  arg_min(e.i, md5(concat_ws('|', s2.start_user, 3, e.i))) AS item_step3
           FROM s2 JOIN edges e ON e.u = s2.user_step2
           GROUP BY s2.start_user, s2.item_step1, s2.user_step2)
    SELECT start_user, item_step1, user_step2, item_step3 FROM s3
    """,
    doc="DeepWalk-style training-corpus generation: one 3-hop walk "
    "(user→item→user→item) per user, each hop choosing the md5-minimal "
    "neighbor keyed by (walker, step) — deterministic, so the emitted "
    "paths are reproducible training data rather than engine-dependent "
    "RNG draws (multiple walks per node = salt the walker id). Each "
    "hop is one edge-list join on the current node plus a min_by "
    "aggregate per walker; min_by combines map-side, and walker "
    "fan-out is bounded at one row per start node, so hot items "
    "inflate the probe side only — the AQE skew-join case. The "
    "(center, context) pairs for skip-gram training are column slices "
    "of these paths.",
)
def random_walk_training_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = _edges(spark, sf_dir)
    s1 = edges.groupBy(F.col("u").alias("start_user")).agg(
        _pick("i", "u", 1).alias("item_step1")
    )
    s2 = (
        s1.join(edges, s1.item_step1 == edges.i)
        .groupBy("start_user", "item_step1")
        .agg(_pick("u", "start_user", 2).alias("user_step2"))
    )
    s3 = (
        s2.join(edges, s2.user_step2 == edges.u)
        .groupBy("start_user", "item_step1", "user_step2")
        .agg(_pick("i", "start_user", 3).alias("item_step3"))
    )
    return s3.select("start_user", "item_step1", "user_step2", "item_step3")


LPA_SEED_LABELS = 16
# 0..15 from the first hex digit of the node's md5 — identical in both
# engines, and coarse enough that neighbor-label FREQUENCIES are
# meaningful from iteration 1 (unique-per-node seeds would degenerate
# LPA into min-label propagation, i.e. connected components, which
# operators/dedup.py already provides).
_SEED_SQL = "strpos('0123456789abcdef', substr(md5({node}), 1, 1)) - 1"
_SEED_SPARK = "locate(substr(md5({node}), 1, 1), '0123456789abcdef') - 1"


def _mode_label(df: DataFrame, key: str, label: str = "label") -> DataFrame:
    """Most-frequent neighbor label per node, ties to the smallest label —
    two-level aggregation (count per (node, label), then min_by over the
    negated count) so partials combine map-side on both shuffles; the
    window-free shape survives hot nodes."""
    counted = df.groupBy(key, label).agg(F.count("*").alias("cnt"))
    return counted.groupBy(key).agg(
        F.min_by(label, F.struct((-F.col("cnt")).alias("neg"), F.col(label))).alias(
            "label"
        )
    )


@register(
    "lpa_communities",
    oracle=f"""
    {_EDGES_SQL},
    li0 AS (SELECT i, {_SEED_SQL.format(node="'i' || CAST(i AS VARCHAR)")} AS label
            FROM (SELECT DISTINCT i FROM edges)),
    -- iteration 1, user side: adopt the modal label of rated items
    cu1 AS (SELECT e.u, li0.label, COUNT(*) AS cnt
            FROM edges e JOIN li0 ON e.i = li0.i GROUP BY e.u, li0.label),
    lu1 AS (SELECT u, label FROM (
                SELECT u, label,
                       ROW_NUMBER() OVER (PARTITION BY u
                                          ORDER BY cnt DESC, label) AS rn
                FROM cu1) WHERE rn = 1),
    -- iteration 2, item side: adopt the modal label of raters
    ci2 AS (SELECT e.i, lu1.label, COUNT(*) AS cnt
            FROM edges e JOIN lu1 ON e.u = lu1.u GROUP BY e.i, lu1.label),
    li2 AS (SELECT i, label FROM (
                SELECT i, label,
                       ROW_NUMBER() OVER (PARTITION BY i
                                          ORDER BY cnt DESC, label) AS rn
                FROM ci2) WHERE rn = 1)
    SELECT i AS item_id, CAST(label AS INTEGER) AS community FROM li2
    """,
    doc="Label-propagation community detection on the bipartite rating "
    f"graph: {LPA_SEED_LABELS} deterministic seed labels (first md5 hex "
    "digit of the node id), then two Jacobi half-iterations of "
    "adopt-the-modal-neighbor-label (ties to the smallest label). Each "
    "half-iteration is one edge-list join plus a TWO-LEVEL aggregate — "
    "count per (node, label) then min_by over negated counts — so both "
    "shuffles combine map-side and no per-node window sort exists to "
    "melt on hot nodes. The oracle unrolls the same recurrence with "
    "window-function modes.",
)
def lpa_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = _edges(spark, sf_dir)
    li0 = edges.select("i").distinct().select(
        "i",
        F.expr(_SEED_SPARK.format(node="concat('i', CAST(i AS STRING))")).alias(
            "label"
        ),
    )
    lu1 = _mode_label(edges.join(li0, "i").select("u", "label"), "u")
    li2 = _mode_label(edges.join(lu1, "u").select("i", "label"), "i")
    return li2.select(
        F.col("i").alias("item_id"), F.col("label").cast("int").alias("community")
    )


KCORE_K = 3
KCORE_ROUNDS = 2


def _kcore_round_sql(edges_in: str, out_prefix: str) -> str:
    """One peeling round in SQL: degree per side, keep >= K nodes, keep
    edges whose BOTH endpoints survive."""
    return f"""
    {out_prefix}du AS (SELECT u, COUNT(*) AS d FROM {edges_in} GROUP BY u),
    {out_prefix}di AS (SELECT i, COUNT(*) AS d FROM {edges_in} GROUP BY i),
    {out_prefix}e AS (
        SELECT e.u, e.i FROM {edges_in} e
        JOIN {out_prefix}du ON e.u = {out_prefix}du.u AND {out_prefix}du.d >= {KCORE_K}
        JOIN {out_prefix}di ON e.i = {out_prefix}di.i AND {out_prefix}di.d >= {KCORE_K}
    )"""


@register(
    "kcore_membership",
    oracle=f"""
    {_EDGES_SQL},
    {_kcore_round_sql("edges", "r1")},
    {_kcore_round_sql("r1e", "r2")},
    fu AS (SELECT u, COUNT(*) AS d FROM r2e GROUP BY u),
    fi AS (SELECT i, COUNT(*) AS d FROM r2e GROUP BY i)
    SELECT 'user' AS node_type, u AS node_id, d AS degree FROM fu
    UNION ALL
    SELECT 'item' AS node_type, i AS node_id, d AS degree FROM fi
    """,
    doc=f"k-core decomposition ({KCORE_ROUNDS} peeling rounds, k={KCORE_K}) "
    "on the bipartite rating graph — the graph-mining densification "
    "filter that strips low-engagement users/items before embedding "
    "training (LightGCN-style models are notoriously noise-sensitive "
    "to degree-1 nodes). Each round is: per-side degree aggregate, "
    "then an edge filter keyed on each endpoint — two keyed joins per "
    "round, both against node-sized degree tables, with the edge list "
    "never replicated. Fixed round count keeps it SQL-unrollable; the "
    "convergence-driven version iterates the same plan with "
    "localCheckpoint truncation exactly like dedup's connected "
    "components. Output: surviving nodes with their degree in the "
    "peeled graph.",
)
def kcore_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _edges(spark, sf_dir)
    for _ in range(KCORE_ROUNDS):
        du = e.groupBy("u").agg(F.count("*").alias("du_d"))
        di = e.groupBy("i").agg(F.count("*").alias("di_d"))
        # checkpoint each peeled edge list: the next round reads it from
        # three consumers (two degree aggs + the join), and without the
        # truncation round N re-executes rounds 1..N-1 per consumer
        e = (
            e.join(du.filter(F.col("du_d") >= KCORE_K), "u")
            .join(di.filter(F.col("di_d") >= KCORE_K), "i")
            .select("u", "i")
            .localCheckpoint(
                eager=False, storageLevel=StorageLevel.MEMORY_AND_DISK
            )
        )
    fu = e.groupBy("u").agg(F.count("*").alias("degree"))
    fi = e.groupBy("i").agg(F.count("*").alias("degree"))
    return fu.select(
        F.lit("user").alias("node_type"), F.col("u").alias("node_id"), "degree"
    ).unionByName(
        fi.select(
            F.lit("item").alias("node_type"), F.col("i").alias("node_id"), "degree"
        )
    )


# ---------------------------------------------------------------------------
# Personalized PageRank (seeded restart)
# ---------------------------------------------------------------------------

PPR_ALPHA = 0.85  # continuation probability; 1-alpha restarts at the seeds
PPR_SEED_MOD = 20  # seed set: users with md5-bucket % 20 == 0 (~5%)

_PPR_SEED_SQL = (
    "CAST(('0x' || substr(md5(CAST(u AS VARCHAR)), 1, 8)) AS BIGINT) "
    f"% {PPR_SEED_MOD} = 0"
)


@register(
    "ppr_seeded_items",
    oracle=f"""
    {_EDGES_SQL},
    du AS (SELECT u, COUNT(*) AS d FROM edges GROUP BY u),
    di AS (SELECT i, COUNT(*) AS d FROM edges GROUP BY i),
    seeds AS (SELECT DISTINCT u FROM edges WHERE {_PPR_SEED_SQL}),
    -- iteration 1 (item side): user mass starts as the seed indicator
    pi1 AS (
        SELECT e.i AS i, {1 - PPR_ALPHA:.2f} * 0 + {PPR_ALPHA} * SUM(1.0 / du.d) AS pr
        FROM edges e JOIN du ON e.u = du.u
        WHERE e.u IN (SELECT u FROM seeds)
        GROUP BY e.i
    ),
    -- iteration 2 (user side): restart mass re-injected at the seeds
    pu2 AS (
        SELECT e.u AS u,
               CASE WHEN {_PPR_SEED_SQL} THEN {1 - PPR_ALPHA:.2f} ELSE 0 END
                   + {PPR_ALPHA} * SUM(pi1.pr / di.d) AS pr
        FROM edges e JOIN pi1 ON e.i = pi1.i JOIN di ON e.i = di.i
        GROUP BY e.u
    ),
    -- iteration 3 (item side)
    pi3 AS (
        SELECT e.i AS i, {PPR_ALPHA} * SUM(pu2.pr / du.d) AS pr
        FROM edges e JOIN pu2 ON e.u = pu2.u JOIN du ON e.u = du.u
        GROUP BY e.i
    )
    SELECT i AS item_id, ROUND(pr, 6) AS ppr FROM pi3
    """,
    doc="Personalized PageRank from a seed user cohort (the md5-bucketed "
    "~5% — in production, 'users who bought X' or a single user): "
    "random-walk-with-restart mass spreads over the bipartite graph for "
    "3 half-iterations, with the (1-alpha) restart re-injected at the "
    "seeds each user-side pass — the classic graph recommender "
    "(Pixie/item-rank shape) whose scores rank items BY RELEVANCE TO "
    "THE COHORT rather than globally like pagerank_bipartite. Identical "
    "plan shape: one edge-list join + map-side-combined SUM per "
    "half-iteration, seeds evaluated scan-side from the key hash (no "
    "seed table shipped). Items unreachable in 3 hops are absent, "
    "matching the oracle.",
)
def ppr_seeded_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = _edges(spark, sf_dir)
    du = edges.groupBy("u").agg(F.count("*").alias("du"))
    di = edges.groupBy("i").agg(F.count("*").alias("di"))
    is_seed = md5_long(F.col("u").cast("string")) % PPR_SEED_MOD == 0
    restart = F.lit(1 - PPR_ALPHA)

    # iteration 1, item side: only seed users carry mass (indicator = 1)
    pi1 = (
        edges.filter(is_seed)
        .join(du, "u")
        .groupBy("i")
        .agg((F.lit(PPR_ALPHA) * F.sum(F.lit(1.0) / F.col("du"))).alias("pr"))
    )
    # iteration 2, user side: alpha * neighbor mass + restart at seeds
    qi = pi1.join(di, "i").select("i", (F.col("pr") / F.col("di")).alias("w"))
    pu2 = (
        edges.join(qi, "i")
        .groupBy("u")
        .agg(F.sum("w").alias("s"))
        .select(
            "u",
            (
                F.when(is_seed, restart).otherwise(F.lit(0.0))
                + F.lit(PPR_ALPHA) * F.col("s")
            ).alias("pr"),
        )
    )
    # iteration 3, item side
    qu = pu2.join(du, "u").select("u", (F.col("pr") / F.col("du")).alias("w"))
    pi3 = (
        edges.join(qu, "u")
        .groupBy("i")
        .agg((F.lit(PPR_ALPHA) * F.sum("w")).alias("pr"))
    )
    return pi3.select(F.col("i").alias("item_id"), F.round("pr", 6).alias("ppr"))
