"""Vector / embedding operators (SURVEY.md §2.8 F5-F10 + north-star
similarity search).

The reference stored embeddings as comma-joined strings in graph-node
properties and computed cosine in per-row numpy lambdas
(streaming_rec.py:74,97,111,153-167). Here embeddings are native
``array<float>`` columns and the math is JVM-side column expressions
(``zip_with`` + ``aggregate``) — whole-stage codegen applies, and the
per-row cost is independent of cluster size.

Determinism for the DuckDB oracle: both engines fold the array
left-to-right in double precision; scores are rounded to 6 decimals on
both sides and every LIMIT is tie-broken on vec_id.

`cell_topk` is the one cell-pruned top-k: probe a quantizer value, fetch
the probed cells' rows, score them by cosine and keep each query's top
k. The IVF queries here, the candidate recommender
(streaming/candidates.py) and the ANN search (streaming/ann_search.py)
all rank through it. A broadcast-sized index (its size re-checked on
every call) is served from collected arrays and scored in one Arrow UDF
(functions/nearcell.py) with the same left-fold doubles; past that size
a cell-key join and a row_number window rank it. `serving_index` keeps
the collected arrays of a plain table scan per file list, so batches
over an unchanged table do not collect it again.

On N_IVF_CELLS staying a fixed 16 while the streaming candidate
quantizer derives its width from the catalog (derive_rec_cells): the
balanced width depends on the QUERY volume, not just the corpus. The
streaming recommender assigns and scores EVERY user per batch, so
assignment cost and cell-local scoring both scale with users and the
sqrt-catalog width balances them; here the query side is a fixed small
panel (50 ids) while assignment touches the whole corpus — widening to
sqrt(corpus) (2048 cells at the 2M replica) would multiply the
corpus-side assign fold ~128x to shrink a candidate set the panel cap
already bounds. The recall/cost dial at fixed width is nprobe
(ann_ivf_multiprobe_topk — curve measured in
tools/probe_ivf_multiprobe.py); a production deploy re-sizes the
quantizer with sampled k-means centroids offline, not per query.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from cqu_bigdata_recommender_system_for_movies_spark.plans.registry import register
from cqu_bigdata_recommender_system_for_movies_spark.session import (
    session_cache,
    session_evict,
    shuffle_partitions,
)
from cqu_bigdata_recommender_system_for_movies_spark.shipping import ensure_shipped
from cqu_bigdata_recommender_system_for_movies_spark.tables import (
    RATINGS_SQL,
    load,
    ratings,
    table_row_count,
)

EPS = 1e-8  # cosine denominator epsilon — matches reference streaming_rec.py:111


def dot(a: Column | str, b: Column | str) -> Column:
    """Σ aᵢ·bᵢ as a left fold in double precision (JVM, codegen'd)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def cosine(a: Column | str, b: Column | str) -> Column:
    return dot(a, b) / (F.sqrt(dot(a, a)) * F.sqrt(dot(b, b)) + F.lit(EPS))


# ---------------------------------------------------------------------------
# Cell-pruned top-k: the one ranking behind every IVF query and serving batch
# ---------------------------------------------------------------------------


def broadcast_sized(df: DataFrame) -> bool:
    """True when the planner would broadcast `df` into a join: its
    optimized-plan size estimate is at most autoBroadcastJoinThreshold
    (-1 disables broadcasting, and so this)."""
    jdf = df._jdf  # noqa: SLF001
    size = int(str(jdf.queryExecution().optimizedPlan().stats().sizeInBytes()))
    conf = df.sparkSession._jsparkSession.sessionState().conf()  # noqa: SLF001
    return size <= conf.autoBroadcastJoinThreshold()


def collect_index(df: DataFrame, id_col: str = "id", vec_col: str = "vec"):
    """The index ``df`` (``id_col``, cell, ``vec_col``) collected to the
    driver as `nearcell.IndexArrays`, the value `cell_topk` scores in one
    kernel."""
    from cqu_bigdata_recommender_system_for_movies_spark.functions.nearcell import (
        index_arrays,
    )

    table = df.select(
        F.col(id_col).alias("id"), "cell", F.col(vec_col).alias("vec")
    ).toArrow()
    return index_arrays(table, df.schema[id_col].dataType.simpleString())


def _file_scan(df: DataFrame) -> tuple[str, tuple[str, ...]] | None:
    """(root paths, projection) of the file relation whose columns ``df``
    selects, plain or renamed, with nothing computed, filtered or sampled
    above the scan; None for any other plan. The projection is each
    selected column's SQL text (empty when ``df`` is the bare scan)."""
    plan = df._jdf.queryExecution().optimizedPlan()  # noqa: SLF001
    projection = []
    if plan.nodeName() == "Project":
        exprs = plan.projectList()
        for i in range(exprs.size()):
            e = exprs.apply(i)
            col = e.child() if e.nodeName() == "Alias" else e
            if col.nodeName() != "AttributeReference":
                return None
            projection.append(e.sql())
        plan = plan.child()
    if plan.nodeName() != "LogicalRelation":
        return None
    relation = plan.relation()
    if relation.getClass().getSimpleName() != "HadoopFsRelation":
        return None
    return relation.location().rootPaths().toString(), tuple(projection)


def serving_index(df: DataFrame, id_col: str, vec_col: str):
    """What `cell_topk` serves ``df`` (``id_col``, cell, ``vec_col``)
    from: its collected arrays while ``df`` is `broadcast_sized`, else
    the DataFrame (id, cell, vec). The size is re-checked on every call,
    so a threshold changed between calls changes the regime.

    Collected arrays are kept per file list. When ``df`` selects plain
    columns of a file scan, the session cache keeps one entry per scan
    location holding the arrays and the sorted `inputFiles` they were
    collected from; a call whose file list equals the entry's serves the
    kept arrays, and any other list (an append, a compaction, a rebuild:
    Parquet part names carry the write job's UUID) collects afresh and
    replaces the entry. Any other plan is collected on every call."""
    if not broadcast_sized(df):
        return df.select(F.col(id_col).alias("id"), "cell", F.col(vec_col).alias("vec"))
    scan = _file_scan(df)
    if scan is None:
        return collect_index(df, id_col, vec_col)
    location, projection = scan
    # listed before the collect: a write in between leaves a stale stamp,
    # which the next call reads as a changed list
    stamp = (projection, id_col, vec_col, tuple(sorted(df.inputFiles())))
    return session_cache(
        df.sparkSession,
        ("serving_index", location),
        lambda: (stamp, collect_index(df, id_col, vec_col)),
        fresh=lambda kept: kept[0] == stamp,
    )[1]


def forget_serving_index(df: DataFrame) -> None:
    """Drop the arrays `serving_index` keeps for ``df``'s scan location:
    for a caller about to drop the table it served."""
    scan = _file_scan(df)
    if scan is not None:
        session_evict(df.sparkSession, ("serving_index", scan[0]))


def cell_topk(
    queries: DataFrame,
    quant,
    index,
    nprobe: int,
    k: int,
    *,
    rounded: bool,
    exclude_self: bool,
    qid: str = "qid",
    vec: Column | str = "vec",
    out: tuple = ("qid", "rank", "id", "score"),
) -> DataFrame:
    """For each query, the top ``k`` index rows by cosine among the
    query's ``nprobe`` nearest cells of the quantizer value ``quant``
    (score DESC, ties to the smaller id). ``rounded`` ranks by, and
    returns, the cosine rounded to 6 dp; ``exclude_self`` drops the index
    row whose id is the query's own.

    ``qid`` names the queries' id column and ``vec`` their vector (a
    column name or a Column). The result columns are (query id, rank,
    index id, score) named by ``out``; a None name leaves that column
    out. Callers name their own columns here instead of renaming around
    the call: every DataFrame step is an eager analysis on each batch.

    Precondition: qids are distinct. The kernel ranks each row on its
    own; the join path's window would pool rows that share a qid.

    ``index`` picks the regime. Collected (`collect_index`), the batch is
    one narrow stage: `cell_scores_udf` probes, fetches and scores, and
    Spark ranks the pairs with its own round, filter (self), array_sort
    on (-score, id), slice and inline. A DataFrame (id, cell, vec) is
    joined to the exploded probes on the cell key, both norms folded
    below the join (the index's own ``norm`` column when it has one), and
    ranked by a row_number window. The two give identical rows."""
    from cqu_bigdata_recommender_system_for_movies_spark.functions.nearcell import (
        cell_scores_udf,
        cells_udf,
    )

    q_out, rank, id_out, score = out
    qvec = F.col(vec) if isinstance(vec, str) else vec
    if not isinstance(index, DataFrame):
        scored = queries.select(
            F.col(qid).alias(q_out),
            cell_scores_udf(quant, index, nprobe)(qvec).alias("pairs"),
        )
        # the tail is one SQL expression: built from Python lambdas it
        # costs tens of py4j round trips on every batch. inline runs over
        # an expression, not a bare attribute, so no inferred size()
        # filter below it copies the UDF
        neg = "-round(p.cos, 6)" if rounded else "-p.cos"
        pairs = f"filter(pairs, p -> p.id != `{q_out}`)" if exclude_self else "pairs"
        fields = ", ".join(
            f"{expr} AS `{name}`"
            for expr, name in (("i + 1", rank), ("p.id", id_out), ("-p.neg", score))
            if name is not None
        )
        return scored.select(
            q_out,
            F.expr(
                f"inline(transform(slice(array_sort(transform({pairs}, "
                f"p -> struct({neg} AS neg, p.id AS id))), 1, {int(k)}), "
                f"(p, i) -> struct({fields})))"
            ),
        )
    # explode in the UDF's own select: exploding the bare attribute later
    # infers a size() filter below the Project that copies the UDF
    probes = queries.select(
        F.col(qid).alias("qid"),
        qvec.alias("qvec"),
        F.explode(cells_udf(quant, nprobe)(qvec)).alias("cell"),
    ).withColumn("qnorm", F.sqrt(dot("qvec", "qvec")))
    inorm = F.col("norm") if "norm" in index.columns else F.sqrt(dot("vec", "vec"))
    indexed = index.select("id", "cell", "vec", inorm.alias("inorm"))
    # each index row has one cell and a query probes distinct cells, so
    # the join emits each (query, row) pair at most once
    pairs = probes.join(indexed, "cell")
    if exclude_self:
        pairs = pairs.filter(F.col("id") != F.col("qid"))
    cos = dot("qvec", "vec") / (F.col("qnorm") * F.col("inorm") + F.lit(EPS))
    if rounded:
        cos = F.round(cos, 6)
    w = Window.partitionBy("qid").orderBy(F.desc("score"), F.asc("id"))
    ranked = (
        pairs.select("qid", "id", cos.alias("score"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )
    return ranked.select(
        *(
            F.col(c).alias(name)
            for c, name in zip(("qid", "rank", "id", "score"), out)
            if name is not None
        )
    )


# ---------------------------------------------------------------------------
# Brute-force similarity search (F6 cosine, baseline ANN path)
# ---------------------------------------------------------------------------


@register(
    "cosine_topk",
    oracle="""
    WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0)
    SELECT vec_id,
           ROUND(list_dot_product(embedding::DOUBLE[], qe::DOUBLE[]) /
                 (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) *
                  sqrt(list_dot_product(qe::DOUBLE[], qe::DOUBLE[])) + 1e-8),
                 6) AS cosine
    FROM embeddings CROSS JOIN q
    WHERE vec_id <> 0
    ORDER BY cosine DESC, vec_id
    LIMIT 10
    """,
    doc="F6/M8 cosine top-k (streaming_rec.py:106-114): rank all vectors by "
    "cosine to a query vector. Query side is a broadcast single row; the scan "
    "side streams — brute-force baseline for similarity search.",
)
def cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qe"))
    return (
        emb.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            F.round(cosine("embedding", "qe"), 6).alias("cosine"),
        )
        .orderBy(F.desc("cosine"), F.asc("vec_id"))
        .limit(10)
    )


@register(
    "dot_product_topk",
    oracle="""
    WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0)
    SELECT vec_id,
           ROUND(list_dot_product(embedding::DOUBLE[], qe::DOUBLE[]), 6) AS score
    FROM embeddings CROSS JOIN q
    WHERE vec_id <> 0
    ORDER BY score DESC, vec_id
    LIMIT 10
    """,
    doc="F10 dot-product scoring (train_topn.py:121, recommend.py:132): "
    "user·item embedding inner-product ranking.",
)
def dot_product_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qe"))
    return (
        emb.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .select("vec_id", F.round(dot("embedding", "qe"), 6).alias("score"))
        .orderBy(F.desc("score"), F.asc("vec_id"))
        .limit(10)
    )


# ---------------------------------------------------------------------------
# Elementwise vector aggregation (embedding analytics)
# ---------------------------------------------------------------------------


@register(
    "embedding_centroid_by_label",
    oracle="""
    SELECT label, pos - 1 AS pos, ROUND(AVG(v), 6) AS avg_val
    FROM (
        SELECT label, unnest(embedding::DOUBLE[]) AS v,
               generate_subscripts(embedding, 1) AS pos
        FROM embeddings
    )
    GROUP BY label, pos
    """,
    doc="Per-label embedding centroid: posexplode + group — the distributed "
    "form of elementwise vector mean (class prototypes for classification / "
    "cluster seeding).",
)
def embedding_centroid_by_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    return (
        emb.select("label", F.posexplode("embedding").alias("pos", "v"))
        .groupBy("label", "pos")
        .agg(F.round(F.avg(F.col("v").cast("double")), 6).alias("avg_val"))
    )


@register(
    "vector_argmax",
    oracle="""
    SELECT vec_id,
           list_position(embedding, list_max(embedding)) - 1 AS argmax_pos,
           ROUND(list_max(embedding)::DOUBLE, 6) AS max_val
    FROM embeddings
    """,
    doc="F9 argmax (horovod_test.py:153-154 used a Python UDF): index of the "
    "max element — pure column expressions, first occurrence wins in both "
    "engines.",
)
def vector_argmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    return emb.select(
        "vec_id",
        (F.array_position("embedding", F.array_max("embedding")) - 1)
        .cast("long")
        .alias("argmax_pos"),
        F.round(F.array_max("embedding").cast("double"), 6).alias("max_val"),
    )


# ---------------------------------------------------------------------------
# Multi-hot encoding (F5 — genre vector in the reference)
# ---------------------------------------------------------------------------

TYPE_VOCAB = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")


def _multi_hot_oracle() -> str:
    bits = ", ".join(
        f"CAST(CASE WHEN list_contains(string_split(p_type, ' '), '{v}') "
        f"THEN 1 ELSE 0 END AS VARCHAR)"
        for v in TYPE_VOCAB
    )
    return f"SELECT p_partkey AS item_id, concat({bits}) AS multi_hot FROM part"


@register(
    "multi_hot_encode",
    oracle=_multi_hot_oracle(),
    doc="F5 multi-hot encode (streaming_rec.py:130-134, 203-222): categorical "
    "string -> fixed-vocabulary 0/1 vector, as pure column expressions "
    "(the reference used a Python loop per row). Emitted as a bit-string "
    "for engine-portable hashing.",
)
def multi_hot_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load(spark, sf_dir, "part")
    tokens = F.split(F.col("p_type"), " ")
    bits = [
        F.array_contains(tokens, v).cast("int").cast("string") for v in TYPE_VOCAB
    ]
    return part.select(
        F.col("p_partkey").alias("item_id"), F.concat(*bits).alias("multi_hot")
    )


# ---------------------------------------------------------------------------
# LSH-bucketed ANN (the scale path for similarity search)
# ---------------------------------------------------------------------------

N_PLANES_MIN = 8  # floor; actual plane count grows with corpus size
N_PLANES_MAX = 24
TARGET_BUCKET_SIZE = 16
DIM = 64


def derive_n_planes(n_vectors: int) -> int:
    """Scale the LSH bucket count with the corpus: 2^planes buckets sized
    ~TARGET_BUCKET_SIZE, so the candidate join stays O(n · bucket) instead
    of quadratic as data grows. At the driver's sf0.01 (~500 vectors) this
    resolves to the floor of 8 planes — identical to the static oracle."""
    import math

    raw = math.ceil(math.log2(max(1, n_vectors) / TARGET_BUCKET_SIZE + 1))
    return min(N_PLANES_MAX, max(N_PLANES_MIN, raw))


def _plane(p: int) -> list[int]:
    """Deterministic pseudo-random hyperplane with small-integer coords.

    Integer arithmetic only, so Spark and DuckDB agree exactly. Same role
    as random-hyperplane LSH (sign of projection = bucket bit).
    """
    return [((p * 31 + j * 17 + (p + 1) * (j + 3) * 7) % 13) - 6 for j in range(DIM)]


def _lsh_bucket_sql_expr(col: str, n_planes: int = N_PLANES_MIN) -> str:
    bits = []
    for p in range(n_planes):
        plane = ", ".join(str(c) for c in _plane(p))
        bits.append(
            f"CASE WHEN list_dot_product({col}::DOUBLE[], [{plane}]::DOUBLE[]) >= 0 "
            f"THEN '1' ELSE '0' END"
        )
    return "concat(" + ", ".join(bits) + ")"


def _lsh_bucket_col(col: str, n_planes: int = N_PLANES_MIN) -> Column:
    bits = []
    for p in range(n_planes):
        plane = F.array(*[F.lit(float(c)) for c in _plane(p)])
        bits.append(F.when(dot(F.col(col), plane) >= 0, "1").otherwise("0"))
    return F.concat(*bits)


def _n_planes_sql(count_expr: str) -> str:
    """SQL twin of derive_n_planes: the oracle derives the plane count
    from the SAME corpus cardinality (via a scalar subquery) instead of
    hard-coding the floor, so engine and oracle agree at ANY scale —
    the static-8 form silently diverged once the corpus outgrew the
    floor (caught by the 10x plan sweep: derive_n_planes(20k)=11 vs the
    oracle's 8; the LSH parity greens at that sf were replica-data
    luck)."""
    return (
        f"LEAST({N_PLANES_MAX}, GREATEST({N_PLANES_MIN}, "
        f"CAST(CEIL(LOG2(({count_expr}) / {TARGET_BUCKET_SIZE}.0 + 1)) AS BIGINT)))"
    )


def _lsh_bucket_sql_dynamic(col: str, np_scalar: str) -> str:
    """Bucket = the first `np_scalar` bits of the full N_PLANES_MAX-bit
    sign string — bitwise identical to _lsh_bucket_col(col, n) because
    plane p's bit is a pure function of p, so an n-plane bucket IS the
    n-prefix of the 24-plane string."""
    return f"substr({_lsh_bucket_sql_expr(col, N_PLANES_MAX)}, 1, CAST({np_scalar} AS INTEGER))"


@register(
    "graph_embedding_propagation",
    oracle=f"""
    WITH ratings AS ({RATINGS_SQL}),
    deg_u AS (SELECT user_id, COUNT(*) AS du FROM ratings GROUP BY user_id),
    deg_i AS (SELECT item_id, COUNT(*) AS di FROM ratings GROUP BY item_id),
    e AS (
        SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS pos,
               unnest(embedding::DOUBLE[]) AS v
        FROM embeddings
    )
    SELECT r.user_id, e.pos,
           ROUND(SUM(e.v / sqrt(di)) / sqrt(ANY_VALUE(du)), 6) AS val
    FROM ratings r
    JOIN deg_u USING (user_id)
    JOIN deg_i USING (item_id)
    JOIN e ON r.item_id = e.vec_id
    WHERE r.user_id < 50
    GROUP BY r.user_id, e.pos
    """,
    doc="M5 capability (LightGCN layer, reference doc/课程报告.md:801-820): one "
    "round of normalized neighbor aggregation on the user-item graph — "
    "e_u = (1/√deg_u) Σ_{{i∈N(u)}} e_i/√deg_i — as joins + grouped sums "
    "over exploded embedding positions. K layers = K repetitions of this "
    "plan; no torch, fully distributed.",
)
def graph_embedding_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    r = ratings(spark, sf_dir).select("user_id", "item_id")
    deg_u = r.groupBy("user_id").agg(F.count("*").alias("du"))
    deg_i = r.groupBy("item_id").agg(F.count("*").alias("di"))
    e = load(spark, sf_dir, "embeddings").select(
        "vec_id", F.posexplode("embedding").alias("pos", "v")
    )
    # no broadcast hint on deg_u/deg_i: they are unbounded per-key aggregates
    # (one row per user/item) — at 100 TB a forced broadcast OOMs executors.
    # AQE picks broadcast at small scale and shuffle join at large, runtime-
    # sized, which is exactly the right call here.
    return (
        r.filter(F.col("user_id") < 50)
        .join(deg_u, "user_id")
        .join(deg_i, "item_id")
        .join(e, r.item_id == e.vec_id)
        .groupBy("user_id", "pos")
        .agg(
            F.round(
                F.sum(F.col("v").cast("double") / F.sqrt("di"))
                / F.sqrt(F.first("du")),
                6,
            ).alias("val")
        )
    )


NEAR_DUP_COSINE = 0.99
N_INJECTED = 25  # deterministic near-dup twins injected below (vec_id<25)
PERTURB = 0.01  # per-dim shift: twins keep cosine >= ~0.996 to their
# original while unrelated pairs top out near 0.48 — a clean margin


@register(
    "embedding_near_dup_pairs",
    oracle=f"""
    WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    aug AS (
        SELECT vec_id + 1000000 AS vec_id, list_transform(e, x -> x + {PERTURB}) AS e
        FROM base WHERE vec_id < {N_INJECTED}
    ),
    allv AS (SELECT * FROM base UNION ALL SELECT * FROM aug),
    np AS (SELECT {_n_planes_sql('COUNT(*)')} AS p FROM allv),
    b AS (
        SELECT vec_id, e,
               {_lsh_bucket_sql_dynamic('e', '(SELECT p FROM np)')} AS bucket
        FROM allv
    )
    SELECT a.vec_id AS vec_a, x.vec_id AS vec_b,
           ROUND(list_dot_product(a.e, x.e) /
                 (sqrt(list_dot_product(a.e, a.e)) *
                  sqrt(list_dot_product(x.e, x.e)) + 1e-8),
                 6) AS cosine
    FROM b a JOIN b x ON a.bucket = x.bucket AND a.vec_id < x.vec_id
    WHERE list_dot_product(a.e, x.e) /
          (sqrt(list_dot_product(a.e, a.e)) *
           sqrt(list_dot_product(x.e, x.e)) + 1e-8)
          >= {NEAR_DUP_COSINE}
    """,
    doc="Embedding-cosine near-dup pairs (north-star dedup family): LSH "
    "bucket join restricts candidates, cosine >= 0.99 verifies — same "
    "candidates-then-verify shape as MinHash dedup, on vectors. The corpus "
    "is augmented with deterministic perturbed twins (+0.01 per dim for "
    "vec_id<25, identically in Spark and the oracle) so the check covers "
    "real near-dup pairs, not a vacuous empty/1-row result.",
)
def embedding_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    base = emb.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("e"),
    )
    aug = base.filter(F.col("vec_id") < N_INJECTED).select(
        (F.col("vec_id") + 1000000).alias("vec_id"),
        F.transform("e", lambda x: x + F.lit(PERTURB)).alias("e"),
    )
    allv = base.unionByName(aug)
    n_planes = derive_n_planes(table_row_count(sf_dir, "embeddings") + N_INJECTED)
    b = allv.withColumn("bucket", _lsh_bucket_col("e", n_planes))
    # each side's norm folds once below the bucket join: bit-identical
    # cosines, one fold per candidate pair instead of three
    left = b.select(
        F.col("vec_id").alias("vec_a"),
        F.col("e").alias("e_a"),
        "bucket",
        F.sqrt(dot("e", "e")).alias("na"),
    )
    right = b.select(
        F.col("vec_id").alias("vec_b"),
        F.col("e").alias("e_x"),
        F.col("bucket").alias("bucket_x"),
        F.sqrt(dot("e", "e")).alias("nx"),
    )
    cos = dot("e_a", "e_x") / (F.col("na") * F.col("nx") + F.lit(EPS))
    return (
        left.join(
            right,
            (F.col("bucket") == F.col("bucket_x")) & (F.col("vec_a") < F.col("vec_b")),
        )
        .filter(cos >= NEAR_DUP_COSINE)
        .select("vec_a", "vec_b", F.round(cos, 6).alias("cosine"))
    )


@register(
    "ann_lsh_topk",
    oracle=f"""
    WITH np AS (SELECT {_n_planes_sql('COUNT(*)')} AS p FROM embeddings),
    b AS (
        SELECT vec_id, embedding,
               {_lsh_bucket_sql_dynamic('embedding', '(SELECT p FROM np)')} AS bucket
        FROM embeddings
    ),
    pairs AS (
        SELECT a.vec_id AS vec_id, x.vec_id AS neighbor_id,
               ROUND(list_dot_product(a.embedding::DOUBLE[], x.embedding::DOUBLE[]) /
                     (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[])) *
                      sqrt(list_dot_product(x.embedding::DOUBLE[], x.embedding::DOUBLE[])) + 1e-8),
                     6) AS cosine
        FROM b a JOIN b x ON a.bucket = x.bucket AND a.vec_id <> x.vec_id
    ),
    ranked AS (
        SELECT vec_id, neighbor_id, cosine,
               ROW_NUMBER() OVER (
                   PARTITION BY vec_id ORDER BY cosine DESC, neighbor_id
               ) AS rnk
        FROM pairs
    )
    SELECT vec_id, neighbor_id, cosine FROM ranked
    WHERE rnk <= 3 AND vec_id < 50
    """,
    doc="Approximate nearest neighbors via sign-LSH: deterministic "
    "hyperplanes, count derived from corpus size (derive_n_planes: 2^p "
    "buckets of ~16 vectors; the oracle derives the SAME count from a "
    "COUNT(*) scalar subquery, so engine and oracle agree at any "
    "scale); candidates are same-bucket only, so the all-pairs O(n²) "
    "cosine becomes O(Σ bucket²) and bucket size stays bounded as data "
    "grows. Output: top-3 bucket-local neighbors for the first 50 ids.",
)
def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    n_planes = derive_n_planes(table_row_count(sf_dir, "embeddings"))
    b = emb.withColumn("bucket", _lsh_bucket_col("embedding", n_planes))
    # each side's norm folds once below the bucket join: bit-identical
    # scores, one fold per pair instead of three
    left = b.select(
        F.col("vec_id"),
        F.col("embedding").alias("e_a"),
        "bucket",
        F.sqrt(dot("embedding", "embedding")).alias("na"),
    ).filter(F.col("vec_id") < 50)
    right = b.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("e_x"),
        F.col("bucket").alias("bucket_x"),
        F.sqrt(dot("embedding", "embedding")).alias("nx"),
    )
    pair_cos = dot("e_a", "e_x") / (F.col("na") * F.col("nx") + F.lit(EPS))
    pairs = left.join(
        right,
        (F.col("bucket") == F.col("bucket_x")) & (F.col("vec_id") != F.col("neighbor_id")),
    ).select(
        "vec_id",
        "neighbor_id",
        F.round(pair_cos, 6).alias("cosine"),
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        pairs.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("vec_id", "neighbor_id", "cosine")
    )


N_IVF_CELLS = 16  # deterministic coarse quantizer: first 16 vectors as seeds


def _ivf_assign_cells(
    emb: DataFrame, k: int, n_cells: int = N_IVF_CELLS, quant=None
) -> DataFrame:
    """(vec_id, e, cells): each vector's top-k nearest coarse-quantizer
    cells (descending cosine, ties to the smaller cid — the same order
    as the oracles' ROW_NUMBER OVER (ORDER BY cos DESC, cid)).

    The quantizer (``quant``, default the n_cells smallest vec_ids as
    seeds) is driver-resident data that travels in the UDF closure, so
    the plan stays independent of n_cells
    (tests/test_plans.py::test_ivf_assign_plan_size_independent_of_cells)
    and no corpus x n_cells exchange exists. The one exchange is a
    pinned 1x-corpus round-robin repartition ahead of the CPU-dense
    selection: AQE widens by bytes, not downstream CPU."""
    # deferred: the functions package imports this module
    from cqu_bigdata_recommender_system_for_movies_spark.functions.nearcell import (
        cells_udf,
        seed_quantizer,
    )

    spark = emb.sparkSession
    if quant is None:
        quant = seed_quantizer(emb, "vec_id", "e", n_cells)
    return (
        emb.repartition(shuffle_partitions(spark))
        .select("vec_id", "e", cells_udf(quant, k)(F.col("e")).alias("cells"))
    )


N_IVF_QUERIES = 50  # the query panel: ids below this
IVF_TOPK = 3


def _ivf_topk(emb: DataFrame, nprobe: int) -> DataFrame:
    """(vec_id, neighbor_id, cosine): for each of the first N_IVF_QUERIES
    ids, the top IVF_TOPK other vectors by 6-dp rounded cosine among its
    ``nprobe`` nearest cells, every vector indexed in its nearest one.
    The index is served collected while it is broadcast-sized (one
    narrow stage), past that by the cell-key join (`cell_topk`)."""
    from cqu_bigdata_recommender_system_for_movies_spark.functions.nearcell import (
        seed_quantizer,
    )

    quant = seed_quantizer(emb, "vec_id", "e", N_IVF_CELLS)
    index = _ivf_assign_cells(emb, 1, quant=quant).select(
        "vec_id", F.element_at("cells", 1).alias("cell"), "e"
    )
    return cell_topk(
        emb.filter(F.col("vec_id") < N_IVF_QUERIES),
        quant,
        serving_index(index, "vec_id", "e"),
        nprobe,
        IVF_TOPK,
        rounded=True,
        exclude_self=True,
        qid="vec_id",
        vec="e",
        out=("vec_id", None, "neighbor_id", "cosine"),
    )


@register(
    "ann_ivf_topk",
    oracle=f"""
    WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    cent AS (SELECT vec_id AS cid, e AS ce FROM base WHERE vec_id < {N_IVF_CELLS}),
    scored AS (
        SELECT b.vec_id, b.e, c.cid,
               ROW_NUMBER() OVER (
                   PARTITION BY b.vec_id
                   ORDER BY list_dot_product(b.e, c.ce) /
                            (sqrt(list_dot_product(b.e, b.e)) *
                             sqrt(list_dot_product(c.ce, c.ce)) + 1e-8) DESC,
                            c.cid
               ) AS rn
        FROM base b CROSS JOIN cent c
    ),
    assigned AS (SELECT vec_id, e, cid FROM scored WHERE rn = 1),
    pairs AS (
        SELECT a.vec_id, x.vec_id AS neighbor_id,
               ROUND(list_dot_product(a.e, x.e) /
                     (sqrt(list_dot_product(a.e, a.e)) *
                      sqrt(list_dot_product(x.e, x.e)) + 1e-8), 6) AS cosine
        FROM assigned a
        JOIN assigned x ON a.cid = x.cid AND a.vec_id <> x.vec_id
        WHERE a.vec_id < {N_IVF_QUERIES}
    ),
    ranked AS (
        SELECT vec_id, neighbor_id, cosine,
               ROW_NUMBER() OVER (
                   PARTITION BY vec_id ORDER BY cosine DESC, neighbor_id
               ) AS rnk
        FROM pairs
    )
    SELECT vec_id, neighbor_id, cosine FROM ranked WHERE rnk <= {IVF_TOPK}
    """,
    doc="Approximate nearest neighbors, IVF-style (north-star scale path "
    "beside sign-LSH): a deterministic coarse quantizer (the first "
    f"{N_IVF_CELLS} vectors as cell seeds) assigns every vector to its "
    "nearest cell MAP-SIDE — the seeds are driver-resident data that "
    "travels in the assignment UDF's closure (production: sampled "
    "k-means centroids, equally driver-resident). No corpus x n_cells "
    "exchange; the one exchange is a pinned 1x-corpus repartition for "
    "parallelism. Candidates are cell-local only (single-probe). Top-"
    f"{IVF_TOPK} cell-local neighbors for the first {N_IVF_QUERIES} ids, "
    "ranked by the shared cell_topk: one Arrow UDF over the collected "
    "index while it is broadcast-sized, a cell-key join past it.",
)
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("e")
    )
    return _ivf_topk(emb, 1)


N_CB_USERS = 20  # bounded demo subset, like the reference's per-user loop
CB_TOPK = 5


@register(
    "content_based_recommend",
    oracle=f"""
    WITH r AS (
        SELECT DISTINCT user_id, item_id
        FROM ({RATINGS_SQL}) WHERE user_id < {N_CB_USERS}
    ),
    e AS (
        SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS pos,
               unnest(embedding::DOUBLE[]) AS v
        FROM embeddings
    ),
    profile AS (
        SELECT user_id, pos, AVG(v) AS pv
        FROM r JOIN e ON item_id = vec_id GROUP BY 1, 2
    ),
    nu AS (SELECT user_id, sqrt(SUM(pv * pv)) AS nu FROM profile GROUP BY 1),
    ni AS (SELECT vec_id, sqrt(SUM(v * v)) AS ni FROM e GROUP BY 1),
    dots AS (
        SELECT p.user_id, e.vec_id, SUM(p.pv * e.v) AS d
        FROM profile p JOIN e ON p.pos = e.pos GROUP BY 1, 2
    ),
    scored AS (
        SELECT d.user_id, d.vec_id AS item_id,
               ROUND(d.d / (nu.nu * ni.ni + 1e-8), 6) AS score
        FROM dots d
        JOIN nu USING (user_id)
        JOIN ni ON d.vec_id = ni.vec_id
    ),
    unseen AS (
        SELECT s.* FROM scored s
        ANTI JOIN r ON s.user_id = r.user_id AND s.item_id = r.item_id
    ),
    ranked AS (
        SELECT user_id, item_id, score,
               ROW_NUMBER() OVER (
                   PARTITION BY user_id ORDER BY score DESC, item_id
               ) AS rnk
        FROM unseen
    )
    SELECT user_id, item_id, rnk, score FROM ranked WHERE rnk <= {CB_TOPK}
    """,
    doc="Content-based recommendation — the offline twin of the reference's "
    "item-CF loop (M8, streaming_rec.py:106-126): user profile = mean "
    "embedding of rated items, cosine against every item embedding, "
    "anti-join the already-rated (J3), top-5 per user. Computed entirely "
    "in position-exploded space (profile/norm/dot are grouped sums), so "
    "the 'matmul' is two shuffles and never materializes a dense matrix — "
    "the shape that scales to all users at 100 TB.",
)
def content_based_recommend(spark: SparkSession, sf_dir: str) -> DataFrame:
    r = (
        ratings(spark, sf_dir)
        .filter(F.col("user_id") < N_CB_USERS)
        .select("user_id", "item_id")
        .distinct()
    )
    e = load(spark, sf_dir, "embeddings").select(
        "vec_id", F.posexplode("embedding").alias("pos", "v")
    ).select("vec_id", "pos", F.col("v").cast("double").alias("v"))
    profile = (
        r.join(e, r.item_id == e.vec_id)
        .groupBy("user_id", "pos")
        .agg(F.avg("v").alias("pv"))
    )
    nu = profile.groupBy("user_id").agg(
        F.sqrt(F.sum(F.col("pv") * F.col("pv"))).alias("nu")
    )
    ni = e.groupBy("vec_id").agg(F.sqrt(F.sum(F.col("v") * F.col("v"))).alias("ni"))
    dots = (
        profile.join(e, "pos")
        .groupBy("user_id", "vec_id")
        .agg(F.sum(F.col("pv") * F.col("v")).alias("d"))
    )
    scored = (
        dots.join(nu, "user_id")
        .join(ni, "vec_id")
        .select(
            "user_id",
            F.col("vec_id").alias("item_id"),
            F.round(F.col("d") / (F.col("nu") * F.col("ni") + F.lit(EPS)), 6).alias(
                "score"
            ),
        )
    )
    unseen = scored.join(r, ["user_id", "item_id"], "left_anti")
    w = Window.partitionBy("user_id").orderBy(F.desc("score"), F.asc("item_id"))
    return (
        unseen.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= CB_TOPK)
        .select("user_id", "item_id", "rnk", "score")
    )


@register(
    "array_functions_suite",
    oracle="""
    WITH e AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings
    )
    SELECT vec_id,
           ROUND(list_sum(v), 4) AS vec_sum,
           ROUND(list_max(v), 4) AS vec_max,
           ROUND(list_dot_product(v, list_reverse(v)), 4) AS dot_reversed,
           len(list_filter(v, x -> x > 0.9)) AS n_gt_09,
           CAST(len(list_filter(v, x -> x < 0)) = 0 AS BOOLEAN) AS all_nonneg
    FROM e
    """,
    doc="Higher-order array-function suite (§2.8 completeness): aggregate "
    "(fold to sum), array_max, zip_with (element-wise product against the "
    "reversed vector, folded to a dot product), exists-style counting and "
    "forall — all JVM-side lambda expressions inside whole-stage codegen, "
    "zero shuffles; the per-element work never leaves the scan stage.",
)
def array_functions_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    v = F.transform("embedding", lambda x: x.cast("double"))
    e = emb.select("vec_id", v.alias("v"))
    dot = F.aggregate(
        F.zip_with("v", F.reverse("v"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return e.select(
        "vec_id",
        F.round(F.aggregate("v", F.lit(0.0), lambda acc, x: acc + x), 4).alias(
            "vec_sum"
        ),
        F.round(F.array_max("v"), 4).alias("vec_max"),
        F.round(dot, 4).alias("dot_reversed"),
        F.size(F.filter("v", lambda x: x > 0.9)).alias("n_gt_09"),
        F.forall("v", lambda x: x >= 0).alias("all_nonneg"),
    )


SERDE_EXACT_TOL = 1e-4  # float->string->double roundtrip error is bounded
# by half a float ULP (~6e-8 at |x|<1); anything above this tolerance means
# the serde pair lost real information, not just float formatting


@register(
    "vector_serde_roundtrip",
    oracle=f"""
    WITH s AS (
        SELECT vec_id,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb,
               array_to_string(embedding, ',') AS ser
        FROM embeddings
    ),
    p AS (
        SELECT vec_id, emb,
               list_transform(string_split(ser, ','), x -> CAST(x AS DOUBLE)) AS parsed
        FROM s
    ),
    e AS (
        SELECT vec_id, len(parsed) AS dim,
               list_max([abs(parsed[i] - emb[i])
                         for i in range(1, len(parsed) + 1)]) AS err
        FROM p
    )
    SELECT vec_id, dim,
           ROUND(err, 6) AS max_abs_err,
           err < {SERDE_EXACT_TOL} AS roundtrip_exact
    FROM e
    """,
    doc="F8 vector serialize/parse as a driver-visible roundtrip (reference "
    "stored vectors as comma-joined strings in graph properties and "
    "re-parsed them per row — train_topn.py:161, streaming_rec.py:74,97): "
    "serialize_vector (concat_ws over casts) then parse_vector (split + "
    "element cast) must reproduce the embedding within float-ULP error. "
    "The check compares each engine's parse against its OWN serialization, "
    "so the rounded error is formatting-independent while still failing on "
    "any lossy serde. Pure column expressions, zero shuffle — the whole "
    "roundtrip stays inside the scan stage at 100 TB.",
)
def vector_serde_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cqu_bigdata_recommender_system_for_movies_spark.functions.vector_ops import (
        parse_vector,
        serialize_vector,
    )

    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("emb"),
        serialize_vector("embedding").alias("ser"),
    )
    parsed = emb.withColumn("parsed", parse_vector("ser"))
    err = F.array_max(F.zip_with("parsed", "emb", lambda a, b: F.abs(a - b)))
    return parsed.select(
        "vec_id",
        F.size("parsed").alias("dim"),
        F.round(err, 6).alias("max_abs_err"),
        (err < SERDE_EXACT_TOL).alias("roundtrip_exact"),
    )


# --- Quantization -----------------------------------------------------------

QUANT_LEVELS = 127  # symmetric int8: [-127, 127]


@register(
    "embedding_quantize_int8",
    oracle=f"""
    WITH scaled AS (
        SELECT vec_id, embedding,
               {QUANT_LEVELS} / greatest(
                   list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))),
                   1e-12) AS scale
        FROM embeddings
    )
    SELECT vec_id,
           ROUND(scale, 6) AS scale_r,
           array_to_string(list_transform(embedding,
                   x -> CAST(CAST(floor(CAST(x AS DOUBLE) * scale) AS INTEGER)
                             AS VARCHAR)), ',')
               AS q_csv,
           ROUND(list_reduce(list_transform(embedding,
                   x -> pow(CAST(x AS DOUBLE)
                            - floor(CAST(x AS DOUBLE) * scale) / scale, 2)),
                   (acc, x) -> acc + x)
                 / len(embedding), 9) AS mse
    FROM scaled
    """,
    doc="Symmetric int8 quantization of the embedding column — the storage/"
    "bandwidth step before shipping vectors to an ANN index (4x smaller, "
    "SIMD-friendly). Per-vector scale = 127/max|x|; floor (not round) "
    "quantization so the IEEE double arithmetic is bit-identical across "
    "engines (round() straddles the .5 boundary differently). Reports "
    "per-vector reconstruction MSE. The int8 codes ship as a CSV string "
    "(q_csv) — driver-safe scalar output; nested array columns break the "
    "driver's pandas lexsort canonicalizer (CORRECTNESS_r05). Pure map "
    "over the vectors: no shuffle at any scale.",
)
def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    xd = lambda x: x.cast("double")  # noqa: E731
    scale = QUANT_LEVELS / F.greatest(
        F.array_max(F.transform("embedding", lambda x: F.abs(xd(x)))),
        F.lit(1e-12),
    )
    scaled = emb.select("vec_id", "embedding", scale.alias("scale"))
    q = F.transform(
        "embedding", lambda x: F.floor(xd(x) * F.col("scale")).cast("int")
    )
    err = F.transform(
        "embedding",
        lambda x: F.pow(
            xd(x) - F.floor(xd(x) * F.col("scale")) / F.col("scale"), 2
        ),
    )
    return scaled.select(
        "vec_id",
        F.round("scale", 6).alias("scale_r"),
        F.array_join(F.transform(q, lambda x: x.cast("string")), ",").alias("q_csv"),
        F.round(
            F.aggregate(err, F.lit(0.0), lambda acc, x: acc + x)
            / F.size("embedding"),
            9,
        ).alias("mse"),
    )


# --- PCA (power iteration) --------------------------------------------------

PCA_POWER_ITERATIONS = 12


GRAM_PARTIAL_SCHEMA = "n long, sums array<double>, gram array<double>"


def _gram_partials(batch_iter):
    """Per-Arrow-batch Gramian accumulation: one (n, Σx, flat ΣxxT) row per
    input batch. The corpus never shuffles — each task reduces its rows to
    d + d^2 doubles, exactly RowMatrix.computeGramianMatrix's shape."""
    import numpy as np
    import pandas as pd

    for pdf in batch_iter:
        if not len(pdf):
            continue
        m = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
        yield pd.DataFrame(
            {
                "n": [m.shape[0]],
                "sums": [m.sum(axis=0)],
                "gram": [(m.T @ m).ravel()],
            }
        )


def _gram_reduced(emb: DataFrame) -> DataFrame:
    """(idx, val): the corpus's (count, Σx, flat ΣxxT) summed across all
    batch partials. Tree-reduce shape: flatten each partial to (idx, val)
    and sum per idx — partial aggregation combines map-side, so the
    shuffle carries at most (1 + d + d^2) rows per task regardless of
    corpus size, and the plan contains NO join (asserted in
    tests/test_plans.py)."""
    parts = emb.select("embedding").mapInPandas(
        _gram_partials, GRAM_PARTIAL_SCHEMA
    )
    flat = F.concat(F.array(F.col("n").cast("double")), "sums", "gram")
    return (
        parts.select(F.posexplode(flat).alias("idx", "val"))
        .groupBy("idx")
        .agg(F.sum("val").alias("val"))
    )


def embedding_pca_top_component_detail(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np

    ensure_shipped(spark)
    emb = load(spark, sf_dir, "embeddings")
    reduced = _gram_reduced(emb).collect()
    if not reduced:
        raise ValueError("embedding_pca_top_component: embeddings table is empty")
    vals = np.zeros(len(reduced))
    for r in reduced:
        vals[r.idx] = r.val
    n = int(round(vals[0]))
    if n < 2:
        raise ValueError(
            f"embedding_pca_top_component needs n >= 2 vectors, got {n}"
        )
    d = int(round((len(vals) - 1 + 0.25) ** 0.5 - 0.5))  # len = 1 + d + d^2
    s = vals[1 : 1 + d]
    gram = vals[1 + d :].reshape(d, d)
    cov = (gram - np.outer(s, s) / n) / (n - 1)
    # v0 = uniform unit vector; each round: w = C v; v = w / ||w||
    v = np.full(d, 1.0 / d**0.5)
    eigenvalue = 0.0
    for _ in range(PCA_POWER_ITERATIONS):
        w = cov @ v
        eigenvalue = float(np.sqrt(w @ w))
        if eigenvalue == 0.0:
            raise ValueError(
                "embedding_pca_top_component: degenerate (zero) covariance"
            )
        v = w / eigenvalue
    if v[0] < 0:
        v = -v
    return spark.createDataFrame(
        [(i, round(float(v[i]), 6), round(eigenvalue, 6)) for i in range(d)],
        "position int, weight double, eigenvalue double",
    ).orderBy("position")


@register(
    "embedding_pca_top_component",
    # The eigenvector's floats are accumulation-order-sensitive (Gramian
    # tree-reduce), but the PCA CONTRACT is checkable: the oracle
    # recomputes the component count from the embeddings schema and pins
    # the contract booleans TRUE. The engine-side bands:
    #   unit_norm            := | sqrt(sum weight^2) - 1 | <= 1e-3
    #   sign_fixed           := weight[position=0] >= 0
    #   eigenvalue_positive  := eigenvalue > 0 on every row
    # authoritative independent recomputation: tests/test_functions.py
    oracle="""
    SELECT CAST(MAX(len(embedding)) AS BIGINT) AS n_components,
           TRUE AS unit_norm,
           TRUE AS sign_fixed,
           TRUE AS eigenvalue_positive
    FROM embeddings
    """,
    doc="Top principal component of the embedding column via a distributed "
    "Gramian: mapInPandas accumulates X^T X per Arrow batch (d + d^2 "
    "doubles per task — the corpus itself never shuffles), a map-side-"
    "combined groupBy tree-reduces the partials to one d x d matrix, and "
    "the d=64 covariance eigenproblem finishes with driver-side power "
    "iteration — the same split RowMatrix.computePrincipalComponents "
    "uses. Emitted as driver-hashable invariants (component count anchored "
    "against the embeddings schema + unit-norm / sign / eigenvalue "
    "contract booleans); (position, weight, eigenvalue) rows in "
    "embedding_pca_top_component_detail (pytest).",
)
def embedding_pca_top_component(spark: SparkSession, sf_dir: str) -> DataFrame:
    detail = embedding_pca_top_component_detail(spark, sf_dir)
    norm = F.sqrt(F.sum(F.col("weight") * F.col("weight")))
    return detail.agg(
        F.count("*").cast("long").alias("n_components"),
        (F.abs(norm - 1.0) <= 1e-3).alias("unit_norm"),
        F.bool_and(
            F.when(F.col("position") == 0, F.col("weight") >= 0).otherwise(True)
        ).alias("sign_fixed"),
        F.bool_and(F.col("eigenvalue") > 0).alias("eigenvalue_positive"),
    )


# ---------------------------------------------------------------------------
# IVF-PQ: product quantization over the IVF cells
# ---------------------------------------------------------------------------

PQ_M = 8  # subspaces
PQ_SUB_DIM = 8  # dims per subspace (8 x 8 = d = 64)
PQ_N_CODES = 16  # centroids per subspace codebook
PQ_N_QUERIES = 50


def _l2sq(a, b) -> Column:
    """Squared L2 distance as a left-fold over the zipped arrays —
    fixed accumulation order, so the value is reproducible."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


_PQ_L2SQ_SQL = "list_sum(list_transform(list_zip({a}, {b}), x -> (x[1]-x[2])**2))"


@register(
    "ivf_pq_topk",
    oracle=f"""
    WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    cent AS (SELECT vec_id AS cid, e AS ce FROM base WHERE vec_id < {N_IVF_CELLS}),
    cell_scored AS (
        SELECT b.vec_id, b.e, c.cid,
               ROW_NUMBER() OVER (
                   PARTITION BY b.vec_id
                   ORDER BY list_dot_product(b.e, c.ce) /
                            (sqrt(list_dot_product(b.e, b.e)) *
                             sqrt(list_dot_product(c.ce, c.ce)) + 1e-8) DESC,
                            c.cid
               ) AS rn
        FROM base b CROSS JOIN cent c
    ),
    assigned AS (SELECT vec_id, e, cid AS cell FROM cell_scored WHERE rn = 1),
    subs AS (SELECT CAST(s AS INTEGER) AS s FROM range({PQ_M}) t(s)),
    centsl AS (
        SELECT c.cid, subs.s,
               c.ce[subs.s*{PQ_SUB_DIM}+1 : subs.s*{PQ_SUB_DIM}+{PQ_SUB_DIM}] AS cs
        FROM cent c CROSS JOIN subs
    ),
    code_scored AS (
        SELECT a.vec_id, cl.s, cl.cid,
               ROW_NUMBER() OVER (
                   PARTITION BY a.vec_id, cl.s
                   ORDER BY {_PQ_L2SQ_SQL.format(
                       a="a.e[cl.s*%d+1 : cl.s*%d+%d]" % (PQ_SUB_DIM, PQ_SUB_DIM, PQ_SUB_DIM),
                       b="cl.cs")}, cl.cid
               ) AS rn
        FROM assigned a CROSS JOIN centsl cl
    ),
    codes AS (SELECT vec_id, s, cid AS code FROM code_scored WHERE rn = 1),
    pairs AS (
        SELECT q.vec_id AS vec_id, x.vec_id AS neighbor_id, q.e AS qe, x.cell
        FROM assigned q JOIN assigned x
          ON q.cell = x.cell AND q.vec_id <> x.vec_id
        WHERE q.vec_id < {PQ_N_QUERIES}
    ),
    adc AS (
        SELECT p.vec_id, p.neighbor_id,
               SUM({_PQ_L2SQ_SQL.format(
                   a="p.qe[co.s*%d+1 : co.s*%d+%d]" % (PQ_SUB_DIM, PQ_SUB_DIM, PQ_SUB_DIM),
                   b="cl.cs")}) AS dist
        FROM pairs p
        JOIN codes co ON co.vec_id = p.neighbor_id
        JOIN centsl cl ON cl.s = co.s AND cl.cid = co.code
        GROUP BY p.vec_id, p.neighbor_id
    ),
    ranked AS (
        SELECT vec_id, neighbor_id, ROUND(dist, 6) AS approx_dist,
               ROW_NUMBER() OVER (
                   PARTITION BY vec_id ORDER BY ROUND(dist, 6), neighbor_id
               ) AS rnk
        FROM adc
    )
    SELECT vec_id, neighbor_id, approx_dist FROM ranked WHERE rnk <= 3
    """,
    doc="IVF-PQ approximate nearest neighbors — the memory-bound scale "
    f"path beyond raw IVF: each vector is product-quantized into {PQ_M} "
    f"codes ({PQ_M} subspaces x {PQ_SUB_DIM} dims, {PQ_N_CODES}-entry "
    "codebook per subspace = 8 bytes per vector instead of 256), and "
    "query-to-candidate distance is computed against the RECONSTRUCTED "
    "codes (asymmetric distance, ADC) — query side exact, database side "
    "quantized. Candidates stay cell-local (single-probe IVF, same "
    "deterministic first-16 coarse quantizer as ann_ivf_topk), codebooks "
    "are the seed vectors' subspace slices — deterministic, which is "
    "what lets DuckDB replay the whole pipeline as SQL; a production "
    "build swaps in sampled k-means codebooks with the identical "
    "encode/score plan. The ADC sum is 8 broadcast-joined lookups "
    "summed per pair with map-side combine; at 100 TB the 8-byte codes "
    "table is the only corpus-sized scan.",
)
def ivf_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("e")
    )
    cent = emb.filter(F.col("vec_id") < N_IVF_CELLS).select(
        F.col("vec_id").alias("cid"), F.col("e").alias("ce")
    )
    # Materialize the cell assignment: the encode pass, the query side,
    # and the candidate side all read it — without the checkpoint the
    # corpus-sized map-side assign (see _ivf_assign_cells) re-runs three
    # times. Production form: the persisted (vec_id, cell, codes) index
    # table every IVF-PQ system writes at build time.
    assigned = (
        _ivf_assign_cells(emb, 1)
        .select("vec_id", "e", F.element_at("cells", 1).alias("cell"))
        .localCheckpoint(eager=False)
    )

    subs = spark.range(PQ_M).select(F.col("id").cast("int").alias("s"))
    centsl = cent.crossJoin(F.broadcast(subs)).select(
        "cid",
        "s",
        F.expr(f"slice(ce, s*{PQ_SUB_DIM}+1, {PQ_SUB_DIM})").alias("cs"),
    )

    # Encode: per (vector, subspace), the L2-nearest codebook entry.
    code_cand = assigned.crossJoin(F.broadcast(centsl)).select(
        "vec_id",
        "s",
        "cid",
        _l2sq(F.expr(f"slice(e, s*{PQ_SUB_DIM}+1, {PQ_SUB_DIM})"), F.col("cs")).alias(
            "cdist"
        ),
    )
    codes = code_cand.groupBy("vec_id", "s").agg(
        F.min_by("cid", F.struct("cdist", "cid")).alias("code")
    )

    pairs = (
        assigned.filter(F.col("vec_id") < PQ_N_QUERIES)
        .select("vec_id", F.col("e").alias("qe"), "cell")
        .join(
            assigned.select(
                F.col("vec_id").alias("neighbor_id"), F.col("cell").alias("cell_x")
            ),
            F.col("cell") == F.col("cell_x"),
        )
        .filter(F.col("vec_id") != F.col("neighbor_id"))
        .select("vec_id", "neighbor_id", "qe")
    )

    codes_x = codes.select(
        F.col("vec_id").alias("code_vec"),
        F.col("s").alias("code_s"),
        "code",
    )
    adc = (
        pairs.join(codes_x, pairs.neighbor_id == codes_x.code_vec)
        .join(
            F.broadcast(centsl),
            (F.col("code_s") == centsl.s) & (F.col("code") == centsl.cid),
        )
        .select(
            "vec_id",
            "neighbor_id",
            _l2sq(
                F.expr(f"slice(qe, s*{PQ_SUB_DIM}+1, {PQ_SUB_DIM})"), F.col("cs")
            ).alias("d_s"),
        )
        .groupBy("vec_id", "neighbor_id")
        .agg(F.round(F.sum("d_s"), 6).alias("approx_dist"))
    )
    w = Window.partitionBy("vec_id").orderBy("approx_dist", "neighbor_id")
    return (
        adc.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("vec_id", "neighbor_id", "approx_dist")
    )


@register(
    "nearest_centroid_classify",
    oracle="""
    WITH base AS (SELECT vec_id, label, embedding::DOUBLE[] AS e FROM embeddings),
    cent AS (
        SELECT label AS clabel, list(avgv ORDER BY pos) AS ce FROM (
            SELECT label, pos, AVG(v) AS avgv FROM (
                SELECT label, unnest(e) AS v, generate_subscripts(e, 1) AS pos
                FROM base
            ) GROUP BY label, pos
        ) GROUP BY label
    ),
    scored AS (
        SELECT b.vec_id, b.label, c.clabel,
               ROW_NUMBER() OVER (
                   PARTITION BY b.vec_id
                   ORDER BY list_sum(list_transform(list_zip(b.e, c.ce),
                                                   x -> (x[1]-x[2])**2)),
                            c.clabel
               ) AS rn
        FROM base b CROSS JOIN cent c
    )
    SELECT label AS true_label, clabel AS pred_label,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM scored WHERE rn = 1
    GROUP BY label, clabel
    """,
    doc="Nearest-centroid classification eval (Rocchio): class prototypes "
    "from the position-exploded per-label mean, collected back into one "
    "centroid array per label (label-count-sized — broadcastable), each "
    "vector assigned to its L2-nearest prototype via broadcast "
    "cross-score + min_by (ties to the smaller label), and the "
    "label-vs-prediction CONFUSION MATRIX aggregated out. One corpus "
    "scan builds centroids, one scores — the evaluation loop for the "
    "embedding quality the centroid/cluster operators feed. Assignment "
    "uses unrounded centroids; near-tie flips would need distances "
    "equal to ~1e-15 relative, beyond any rounding the 6dp centroid "
    "display performs.",
)
def nearest_centroid_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id",
        "label",
        F.transform("embedding", lambda x: x.cast("double")).alias("e"),
    )
    cent = (
        emb.select("label", F.posexplode("e").alias("pos", "v"))
        .groupBy("label", "pos")
        .agg(F.avg("v").alias("avgv"))
        .groupBy(F.col("label").alias("clabel"))
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "avgv"))),
                lambda s: s.avgv,
            ).alias("ce")
        )
    )
    assigned = (
        emb.crossJoin(F.broadcast(cent))
        .select(
            "vec_id",
            "label",
            "clabel",
            _l2sq(F.col("e"), F.col("ce")).alias("dist"),
        )
        .groupBy("vec_id", "label")
        .agg(F.min_by("clabel", F.struct("dist", "clabel")).alias("pred_label"))
    )
    return assigned.groupBy(
        F.col("label").alias("true_label"), "pred_label"
    ).agg(F.count("*").alias("n"))


# ---------------------------------------------------------------------------
# mapInArrow surface (§2.11): zero-copy columnar UDF, no pandas layer
# ---------------------------------------------------------------------------


def _arrow_norm_batches(batch_iter):
    """RecordBatch -> RecordBatch L2 norms. Dims accumulate SEQUENTIALLY
    (one vectorized add per dimension) so the summation order matches the
    left-fold the DuckDB oracle and the JVM `dot` helper use — pairwise
    np.sum would diverge in the last ulp."""
    import numpy as np
    import pyarrow as pa

    for batch in batch_iter:
        ids = batch.column(0)
        emb = batch.column(1)
        flat = emb.flatten().to_numpy(zero_copy_only=False).astype("float64")
        mat = flat.reshape(len(ids), -1)
        acc = np.zeros(len(ids), dtype="float64")
        for j in range(mat.shape[1]):
            acc = acc + mat[:, j] * mat[:, j]
        yield pa.RecordBatch.from_arrays(
            [ids, pa.array(np.sqrt(acc), type=pa.float64())],
            names=["vec_id", "l2_norm"],
        )


@register(
    "arrow_vector_norms",
    oracle="""
    SELECT vec_id,
           ROUND(sqrt(list_dot_product(embedding::DOUBLE[],
                                       embedding::DOUBLE[])), 6) AS l2_norm
    FROM embeddings
    """,
    doc="§2.11 mapInArrow surface — the third Arrow UDF shape beside "
    "mapInPandas and the grouped/cogrouped maps: RecordBatches flow to "
    "Python ZERO-COPY (no pandas materialization, no per-column Series "
    "boxing — the right shape when the UDF is pure numpy over wide "
    "array columns). The norm accumulates per-dimension so its fp "
    "order matches the JVM/oracle left fold exactly; rounding happens "
    "JVM-side after the map so all three engines share one rounding "
    "rule. Fully oracle-checked — the only UDF surface family in the "
    "repo, all Arrow-batched, none row-at-a-time.",
)
def arrow_vector_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    ensure_shipped(spark)
    emb = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    normed = emb.mapInArrow(_arrow_norm_batches, "vec_id long, l2_norm double")
    return normed.select("vec_id", F.round("l2_norm", 6).alias("l2_norm"))


IVF_N_PROBES = 2


@register(
    "ann_ivf_multiprobe_topk",
    oracle=f"""
    WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    cent AS (SELECT vec_id AS cid, e AS ce FROM base WHERE vec_id < {N_IVF_CELLS}),
    scored AS (
        SELECT b.vec_id, b.e, c.cid,
               ROW_NUMBER() OVER (
                   PARTITION BY b.vec_id
                   ORDER BY list_dot_product(b.e, c.ce) /
                            (sqrt(list_dot_product(b.e, b.e)) *
                             sqrt(list_dot_product(c.ce, c.ce)) + 1e-8) DESC,
                            c.cid
               ) AS rn
        FROM base b CROSS JOIN cent c
    ),
    assigned AS (SELECT vec_id, e, cid FROM scored WHERE rn = 1),
    probes AS (SELECT vec_id, e, cid FROM scored
               WHERE rn <= {IVF_N_PROBES} AND vec_id < {N_IVF_QUERIES}),
    pairs AS (
        SELECT q.vec_id, x.vec_id AS neighbor_id,
               ROUND(list_dot_product(q.e, x.e) /
                     (sqrt(list_dot_product(q.e, q.e)) *
                      sqrt(list_dot_product(x.e, x.e)) + 1e-8), 6) AS cosine
        FROM probes q
        JOIN assigned x ON q.cid = x.cid AND q.vec_id <> x.vec_id
    ),
    ranked AS (
        SELECT vec_id, neighbor_id, cosine,
               ROW_NUMBER() OVER (
                   PARTITION BY vec_id ORDER BY cosine DESC, neighbor_id
               ) AS rnk
        FROM pairs
    )
    SELECT vec_id, neighbor_id, cosine FROM ranked WHERE rnk <= {IVF_TOPK}
    """,
    doc=f"Multi-probe IVF ANN — the recall/cost knob single-probe "
    f"ann_ivf_topk lacks: each QUERY probes its {IVF_N_PROBES} nearest "
    "cells while database vectors stay in their primary cell, so "
    "candidates roughly double but recall recovers the near-boundary "
    "neighbors single-probe misses (the classic IVF nprobe parameter; "
    "probing is a query-side choice needing NO index rebuild). Same "
    "deterministic first-16 coarse quantizer and the same cell_topk "
    "ranking as ann_ivf_topk at nprobe "
    f"{IVF_N_PROBES}. The recall gain over single-probe is "
    "asserted in tests/test_graph_pq.py.",
)
def ann_ivf_multiprobe_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("e")
    )
    return _ivf_topk(emb, IVF_N_PROBES)


# ---------------------------------------------------------------------------
# Embedding distribution drift by label
# ---------------------------------------------------------------------------


@register(
    "embedding_label_drift",
    oracle="""
    WITH x AS (
        SELECT label, unnest(embedding::DOUBLE[]) AS v,
               generate_subscripts(embedding, 1) AS pos
        FROM embeddings
    ),
    per AS (
        SELECT label, pos, SUM(v) AS s, COUNT(*) AS n
        FROM x GROUP BY 1, 2
    ),
    gcent AS (
        SELECT pos, SUM(s) / SUM(n) AS g FROM per GROUP BY pos
    ),
    cent AS (
        SELECT label, pos, s / n AS c, n FROM per
    )
    SELECT label,
           CAST(any_value(n) AS BIGINT) AS n_vectors,
           ROUND(SUM(c * g) / (sqrt(SUM(c * c)) * sqrt(SUM(g * g))), 6)
               AS cosine_to_global
    FROM cent JOIN gcent USING (pos)
    GROUP BY label
    """,
    doc="Embedding-space drift audit: cosine of each label's centroid "
    "against the global centroid -- the check a feature platform runs "
    "when a new embedding-model version or data slice lands (a label "
    "whose centroid swings away from global signals distribution "
    "shift). ONE posexplode scan produces per-(label, dim) sums; the "
    "global centroid derives from those same sums (no second scan), "
    "and the cosine reduces over label x 64 rows. The centroid table "
    "IS the broadcast side of nearest_centroid_classify -- this query "
    "monitors what that one consumes.",
)
def embedding_label_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    x = emb.select("label", F.posexplode("embedding").alias("pos", "v")).select(
        "label", "pos", F.col("v").cast("double").alias("v")
    )
    per = (
        x.groupBy("label", "pos")
        .agg(F.sum("v").alias("s"), F.count("*").alias("n"))
        .localCheckpoint(eager=False)  # feeds both the global and per-label sides
    )
    glob = per.groupBy("pos").agg((F.sum("s") / F.sum("n")).alias("g"))
    cent = per.select("label", "pos", (F.col("s") / F.col("n")).alias("c"), "n")
    return (
        cent.join(F.broadcast(glob), "pos")
        .groupBy("label")
        .agg(
            F.any_value("n").alias("n_vectors"),
            F.round(
                F.sum(F.col("c") * F.col("g"))
                / (
                    F.sqrt(F.sum(F.col("c") * F.col("c")))
                    * F.sqrt(F.sum(F.col("g") * F.col("g")))
                ),
                6,
            ).alias("cosine_to_global"),
        )
    )
