"""Item-item collaborative filtering from co-occurrence — the offline twin
of the reference's real-time item-CF recommender (streaming_rec.py computes
item-item similarity against the user's interest vector online; classic
item-CF precomputes an item-item similarity matrix from co-interaction
counts, e.g. Sarwar et al., WWW'01).

Shape for 100 TB: co-occurrence pairs are generated per basket (order), so
the fan-out per input row is bounded by basket size (TPC-H baskets hold
≤ 7 items) — a posting-list pair generation exactly like the dedup family,
never an unbounded self-join on user. The pair aggregation shuffles on the
16-byte (item_a, item_b) key; the frequency join is item-dim-sized and AQE
broadcasts it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cqu_bigdata_recommender_system_for_movies_spark.operators.dedup import _pairs_in_array
from cqu_bigdata_recommender_system_for_movies_spark.plans.registry import register
from cqu_bigdata_recommender_system_for_movies_spark.tables import load

MIN_SUPPORT = 2  # a single co-occurrence is noise at every scale
TOP_PAIRS = 200


def _basket_arrays(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(ok, pks): each order's DISTINCT items as a sorted array — the
    posting-list base for pair generation and item frequencies."""
    li = load(spark, sf_dir, "lineitem")
    return (
        li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk"))
        .groupBy("ok")
        .agg(F.sort_array(F.collect_set("pk")).alias("pks"))
    )


def _co_counts(arrs: DataFrame) -> DataFrame:
    """(item_a < item_b, n_ab >= MIN_SUPPORT): co-occurrence counts by
    basket-local pair explosion — pairs are generated MAP-SIDE from each
    basket's sorted item array (fan-out bounded by basket size, TPC-H
    <= 7), so the only shuffles are the basket groupBy and the compact
    (item_a, item_b) pair aggregation. This is the posting-list shape the
    dedup family uses; a basket self-join would scan and shuffle the
    basket table twice and add a join for the same result."""
    pairs = arrs.select(F.explode(_pairs_in_array("pks")).alias("p")).select(
        F.col("p.doc_a").alias("item_a"), F.col("p.doc_b").alias("item_b")
    )
    return (
        pairs.groupBy("item_a", "item_b")
        .agg(F.count("*").alias("n_ab"))
        .filter(F.col("n_ab") >= MIN_SUPPORT)
    )


def _item_freq(arrs: DataFrame) -> DataFrame:
    """(pk, n): number of distinct baskets containing each item."""
    return (
        arrs.select(F.explode("pks").alias("pk"))
        .groupBy("pk")
        .agg(F.count("*").alias("n"))
    )


def _normalized_pairs(
    spark: SparkSession, sf_dir: str, score_col, score_name: str
) -> DataFrame:
    """Shared cosine/jaccard tail: attach per-item frequencies to the
    co-occurrence counts and rank the top pairs by the given score."""
    arrs = _basket_arrays(spark, sf_dir)
    co = _co_counts(arrs)
    freq = _item_freq(arrs)
    fa = freq.select(F.col("pk").alias("item_a"), F.col("n").alias("n_a"))
    fb = freq.select(F.col("pk").alias("item_b"), F.col("n").alias("n_b"))
    return (
        co.join(fa, "item_a")
        .join(fb, "item_b")
        .select(
            "item_a",
            "item_b",
            "n_ab",
            F.round(score_col, 6).alias(score_name),
        )
        .orderBy(F.desc(score_name), "item_a", "item_b")
        .limit(TOP_PAIRS)
    )


@register(
    "item_cooccurrence_topk",
    oracle=f"""
    WITH basket AS (
        SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
    ),
    freq AS (SELECT pk, COUNT(*) AS n FROM basket GROUP BY pk),
    co AS (
        SELECT a.pk AS item_a, b.pk AS item_b, COUNT(*) AS n_ab
        FROM basket a JOIN basket b ON a.ok = b.ok AND a.pk < b.pk
        GROUP BY a.pk, b.pk
        HAVING COUNT(*) >= {MIN_SUPPORT}
    )
    SELECT item_a, item_b, n_ab,
           ROUND(n_ab / sqrt(fa.n * fb.n), 6) AS cosine
    FROM co
    JOIN freq fa ON fa.pk = item_a
    JOIN freq fb ON fb.pk = item_b
    ORDER BY cosine DESC, item_a, item_b
    LIMIT {TOP_PAIRS}
    """,
    doc="Item-item CF similarity matrix head: co-occurrence counts within "
    "order baskets, cosine-normalized by item frequency, min-support "
    "pruned, top pairs. Offline twin of the reference's item-CF scorer "
    "(streaming_rec.py:96-134). Pairs are generated map-side from each "
    "basket's sorted item array (fan-out bounded by basket size); only "
    "the compact (item_a, item_b, count) stream shuffles. The all-pairs "
    "self-join lives only in the DuckDB oracle, where it is the spec.",
)
def item_cooccurrence_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _normalized_pairs(
        spark,
        sf_dir,
        F.col("n_ab") / F.sqrt(F.col("n_a") * F.col("n_b")),
        "cosine",
    )


# Jaccard variant: similarity that discounts popular items harder —
# |A∩B| / (|A| + |B| - |A∩B|). Same co-occurrence base; registered
# separately so both normalizations are driver-checked.
@register(
    "item_cooccurrence_jaccard",
    oracle=f"""
    WITH basket AS (
        SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
    ),
    freq AS (SELECT pk, COUNT(*) AS n FROM basket GROUP BY pk),
    co AS (
        SELECT a.pk AS item_a, b.pk AS item_b, COUNT(*) AS n_ab
        FROM basket a JOIN basket b ON a.ok = b.ok AND a.pk < b.pk
        GROUP BY a.pk, b.pk
        HAVING COUNT(*) >= {MIN_SUPPORT}
    )
    SELECT item_a, item_b, n_ab,
           ROUND(CAST(n_ab AS DOUBLE) / (fa.n + fb.n - n_ab), 6) AS jaccard
    FROM co
    JOIN freq fa ON fa.pk = item_a
    JOIN freq fb ON fb.pk = item_b
    ORDER BY jaccard DESC, item_a, item_b
    LIMIT {TOP_PAIRS}
    """,
    doc="Item-item Jaccard similarity over the same basket co-occurrence "
    "base — the set-overlap normalization (popular items discounted "
    "harder than cosine). Shares the map-side pair-generation base with "
    "item_cooccurrence_topk.",
)
def item_cooccurrence_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _normalized_pairs(
        spark,
        sf_dir,
        F.col("n_ab").cast("double")
        / (F.col("n_a") + F.col("n_b") - F.col("n_ab")),
        "jaccard",
    )


@register(
    "graph_triangle_count",
    oracle=f"""
    WITH basket AS (
        SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
    ),
    e AS (
        SELECT a.pk AS u, b.pk AS v
        FROM basket a JOIN basket b ON a.ok = b.ok AND a.pk < b.pk
        GROUP BY a.pk, b.pk
        HAVING COUNT(*) >= {MIN_SUPPORT}
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM e) AS n_edges
    FROM e e1
    JOIN e e2 ON e2.u = e1.v
    JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v
    """,
    doc="Triangle count over the item co-occurrence graph (support-pruned "
    "edges) — the standard distributed graph-analytics kernel (Suri & "
    "Vassilvitskii, WWW'11). Edges are canonically oriented u < v, so "
    "each triangle is counted exactly once by the two-hop equi-join "
    "u->v->w closed by (u, w). All three legs are equi-joins on node "
    "ids; the support threshold bounds degree so the two-hop "
    "intermediate can't explode on a hub item at scale.",
)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = (
        _co_counts(_basket_arrays(spark, sf_dir))
        .select(F.col("item_a").alias("u"), F.col("item_b").alias("v"))
        .localCheckpoint(eager=False)
    )
    e1 = e.select(F.col("u").alias("u"), F.col("v").alias("v"))
    e2 = e.select(F.col("u").alias("v"), F.col("v").alias("w"))
    e3 = e.select(F.col("u").alias("u"), F.col("v").alias("w"))
    tri = (
        e1.join(e2, "v")
        .join(e3, ["u", "w"])
        .agg(F.count("*").alias("n_triangles"))
    )
    edges = e.agg(F.count("*").alias("n_edges"))
    return tri.crossJoin(edges)


@register(
    "item_adamic_adar_topk",
    oracle=f"""
    WITH basket AS (
        SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
    ),
    bsz AS (SELECT ok, COUNT(*) AS s FROM basket GROUP BY ok),
    co AS (
        SELECT a.pk AS item_a, b.pk AS item_b,
               COUNT(*) AS n_ab, SUM(1.0 / ln(z.s)) AS aa
        FROM basket a
        JOIN basket b ON a.ok = b.ok AND a.pk < b.pk
        JOIN bsz z ON z.ok = a.ok
        GROUP BY a.pk, b.pk
        HAVING COUNT(*) >= {MIN_SUPPORT}
    )
    SELECT item_a, item_b, n_ab, ROUND(aa, 6) AS adamic_adar
    FROM co
    ORDER BY adamic_adar DESC, item_a, item_b
    LIMIT {TOP_PAIRS}
    """,
    doc="Adamic-Adar weighted item-item similarity (Adamic & Adar '03, "
    "the link-prediction classic): instead of counting shared baskets "
    "equally like raw co-occurrence, each shared basket contributes "
    "1/ln(|basket|) — co-purchase inside a 2-item order is strong "
    "evidence, inside a 50-item order almost none. The weight depends "
    "only on the basket, so it attaches to the basket array BEFORE pair "
    "explosion and the whole similarity is one map-side pair generation "
    "+ one (item_a, item_b) aggregation — no per-common-neighbor join, "
    "no degree table. Same bounded fan-out as the co-occurrence family; "
    "the celebrity-basket skew term 1/ln(s) also shrinks exactly where "
    "the fan-out grows.",
)
def item_adamic_adar_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    arrs = _basket_arrays(spark, sf_dir)
    pairs = arrs.filter(F.size("pks") >= 2).select(
        (1.0 / F.log(F.size("pks").cast("double"))).alias("w"),
        F.explode(_pairs_in_array("pks")).alias("p"),
    )
    return (
        pairs.select(
            F.col("p.doc_a").alias("item_a"), F.col("p.doc_b").alias("item_b"), "w"
        )
        .groupBy("item_a", "item_b")
        .agg(F.count("*").alias("n_ab"), F.sum("w").alias("aa"))
        .filter(F.col("n_ab") >= MIN_SUPPORT)
        .select(
            "item_a", "item_b", "n_ab", F.round("aa", 6).alias("adamic_adar")
        )
        .orderBy(F.desc("adamic_adar"), "item_a", "item_b")
        .limit(TOP_PAIRS)
    )


KNN_K = 5


@register(
    "item_knn_graph",
    oracle=f"""
    WITH basket AS (
        SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
    ),
    freq AS (SELECT pk, COUNT(*) AS n FROM basket GROUP BY pk),
    co AS (
        SELECT a.pk AS item_a, b.pk AS item_b, COUNT(*) AS n_ab
        FROM basket a JOIN basket b ON a.ok = b.ok AND a.pk < b.pk
        GROUP BY a.pk, b.pk
        HAVING COUNT(*) >= {MIN_SUPPORT}
    ),
    sym AS (
        SELECT item_a AS item_id, item_b AS neighbor_id, n_ab FROM co
        UNION ALL
        SELECT item_b AS item_id, item_a AS neighbor_id, n_ab FROM co
    ),
    scored AS (
        SELECT s.item_id, s.neighbor_id,
               s.n_ab / sqrt(fa.n * fb.n) AS cos_raw
        FROM sym s
        JOIN freq fa ON fa.pk = s.item_id
        JOIN freq fb ON fb.pk = s.neighbor_id
    )
    SELECT item_id, neighbor_id, CAST(rnk AS BIGINT) AS rnk,
           ROUND(cos_raw, 6) AS cosine
    FROM (
        SELECT item_id, neighbor_id, cos_raw,
               ROW_NUMBER() OVER (
                   PARTITION BY item_id
                   ORDER BY cos_raw DESC, neighbor_id
               ) AS rnk
        FROM scored
    )
    WHERE rnk <= {KNN_K}
    """,
    doc="Item-KNN serving index: the top-{k} cosine neighbors PER ITEM "
    "(not the global top pairs item_cooccurrence_topk returns) — the "
    "precomputed similarity lists an item-CF recommender looks up at "
    "serving time (reference streaming_rec.py scores online instead; "
    "Sarwar et al. WWW'01 is the offline form). Pairs symmetrize by a "
    "map-side union of the triangular co-occurrence table (each "
    "undirected pair feeds both endpoints' lists), frequencies attach "
    "via AQE-broadcast item-dim joins, and the per-item cut is a "
    "row_number window over item_id — partition cardinality = catalog "
    "size, per-partition rows bounded by an item's co-occurring "
    "neighbors, so no global sort and no skew melt. Ranking uses the "
    "raw IEEE cosine (bit-identical in both engines on exact integer "
    "inputs) with neighbor_id tie-break; the rounded score is display "
    "only.",
)
def item_knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    arrs = _basket_arrays(spark, sf_dir)
    # both union branches read the triangular pair table; without the
    # checkpoint each branch re-runs the basket scan + pair aggregation
    co = _co_counts(arrs).localCheckpoint(eager=False)
    sym = co.select(
        F.col("item_a").alias("item_id"),
        F.col("item_b").alias("neighbor_id"),
        "n_ab",
    ).unionByName(
        co.select(
            F.col("item_b").alias("item_id"),
            F.col("item_a").alias("neighbor_id"),
            "n_ab",
        )
    )
    freq = _item_freq(arrs)
    fa = freq.select(F.col("pk").alias("item_id"), F.col("n").alias("n_a"))
    fb = freq.select(F.col("pk").alias("neighbor_id"), F.col("n").alias("n_b"))
    scored = (
        sym.join(fa, "item_id")
        .join(fb, "neighbor_id")
        .select(
            "item_id",
            "neighbor_id",
            (F.col("n_ab") / F.sqrt(F.col("n_a") * F.col("n_b"))).alias("cos_raw"),
        )
    )
    w = Window.partitionBy("item_id").orderBy(F.desc("cos_raw"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= KNN_K)
        .select(
            "item_id",
            "neighbor_id",
            F.col("rnk").cast("long").alias("rnk"),
            F.round("cos_raw", 6).alias("cosine"),
        )
    )


COVISIT_WINDOW_S = 3600  # a click "co-visits" items seen in the NEXT hour
COVISIT_TOP = 50


@register(
    "covisitation_matrix",
    oracle=f"""
    WITH ev AS (
        SELECT user_id,
               CAST(floor(epoch(ts)) AS BIGINT) AS t,
               CAST(json_extract_string(props, '$.k') AS INTEGER) AS k
        FROM events
    ),
    p AS (
        SELECT a.k AS ka, b.k AS kb
        FROM ev a JOIN ev b
          ON a.user_id = b.user_id
         AND b.t > a.t AND b.t <= a.t + {COVISIT_WINDOW_S}
         AND a.k <> b.k
    )
    SELECT ka, kb, COUNT(*) AS n_covisit
    FROM p GROUP BY ka, kb
    ORDER BY n_covisit DESC, ka, kb
    LIMIT {COVISIT_TOP}
    """,
    doc="Time-windowed DIRECTIONAL co-visitation matrix (the candidate-"
    "generation workhorse of modern session recommenders, e.g. the "
    "OTTO-style covisit matrices): item a co-visits item b when the same "
    "user touches b within the hour AFTER touching a — unlike basket "
    "co-occurrence (unordered, per-order) this is ordered in time, so "
    "click->buy asymmetries survive. Scale shape: the (0, 1h] band "
    "inequality join decomposes into an EQUI join on (user, hour-bucket) "
    "— each left row probes its own bucket and the next one (a 2-wide "
    "scan-side explode), the exact window re-checked post-join — the "
    "same bucketed-band decomposition as range_join_events_orders, so "
    "fan-out is bounded by per-user-per-hour activity, never a per-user "
    "cross join. The final cut is TakeOrdered on (count, ka, kb).",
)
def covisitation_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cqu_bigdata_recommender_system_for_movies_spark.tables import load as _load

    events = _load(spark, sf_dir, "events")
    ev = events.select(
        "user_id",
        F.unix_timestamp("ts").alias("t"),
        F.get_json_object("props", "$.k").cast("int").alias("k"),
    )
    hb = (F.col("t") / COVISIT_WINDOW_S).cast("long")
    a = ev.select(
        "user_id",
        F.col("t").alias("t_a"),
        F.col("k").alias("ka"),
        F.explode(F.array(hb, hb + 1)).alias("probe_hb"),
    )
    b = ev.select(
        F.col("user_id").alias("user_b"),
        F.col("t").alias("t_b"),
        F.col("k").alias("kb"),
        hb.alias("hb"),
    )
    pairs = a.join(
        b,
        (F.col("user_id") == F.col("user_b")) & (F.col("probe_hb") == F.col("hb")),
    ).filter(
        (F.col("t_b") > F.col("t_a"))
        & (F.col("t_b") <= F.col("t_a") + COVISIT_WINDOW_S)
        & (F.col("ka") != F.col("kb"))
    )
    return (
        pairs.groupBy("ka", "kb")
        .agg(F.count("*").alias("n_covisit"))
        .orderBy(F.desc("n_covisit"), "ka", "kb")
        .limit(COVISIT_TOP)
    )
