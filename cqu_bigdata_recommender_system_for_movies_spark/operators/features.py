"""Feature-engineering operators (north-star extension): the tabular
feature-prep steps a training pipeline runs between raw tables and a model —
quantile binning, feature hashing, min-max normalization, and CDC-style
keep-latest state compaction.

Scale notes:
- Binning is windowed PER GROUP (brand), never a global total order — a
  global NTILE is a single-partition sort; the per-group form shuffles on
  the group key like any agg.
- Feature hashing uses the engine-portable md5-prefix hash (same trick as
  dedup.py) so the DuckDB oracle reproduces bucket ids exactly; at 100 TB
  the hash is computed scan-side with no shuffle.
- Min-max bounds come from a 1-row broadcast aggregate, not a window over
  an empty frame (which would also be a single partition).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from cqu_bigdata_recommender_system_for_movies_spark.plans.registry import register
from cqu_bigdata_recommender_system_for_movies_spark.tables import TOKS_SQL, load, md5_long, tokens

N_BINS = 4
N_HASH_BUCKETS = 64


@register(
    "feature_engineering_suite",
    oracle=f"""
    WITH stats AS (
        SELECT MIN(p_retailprice) AS lo, MAX(p_retailprice) AS hi FROM part
    )
    SELECT p_partkey,
           NTILE({N_BINS}) OVER (
               PARTITION BY p_brand ORDER BY p_retailprice, p_partkey
           ) AS brand_price_bin,
           CAST(('0x' || substr(md5(p_brand), 1, 8)) AS BIGINT)
               % {N_HASH_BUCKETS} AS brand_bucket,
           ROUND((p_retailprice - lo) / (hi - lo), 6) AS price_norm,
           ROUND(ln(1 + p_retailprice), 6) AS log_price
    FROM part CROSS JOIN stats
    """,
    doc="Feature engineering (north star): per-brand price quartile via a "
    "partitioned NTILE window (tie-broken, never a global sort), portable "
    "hashed brand bucket (md5-prefix % 64 — identical in DuckDB), min-max "
    "price normalization against a broadcast 1-row bounds aggregate, and "
    "a log1p transform — the standard tabular feature-prep block.",
)
def feature_engineering_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load(spark, sf_dir, "part")
    stats = part.agg(
        F.min("p_retailprice").alias("lo"), F.max("p_retailprice").alias("hi")
    )
    w = Window.partitionBy("p_brand").orderBy("p_retailprice", "p_partkey")
    bucket = md5_long("p_brand") % N_HASH_BUCKETS
    return part.crossJoin(F.broadcast(stats)).select(
        "p_partkey",
        F.ntile(N_BINS).over(w).alias("brand_price_bin"),
        bucket.alias("brand_bucket"),
        F.round(
            (F.col("p_retailprice") - F.col("lo")) / (F.col("hi") - F.col("lo")), 6
        ).alias("price_norm"),
        F.round(F.log1p("p_retailprice"), 6).alias("log_price"),
    )


@register(
    "cdc_latest_state",
    oracle="""
    SELECT user_id, event_type, event_id AS last_event_id,
           ROUND(value, 4) AS last_value
    FROM (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY user_id, event_type ORDER BY ts DESC, event_id DESC
        ) AS rn
        FROM events
    )
    WHERE rn = 1
    """,
    doc="CDC keep-latest compaction (north star): treat events as an upsert "
    "change stream keyed by (user_id, event_type) and keep only the latest "
    "row per key — the batch form of MERGE-style last-writer-wins state, "
    "as one partitioned window rank (single shuffle on the key; AQE "
    "handles key skew).",
)
def cdc_latest_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    return (
        events.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            "event_type",
            F.col("event_id").alias("last_event_id"),
            F.round("value", 4).alias("last_value"),
        )
    )


PACK_CAPACITY = 512  # tokens per training sequence (context window)
PACK_BLOCK_DOCS = 256  # docs per prefix-sum block: the corpus-wide running
# sum is computed as (within-block window) + (per-block offset join), so
# packing parallelism is O(corpus / block), never O(n_langs). 256 keeps the
# two-phase path exercised even at sf0.01 (500 docs -> 2 blocks); a
# production deployment would size it ~64k.


@register(
    "sequence_pack_assignments",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, lang,
               len({TOKS_SQL}) AS n_tokens
        FROM documents
    ),
    c AS (
        SELECT doc_id, lang, n_tokens,
               COALESCE(SUM(n_tokens) OVER (
                   PARTITION BY lang ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0) AS cum_before
        FROM t
    )
    SELECT doc_id, lang, n_tokens,
           CAST(cum_before // {PACK_CAPACITY} AS BIGINT) AS pack_id,
           CAST(cum_before % {PACK_CAPACITY} AS BIGINT) AS pack_offset
    FROM c
    """,
    doc="Sequence packing (north star): concat-and-chunk assignment of "
    f"documents into {PACK_CAPACITY}-token training sequences — each doc "
    "gets the pack id and offset where its tokens land when the corpus is "
    "concatenated per language shard and cut at context-window boundaries "
    "(exactly how LLM pretraining packs short docs). The per-shard running "
    "sum is a TWO-PHASE block prefix sum: a window over (lang, block) "
    "computes within-block prefixes in parallel, per-block totals are "
    "aggregated (tiny — one row per block) and offset-cumsum'd, and the "
    "offsets join back broadcast-style — so the only single-task window "
    "runs over n_docs/block rows, and packing parallelism is "
    "O(corpus/block), never O(n_langs). A doc straddling a boundary "
    "continues into the next pack, matching concat-then-split semantics.",
)
def sequence_pack_assignments(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    n_tokens = F.size(tokens())
    # block_id is monotone in doc_id, so ordering by (block_id, doc_id)
    # within a lang equals ordering by doc_id — semantics are unchanged
    base = docs.select(
        "doc_id",
        "lang",
        n_tokens.alias("n_tokens"),
        F.floor(F.col("doc_id") / PACK_BLOCK_DOCS).alias("block_id"),
    )
    intra_w = (
        Window.partitionBy("lang", "block_id")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    intra = base.withColumn(
        "intra_before", F.coalesce(F.sum("n_tokens").over(intra_w), F.lit(0))
    )
    totals = base.groupBy("lang", "block_id").agg(
        F.sum("n_tokens").alias("block_total")
    )
    off_w = (
        Window.partitionBy("lang")
        .orderBy("block_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = totals.select(
        "lang",
        "block_id",
        F.coalesce(F.sum("block_total").over(off_w), F.lit(0)).alias(
            "block_before"
        ),
    )
    return (
        intra.join(offsets, ["lang", "block_id"])
        .withColumn("cum_before", F.col("block_before") + F.col("intra_before"))
        .select(
            "doc_id",
            "lang",
            "n_tokens",
            F.floor(F.col("cum_before") / PACK_CAPACITY).alias("pack_id"),
            (F.col("cum_before") % PACK_CAPACITY).alias("pack_offset"),
        )
    )


@register(
    "udaf_weighted_mean",
    oracle="""
    SELECT event_type,
           ROUND(SUM(value * (event_id % 7 + 1)) * 1.0 /
                 SUM(event_id % 7 + 1), 4) AS wavg_value
    FROM events
    GROUP BY event_type
    """,
    doc="UDAF surface (SURVEY §2.11): a user-defined aggregate as a "
    "grouped-agg pandas UDF (Arrow-vectorized weighted mean) — partial "
    "aggregation does NOT apply to pandas UDAFs, so this documents the "
    "trade: use built-ins when expressible (the oracle shows this one "
    "is), reach for the UDAF only for genuinely custom aggregates. "
    "Weights are a deterministic event_id hash so the oracle reproduces.",
)
def udaf_weighted_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.functions import pandas_udf

    from cqu_bigdata_recommender_system_for_movies_spark.shipping import ensure_shipped

    ensure_shipped(spark)

    @pandas_udf("double")
    def wavg(v: pd.Series, w: pd.Series) -> float:
        return float((v * w).sum() / w.sum())

    events = load(spark, sf_dir, "events")
    weighted = events.select(
        "event_type", "value", (F.col("event_id") % 7 + 1).alias("weight")
    )
    return weighted.groupBy("event_type").agg(
        F.round(wavg("value", "weight"), 4).alias("wavg_value")
    )


@register(
    "grouped_map_zscore",
    oracle="""
    SELECT event_id, user_id,
           ROUND(CASE WHEN sd > 0 THEN (value - mu) / sd ELSE 0.0 END, 4)
               AS zscore
    FROM (
        SELECT event_id, user_id, value,
               AVG(value) OVER (PARTITION BY user_id) AS mu,
               stddev_pop(value) OVER (PARTITION BY user_id) AS sd
        FROM events
    )
    """,
    doc="Grouped-map applyInPandas surface (SURVEY §2.11 — completes the "
    "pandas-UDF genre matrix: scalar, grouped-agg, grouped-map, "
    "map-batches, grouped-state): per-user z-score normalization where "
    "each user's events arrive as one Arrow-backed pandas frame. The "
    "oracle is the window-function twin — proving this one IS "
    "SQL-expressible, which is exactly the point the docstring makes: "
    "use applyInPandas only when the per-group computation is not "
    "(model fits, solver steps); when it is, the window form keeps the "
    "whole plan in codegen.",
)
def grouped_map_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cqu_bigdata_recommender_system_for_movies_spark.shipping import ensure_shipped

    ensure_shipped(spark)

    def zscore(pdf: pd.DataFrame) -> pd.DataFrame:
        sd = pdf["value"].std(ddof=0)
        mu = pdf["value"].mean()
        z = (pdf["value"] - mu) / sd if sd > 0 else 0.0
        return pdf.assign(zscore=z.round(4) if sd > 0 else 0.0)[
            ["event_id", "user_id", "zscore"]
        ]

    events = load(spark, sf_dir, "events").select("event_id", "user_id", "value")
    return events.groupBy("user_id").applyInPandas(
        zscore, "event_id long, user_id long, zscore double"
    )


@register(
    "cogroup_user_order_stats",
    oracle="""
    WITH e AS (
        SELECT user_id, COUNT(*) AS n_events FROM events GROUP BY user_id
    ),
    o AS (
        SELECT o_custkey AS user_id, COUNT(*) AS n_orders,
               MIN(o_orderdate) AS first_od
        FROM orders GROUP BY o_custkey
    ),
    eb AS (
        SELECT ev.user_id, COUNT(*) AS n_before
        FROM events ev JOIN o ON ev.user_id = o.user_id
                      AND ev.ts < o.first_od
        GROUP BY ev.user_id
    )
    SELECT user_id,
           CAST(COALESCE(e.n_events, 0) AS BIGINT) AS n_events,
           CAST(COALESCE(o.n_orders, 0) AS BIGINT) AS n_orders,
           CAST(COALESCE(eb.n_before, 0) AS BIGINT)
               AS n_events_before_first_order
    FROM e FULL OUTER JOIN o USING (user_id)
    LEFT JOIN eb USING (user_id)
    """,
    doc="Cogrouped-map surface (completes SURVEY §2.11's pandas-UDF genre "
    "matrix — scalar, grouped-agg, grouped-map, map-batches, grouped-state, "
    "and now COGROUPED-map): events cogrouped with orders per user, both "
    "sides of each key arriving as Arrow-backed pandas frames in one "
    "callback — the API for per-key logic that genuinely needs BOTH "
    "relations at once (asof merges, per-user reconciliation). Emits "
    "(n_events, n_orders, events-before-first-order) per user; keys "
    "present on either side appear (the empty side arrives as an empty "
    "frame). The oracle is the aggregate/full-outer-join twin, proving "
    "this instance IS SQL-expressible — the docstring trade again: "
    "cogroup shuffles both fact tables on the key and drops out of "
    "codegen, so reach for it only when pandas semantics are the point.",
)
def cogroup_user_order_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cqu_bigdata_recommender_system_for_movies_spark.shipping import ensure_shipped

    ensure_shipped(spark)

    def merge(key, ev: pd.DataFrame, od: pd.DataFrame) -> pd.DataFrame:
        n_before = 0
        if len(od) and len(ev):
            n_before = int((ev["ts"] < od["o_orderdate"].min()).sum())
        return pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [len(ev)],
                "n_orders": [len(od)],
                "n_events_before_first_order": [n_before],
            }
        )

    events = load(spark, sf_dir, "events").select("user_id", "ts")
    orders = load(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("user_id"), "o_orderdate"
    )
    return (
        events.groupBy("user_id")
        .cogroup(orders.groupBy("user_id"))
        .applyInPandas(
            merge,
            "user_id long, n_events long, n_orders long, "
            "n_events_before_first_order long",
        )
    )


# --- Rolling time-window features ------------------------------------------

ROLLING_DAYS = 30  # trailing window width (days, inclusive of current day)


@register(
    "rolling_time_window_features",
    oracle=f"""
    WITH ratings AS (
        SELECT o_custkey AS user_id, l_partkey AS item_id,
               l_quantity AS rating, o_orderdate AS ts
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    ),
    d AS (
        SELECT user_id, item_id, rating,
               date_diff('day', DATE '1970-01-01', ts) AS day
        FROM ratings
    )
    SELECT user_id, item_id, day,
           CAST(COUNT(*) OVER w AS BIGINT) AS n_last30,
           ROUND(SUM(rating) OVER w, 4) AS sum_last30,
           ROUND(AVG(rating) OVER w, 4) AS avg_last30
    FROM d
    WINDOW w AS (
        PARTITION BY user_id ORDER BY day
        RANGE BETWEEN {ROLLING_DAYS - 1} PRECEDING AND CURRENT ROW
    )
    """,
    doc=f"Leakage-safe rolling features — the standard trailing-window "
    f"aggregate of feature-engineering pipelines: per user, each "
    f"interaction's count/sum/mean of ratings over the trailing "
    f"{ROLLING_DAYS} days, as a RANGE frame over the event-day number "
    "(time-valued, so gaps count — a ROWS frame would silently widen "
    "with sparse activity). One hash-partition exchange on user_id + "
    "an in-partition sort; the frame is computed in a single pass with "
    "a sliding aggregate, never a per-row self-join (the O(n·w) "
    "anti-pattern). Duplicate (user, day) rows are frame PEERS in both "
    "engines, so the semantics and the hash agree exactly.",
)
def rolling_time_window_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cqu_bigdata_recommender_system_for_movies_spark.tables import ratings

    r = ratings(spark, sf_dir).select(
        "user_id",
        "item_id",
        "rating",
        F.datediff("ts", F.lit("1970-01-01")).cast("long").alias("day"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rangeBetween(-(ROLLING_DAYS - 1), 0)
    )
    return r.select(
        "user_id",
        "item_id",
        "day",
        F.count("*").over(w).alias("n_last30"),
        F.round(F.sum("rating").over(w), 4).alias("sum_last30"),
        F.round(F.avg("rating").over(w), 4).alias("avg_last30"),
    )


# --- BPR-style deterministic negative sampling -----------------------------

NEG_SAMPLES_PER_POS = 4  # K candidate negatives drawn per positive pair


@register(
    "bpr_negative_sampling",
    oracle=f"""
    WITH ratings AS (
        SELECT o_custkey AS user_id, l_partkey AS item_id,
               l_quantity AS rating, o_orderdate AS ts
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    ),
    pos AS (SELECT DISTINCT user_id, item_id FROM ratings),
    n_items AS (SELECT COUNT(*) AS n FROM part),
    cand AS (
        SELECT p.user_id, p.item_id AS pos_item, k.k,
               CAST(('0x' || substr(md5(p.user_id || '_' || p.item_id || '_' || k.k), 1, 8))
                    AS BIGINT) % n.n AS neg_item
        FROM pos p
        CROSS JOIN (SELECT unnest(range(1, {NEG_SAMPLES_PER_POS} + 1)) AS k) k
        CROSS JOIN n_items n
    )
    SELECT c.user_id, c.pos_item, c.k, c.neg_item
    FROM cand c
    WHERE NOT EXISTS (
        SELECT 1 FROM pos p2
        WHERE p2.user_id = c.user_id AND p2.item_id = c.neg_item
    )
    """,
    doc="Uniform negative sampling for BPR-style training (the reference "
    "trains LightGCN with BPR loss + uniform negative sampling, "
    "train_topn.py:78-109 — this is its set-oriented, resumable twin): "
    f"for every observed (user, item) positive, {NEG_SAMPLES_PER_POS} "
    "candidate negatives drawn by a DETERMINISTIC portable hash "
    "(md5-prefix of user_item_k, mod catalog size) so the sample is "
    "reproducible across engines, retries, and restarts — a property "
    "rand() sampling cannot give a 100 TB pipeline. Accidental "
    "positives are rejected with a left-anti join on the user's true "
    "positive set (rejection sampling, exactly as the reference loops). "
    "Shuffle cost: one distinct on (user, item) + one anti-join keyed "
    "on (user, neg_item); the 1-row catalog count broadcasts.",
)
def bpr_negative_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cqu_bigdata_recommender_system_for_movies_spark.tables import ratings

    pos = ratings(spark, sf_dir).select("user_id", "item_id").distinct()
    n_items = load(spark, sf_dir, "part").agg(F.count("*").alias("n"))
    ks = F.explode(F.sequence(F.lit(1), F.lit(NEG_SAMPLES_PER_POS))).alias("k")
    cand = (
        pos.select("user_id", F.col("item_id").alias("pos_item"), ks)
        .crossJoin(F.broadcast(n_items))
        .select(
            "user_id",
            "pos_item",
            "k",
            (
                md5_long(F.concat_ws("_", "user_id", "pos_item", "k")) % F.col("n")
            ).alias("neg_item"),
        )
    )
    return cand.join(
        pos.select("user_id", F.col("item_id").alias("neg_item")),
        ["user_id", "neg_item"],
        "left_anti",
    ).select("user_id", "pos_item", "k", "neg_item")


@register(
    "rank_normalize_features",
    oracle="""
    SELECT event_id, event_type,
           ROUND(PERCENT_RANK() OVER (PARTITION BY event_type ORDER BY value),
                 6) AS value_pctile,
           ROUND(CUME_DIST() OVER (PARTITION BY event_type ORDER BY value),
                 6) AS value_cume
    FROM events
    """,
    doc="Rank normalization (quantile transform) of a skewed feature: "
    "percent_rank and cume_dist within each event_type map value onto "
    "[0, 1] uniformly — the monotone transform tree models and "
    "calibration layers prefer over raw heavy-tailed inputs. Ties "
    "share a rank by definition, so NO tie-break column is needed for "
    "engine determinism — the one window family that is "
    "hash-comparable without one. One shuffle on the partition key; "
    "at 100 TB the same transform runs approximately via "
    "approx_percentile buckets when a full per-key sort is too hot.",
)
def rank_normalize_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    w = Window.partitionBy("event_type").orderBy("value")
    return load(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.round(F.percent_rank().over(w), 6).alias("value_pctile"),
        F.round(F.cume_dist().over(w), 6).alias("value_cume"),
    )


# ---------------------------------------------------------------------------
# Out-of-fold target encoding
# ---------------------------------------------------------------------------

TE_FOLDS = 5
TE_PRIOR = 20.0  # smoothing pseudo-count toward the global mean


@register(
    "target_encoding_oof",
    oracle=f"""
    WITH folded AS (
        SELECT event_type,
               CAST(('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 8))
                    AS BIGINT) % {TE_FOLDS} AS fold,
               value
        FROM events
    ),
    cell AS (
        SELECT event_type, fold, SUM(value) AS s, COUNT(*) AS c
        FROM folded GROUP BY 1, 2
    ),
    g AS (SELECT SUM(value) / COUNT(*) AS gmean FROM events)
    SELECT event_type, fold,
           CAST(SUM(c) OVER (PARTITION BY event_type) - c AS BIGINT) AS oof_n,
           ROUND((SUM(s) OVER (PARTITION BY event_type) - s
                  + {TE_PRIOR} * gmean)
                 / (SUM(c) OVER (PARTITION BY event_type) - c + {TE_PRIOR}),
                 4) AS oof_encoding
    FROM cell CROSS JOIN g
    """,
    doc="K-fold out-of-fold target encoding: the leakage-free categorical "
    "encoding a tabular training pipeline applies before boosting. Rows "
    f"hash-assign to {TE_FOLDS} folds; a category's encoding for fold f "
    "averages the target over the OTHER folds, smoothed toward the "
    "global mean with a pseudo-count prior. Built from one "
    "(category, fold) aggregation -- the per-category totals come from a "
    "window over the tiny cell table, never a second scan -- and the "
    "output IS the broadcast side of the training join at 100 TB: "
    "categories x folds rows, independent of input size.",
)
def target_encoding_oof(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load(spark, sf_dir, "events")
    fold = md5_long(F.col("event_id").cast("string")) % TE_FOLDS
    cell = events.groupBy("event_type", fold.alias("fold")).agg(
        F.sum("value").alias("s"), F.count("*").alias("c")
    )
    g = events.agg((F.sum("value") / F.count("*")).alias("gmean"))
    w = Window.partitionBy("event_type")
    return cell.crossJoin(F.broadcast(g)).select(
        "event_type",
        "fold",
        (F.sum("c").over(w) - F.col("c")).alias("oof_n"),
        F.round(
            (F.sum("s").over(w) - F.col("s") + TE_PRIOR * F.col("gmean"))
            / (F.sum("c").over(w) - F.col("c") + TE_PRIOR),
            4,
        ).alias("oof_encoding"),
    )
