"""Mergeable-sketch aggregates: DataSketches HLL distinct rollups and
frequent-items (approx_top_k) heavy hitters.

These are the 100 TB substitutes for exact COUNT(DISTINCT) / exact top-k:
a sketch is built once per group with map-side partial aggregation, is
tiny (KBs) regardless of input size, and — critically — RE-AGGREGATES:
``hll_union_agg`` merges already-built group sketches into coarser
rollup levels without touching the raw data again. That is the property
an exact distinct count does not have (distinct counts don't add), and
it is why production pipelines persist sketch columns in their rollup
tables. The reference has no sketch surface; SURVEY.md §2 lists this
under the beyond-reference pipeline extensions.

Correctness note: the HLL oracles hash EXACT COUNT(DISTINCT) anchor
columns plus the band TOLERANCE in integer centi-units (band_tol_x100 =
greatest(200, exact) — recomputed independently by the oracle, so the
driver verifies the band arithmetic, VERDICT r7 #4); the sketch estimate
feeds an in-query band verdict (|est − exact| ≤ max(2, 1%·exact), i.e.
100·|est − exact| ≤ band_tol_x100) whose formula is pinned in each
oracle's text. The band holds at ANY cardinality: below the coupon/SET
boundary (~3/4·2^(lgK-3) distinct ≈ 24.5k at lgK=18, probed
empirically for direct and union paths) deviation is a couple of
coupon-hash collisions; above it, lgK=18's 3σ relative error is
0.61% < 1%. tests/test_sketches.py recomputes the band independently.
The frequent-items sketch IS oracle-checked exactly — valid while no
eviction occurs, i.e. while maxItemsTracked (Spark's 1M cap) exceeds
distinct keys; that cap is asserted in tests/test_sketches.py so a
testdata change that breaks the exact-mode assumption fails loudly
instead of silently flipping a driver row.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cqu_bigdata_recommender_system_for_movies_spark.plans.registry import register
from cqu_bigdata_recommender_system_for_movies_spark.tables import load, md5_long

# lgConfigK=18 → 256 KiB dense sketch, ±0.20% relative error at scale;
# exact (coupon/SET) mode holds to 3/4·2^(lgK-3) ≈ 24.5k distinct per
# sketch — past the 15k distinct users of the 10× parity sweep (lgK=14's
# ~1.5k boundary was found when that sweep left exact mode). Probed
# empirically: direct and 30-way-union paths exact at 24k, estimating
# at 30k.
HLL_LG_K = 18

# Frequent-items capacity: must exceed distinct l_partkey at the largest
# verified sf for the sketch to stay in exact mode. Set to Spark's hard
# cap (ApproxTopK.checkMaxItemsTracked rejects > 1_000_000) — exact
# through 1M distinct keys (the 10× parity sweep's 200k included, found
# when 65536 < 200k flipped the sweep to estimates), graceful estimates
# beyond. The sketch map grows lazily, so the cap costs nothing at
# small cardinalities.
TOPK_MAX_ITEMS_TRACKED = 1_000_000
TOPK_K = 20


def _hll_band_cols(est, exact_col: str) -> list:
    """Band columns: the tolerance AND the verdict.

    Band: |estimate − exact| ≤ greatest(2, 1% · exact), equivalently (×100,
    exact integer arithmetic) 100·|estimate − exact| ≤ greatest(200, exact).
    The band every HLL oracle pins in its text (asserted independently at
    any cardinality by tests/test_sketches.py::test_hll_band_holds_at_this_sf).
    In coupon mode the deviation is bounded by a couple of 26-bit
    coupon-hash collisions — the 10× parity sweep surfaced exactly that:
    37 of 720 sliding windows off by one at ~3.5k distinct/window, so
    bit-exact oracles on sketch ESTIMATES are data-luck, not a contract.
    Past coupon mode, lgK=18's 3σ relative error is 0.61% < 1%.

    VERDICT r7 #4: the verdict boolean alone is a self-reported bit — a
    wrong tolerance formula would still hash-pass. So the tolerance is also
    EMITTED, in integer centi-units (greatest(200, exact) = 100× the band
    width — exactly representable as BIGINT on both engines), and the
    oracle recomputes it from the exact anchor: the driver now hashes the
    tolerance arithmetic, not just the verdict. The verdict itself compares
    against this same emitted quantity, so the hashed column is the one the
    verdict actually used.
    """
    exact = F.col(exact_col).cast("long")
    tol_x100 = F.greatest(F.lit(200).cast("long"), exact)
    verdict = (
        F.abs(est.cast("double") - exact.cast("double")) * F.lit(100.0)
        <= tol_x100.cast("double")
    )
    return [tol_x100.alias("band_tol_x100"), verdict.alias("hll_within_pct")]


@register(
    "hll_distinct_rollup",
    oracle="""
    WITH t AS (
        SELECT event_type,
               COUNT(DISTINCT user_id) AS n_users,
               COUNT(*) AS n_events
        FROM events GROUP BY event_type
        UNION ALL
        SELECT 'ALL' AS event_type,
               COUNT(DISTINCT user_id) AS n_users,
               COUNT(*) AS n_events
        FROM events
    )
    -- hll_within_pct is evaluated engine-side against the pinned band
    -- abs(hll_estimate - n_users) <= greatest(2, 0.01 * n_users), i.e.
    -- (x100, integer-exact) 100*abs(est - n_users) <= greatest(200, n_users);
    -- band_tol_x100 recomputes that tolerance here so the driver hashes the
    -- band arithmetic, not just the verdict bit (VERDICT r7 #4); the exact
    -- anchors verify the rollup/merge logic engine-independently
    SELECT event_type, n_users, n_events,
           GREATEST(CAST(200 AS BIGINT), n_users) AS band_tol_x100,
           TRUE AS hll_within_pct
    FROM t
    """,
    doc="Mergeable distinct-count rollup: per-event_type distinct users "
    "via hll_sketch_agg, then the GRAND-TOTAL estimate derived by "
    "hll_union_agg over the five per-type sketches — the 'ALL' row "
    "re-aggregates KB-sized sketches, not data. This is the "
    "rollup-table pattern at 100 TB: persist the sketch column at the "
    "finest grain, merge upward for free. Verification shape: exact "
    "COUNT(DISTINCT) anchor columns (oracle-checked bit-exactly) plus "
    "an in-query band verdict on the sketch estimate — sketch "
    "estimates are not bit-stable across cardinalities (coupon-hash "
    "collisions; see _hll_band_cols), so the accuracy contract is a "
    "band, and only the verification twin pays for the exact pass.",
)
def hll_distinct_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load(spark, sf_dir, "events")
    # Materialize the per-type sketch table (5 rows, KB-sized): BOTH output
    # branches read it, and without the checkpoint each branch would
    # re-scan events and re-build the sketches — the exact re-aggregation
    # cost this operator exists to avoid. This is the in-session stand-in
    # for the persisted sketch column of a production rollup table.
    # (count_distinct here is the verification twin, not the operator.)
    per_type = (
        events.groupBy("event_type")
        .agg(
            F.expr(f"hll_sketch_agg(user_id, {HLL_LG_K})").alias("sk"),
            F.count_distinct("user_id").alias("n_users"),
            F.count("*").alias("n_events"),
        )
        .localCheckpoint(eager=False)
    )
    # Grand-total ESTIMATE from MERGED sketches (no second scan of events);
    # the grand-total exact anchor needs its own distinct pass — the cost
    # the merge avoids, paid here only to verify it.
    total_exact = events.agg(
        F.count_distinct("user_id").alias("n_users"),
        F.count("*").alias("n_events"),
    )
    total = (
        per_type.agg(
            F.expr("hll_sketch_estimate(hll_union_agg(sk, false))").alias("est")
        )
        .join(F.broadcast(total_exact))  # 1×1 broadcast cross
        .select(
            F.lit("ALL").alias("event_type"),
            "n_users",
            "n_events",
            *_hll_band_cols(F.col("est"), "n_users"),
        )
    )
    per_type_est = per_type.select(
        "event_type",
        "n_users",
        "n_events",
        *_hll_band_cols(F.expr("hll_sketch_estimate(sk)"), "n_users"),
    )
    return per_type_est.unionByName(total)


@register(
    "approx_topk_parts",
    oracle=f"""
    WITH counts AS (
        SELECT l_partkey AS item, COUNT(*) AS cnt
        FROM lineitem GROUP BY l_partkey
    ),
    boundary AS (
        SELECT cnt FROM counts ORDER BY cnt DESC LIMIT {TOPK_K}
    )
    SELECT item, cnt
    FROM counts
    WHERE cnt > (SELECT MIN(cnt) FROM boundary)
    """,
    doc="Sketch-based heavy hitters: approx_top_k over l_partkey builds a "
    "frequent-items sketch in one pass (map-side mergeable, no exact "
    "groupBy of the full key space on the reduce side). Determinism at "
    "the k-th boundary: the sketch breaks count-ties arbitrarily, so "
    "both sides drop items tied AT the boundary count (keep cnt > "
    "min(top-k cnt)) — the surviving set is engine-independent because "
    "the top-k COUNT MULTISET is unique even when the member set is "
    "not. Counts are exact while maxItemsTracked exceeds the distinct "
    "key count (asserted in tests); beyond that the same query "
    "degrades gracefully to sketch estimates.",
)
def approx_topk_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = load(spark, sf_dir, "lineitem")
    sketch = lineitem.agg(
        F.expr(
            f"approx_top_k(l_partkey, {TOPK_K}, {TOPK_MAX_ITEMS_TRACKED})"
        ).alias("tk")
    )
    # 20-row result of the one-pass sketch build; checkpointed because the
    # boundary subquery AND the final filter both read it (otherwise the
    # full lineitem sketch pass runs twice).
    exploded = (
        sketch.select(F.explode("tk").alias("e"))
        .select(F.col("e.item").alias("item"), F.col("e.count").alias("cnt"))
        .localCheckpoint(eager=False)
    )
    boundary = exploded.agg(F.min("cnt").alias("b"))
    return exploded.join(F.broadcast(boundary)).filter(F.col("cnt") > F.col("b")).select(
        "item", "cnt"
    )


SLIDE_WINDOW_HOURS = 3  # trailing window: hours (b-2, b-1, b)


@register(
    "hll_sliding_distinct",
    oracle="""
    WITH e AS (
        SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) // 3600 AS h,
               user_id
        FROM events
    ),
    hrs AS (SELECT DISTINCT h FROM e)
    -- hll_within_pct is evaluated engine-side against the pinned band
    -- abs(hll_estimate - trailing_users) <= greatest(2, 0.01 * trailing_users),
    -- i.e. (x100, integer-exact) 100*abs(est - tu) <= greatest(200, tu);
    -- band_tol_x100 recomputes that tolerance so the driver hashes the band
    -- arithmetic, not just the verdict bit (VERDICT r7 #4)
    SELECT make_timestamp(CAST(b.h AS BIGINT) * 3600 * 1000000) AS bucket,
           COUNT(DISTINCT e.user_id) AS trailing_users,
           COUNT(DISTINCT e.h) AS window_hours,
           GREATEST(CAST(200 AS BIGINT), COUNT(DISTINCT e.user_id))
               AS band_tol_x100,
           TRUE AS hll_within_pct
    FROM hrs b JOIN e ON e.h BETWEEN b.h - 2 AND b.h
    GROUP BY b.h
    """,
    doc="Sliding-window distinct count — the query exact COUNT(DISTINCT) "
    "cannot do incrementally: distinct users over each trailing 3-hour "
    "window, computed by building ONE HLL sketch per hour and merging "
    "each hour's sketch into the 3 windows it belongs to (map-side "
    "replicate by window offset, then hll_union_agg per target bucket) "
    "— the raw events are scanned once, and window width changes only "
    "the replication factor, never a rescan. The oracle's range "
    "self-join re-reads every event once per window it falls in — "
    "exactly the cost curve the sketch algebra flattens at 100 TB. "
    "window_hours counts the hours merged (boundary buckets < 3). "
    "Verification shape: the exact trailing_users anchor replays the "
    "replicate trick on per-hour DISTINCT pairs (oracle-checked "
    "bit-exactly, so the window/merge logic is verified exactly); the "
    "sketch estimate feeds the band verdict — the 10× sweep showed "
    "estimates drift off-by-one from coupon collisions at ~3.5k "
    "distinct/window (_hll_band_cols).",
)
def hll_sliding_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load(spark, sf_dir, "events")
    # integer hour ids keep the window arithmetic engine-portable
    hours = events.select(
        (F.unix_micros(F.date_trunc("hour", "ts")) / F.lit(3_600_000_000))
        .cast("long")
        .alias("h"),
        "user_id",
    )
    hourly = (
        hours.groupBy("h")
        .agg(F.expr(f"hll_sketch_agg(user_id, {HLL_LG_K})").alias("sk"))
        .localCheckpoint(eager=False)  # read by the replicate AND the bucket list
    )
    replicated = hourly.select(
        F.explode(F.sequence(F.col("h"), F.col("h") + (SLIDE_WINDOW_HOURS - 1))).alias(
            "tb"
        ),
        "sk",
    )
    merged = replicated.groupBy("tb").agg(
        F.expr("hll_sketch_estimate(hll_union_agg(sk, false))").alias("est"),
        F.count("*").alias("window_hours"),
    )
    # Exact verification twin: the same replicate-by-offset shape over
    # per-hour DISTINCT (h, user_id) pairs — this is the cost curve the
    # sketch flattens, paid here only to anchor the band.
    exact = (
        hours.distinct()
        .select(
            F.explode(
                F.sequence(F.col("h"), F.col("h") + (SLIDE_WINDOW_HOURS - 1))
            ).alias("tb"),
            "user_id",
        )
        .groupBy("tb")
        .agg(F.count_distinct("user_id").alias("trailing_users"))
    )
    # trailing windows exist only for buckets that have their own data
    buckets = hourly.select(F.col("h").alias("tb"))
    return (
        merged.join(exact, "tb")
        .join(F.broadcast(buckets), "tb")
        .select(
            F.timestamp_micros(F.col("tb") * F.lit(3_600_000_000)).alias("bucket"),
            "trailing_users",
            "window_hours",
            *_hll_band_cols(F.col("est"), "trailing_users"),
        )
    )


# ---------------------------------------------------------------------------
# Bloom-filter runtime join pruning
# ---------------------------------------------------------------------------

# 65,536 bits packed into 2,048 x 32-bit words (stored in BIGINTs so the
# DuckDB oracle's shifts never touch the sign bit). With ~300 build keys at
# sf0.01 and k=3 hashes the false-positive rate is ~1e-5 -- and, critically
# for the oracle, DETERMINISTIC: both engines derive identical bit
# positions from the same md5 arithmetic, so they agree on every false
# positive, not just on the rate.
BLOOM_BITS = 1 << 16
BLOOM_WORD_BITS = 32
BLOOM_WORDS = BLOOM_BITS // BLOOM_WORD_BITS
BLOOM_K = 3
BLOOM_SEGMENT = "BUILDING"


def _bloom_pos(col, i: int):
    """Engine-portable hash position i for a key column: md5-prefix of a
    salted rendering, mod BLOOM_BITS. Identical to the DuckDB rendering
    ('bf' || i || '-' || key)."""
    salted = F.concat(F.lit(f"bf{i}-"), col.cast("string"))
    return md5_long(salted) % BLOOM_BITS


def _bit_mask(pos_col_name: str):
    """1L << (pos % word) as a Column. F.shiftleft only takes a literal
    shift count, so the variable-distance shift goes through F.expr."""
    return F.expr(
        f"shiftleft(CAST(1 AS BIGINT), CAST({pos_col_name} % {BLOOM_WORD_BITS} AS INT))"
    )


@register(
    "bloom_semi_join_prune",
    oracle=f"""
    WITH build AS (
        SELECT DISTINCT c_custkey FROM customer
        WHERE c_mktsegment = '{BLOOM_SEGMENT}'
    ),
    build_pos AS (
        SELECT CAST(('0x' || substr(md5('bf' || i || '-' || c_custkey), 1, 8))
                    AS BIGINT) % {BLOOM_BITS} AS p
        FROM build CROSS JOIN (VALUES (0), (1), (2)) t(i)
    ),
    words AS (
        SELECT p // {BLOOM_WORD_BITS} AS w,
               bit_or(CAST(1 AS BIGINT) << (p % {BLOOM_WORD_BITS})) AS mask
        FROM build_pos GROUP BY 1
    ),
    probe_pos AS (
        SELECT o_orderkey, o_custkey, o_orderpriority,
               CAST(('0x' || substr(md5('bf' || i || '-' || o_custkey), 1, 8))
                    AS BIGINT) % {BLOOM_BITS} AS p
        FROM orders CROSS JOIN (VALUES (0), (1), (2)) t(i)
    ),
    checked AS (
        SELECT o_orderkey,
               any_value(o_custkey) AS o_custkey,
               any_value(o_orderpriority) AS o_orderpriority,
               COUNT(*) FILTER (
                   WHERE ((w.mask >> (p % {BLOOM_WORD_BITS})) & 1) = 1
               ) = {BLOOM_K} AS bloom_pass
        FROM probe_pos LEFT JOIN words w ON w.w = p // {BLOOM_WORD_BITS}
        GROUP BY o_orderkey
    )
    SELECT o_orderpriority,
           COUNT(*) AS n_probe,
           COUNT(*) FILTER (WHERE bloom_pass) AS n_pass_bloom,
           COUNT(*) FILTER (
               WHERE o_custkey IN (SELECT c_custkey FROM build)
           ) AS n_true_match,
           COUNT(*) FILTER (
               WHERE bloom_pass
                 AND o_custkey NOT IN (SELECT c_custkey FROM build)
           ) AS n_false_pos
    FROM checked
    GROUP BY o_orderpriority
    """,
    doc="Runtime Bloom-filter join pruning -- the InjectRuntimeFilter "
    "pattern made explicit: build a 65,536-bit Bloom filter over the "
    "dimension keys (one distinct + one bit_or aggregation, result is a "
    "fixed 16 KiB bitmap regardless of input size), ship it to the fact "
    "scan as an ARRAY LITERAL, and evaluate membership entirely "
    "scan-side -- zero probe-side shuffle before the final rollup. At "
    "100 TB this prunes the fact table BEFORE the join shuffle, which is "
    "exactly what Spark's own bloom runtime filter does; the KB-bounded "
    "driver collect of the bitmap is the same step Spark performs when "
    "it materializes a runtime filter as a literal. Reports per-priority "
    "probe/pass/true-match/false-positive counts; no-false-negative is "
    "asserted in tests.",
)
def bloom_semi_join_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")

    build = (
        customer.filter(F.col("c_mktsegment") == BLOOM_SEGMENT)
        .select("c_custkey")
        .distinct()
    )

    # --- build the bitmap: explode k positions, OR the word masks -------
    pos = build.select(
        F.explode(
            F.array(*[_bloom_pos(F.col("c_custkey"), i) for i in range(BLOOM_K)])
        ).alias("p")
    )
    words = (
        pos.select(
            (F.col("p") / BLOOM_WORD_BITS).cast("int").alias("w"),
            _bit_mask("p").alias("m"),
        )
        .groupBy("w")
        .agg(F.bit_or("m").alias("mask"))
    )
    # Fixed-size sketch (<= 2,048 rows, 16 KiB): collecting it is the
    # runtime-filter materialization step, NOT a data-sized collect.
    dense = [0] * BLOOM_WORDS
    for row in words.collect():
        dense[row["w"]] = row["mask"]
    bitmap = F.lit(dense)  # array<bigint> literal, broadcast with the plan

    # --- probe scan-side: all k bits set => bloom_pass ------------------
    probed = orders.withColumns(
        {f"p{i}": _bloom_pos(F.col("o_custkey"), i) for i in range(BLOOM_K)}
    )
    cond = F.lit(True)
    for i in range(BLOOM_K):
        word = F.element_at(
            bitmap, ((F.col(f"p{i}") / BLOOM_WORD_BITS).cast("int") + 1)
        )
        cond = cond & (word.bitwiseAND(_bit_mask(f"p{i}")) != 0)

    flagged = probed.withColumn("bloom_pass", cond).join(
        F.broadcast(build.withColumn("is_match", F.lit(True))),
        F.col("o_custkey") == F.col("c_custkey"),
        "left",
    )
    return flagged.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_probe"),
        F.count_if("bloom_pass").alias("n_pass_bloom"),
        F.count_if(F.col("is_match").isNotNull()).alias("n_true_match"),
        F.count_if(F.col("bloom_pass") & F.col("is_match").isNull()).alias(
            "n_false_pos"
        ),
    )


# ---------------------------------------------------------------------------
# Mergeable fixed-bin histogram quantiles
# ---------------------------------------------------------------------------

HIST_BINS = 128


@register(
    "histogram_quantile_sketch",
    oracle=f"""
    WITH stats AS (
        SELECT MIN(o_totalprice) AS lo,
               (MAX(o_totalprice) - MIN(o_totalprice)) / {HIST_BINS} AS width
        FROM orders
    ),
    binned AS (
        SELECT o_orderpriority,
               LEAST(CAST(FLOOR((o_totalprice - lo) / width) AS BIGINT),
                     {HIST_BINS - 1}) AS bin
        FROM orders CROSS JOIN stats
    ),
    hist AS (
        SELECT o_orderpriority, bin, COUNT(*) AS cnt
        FROM binned GROUP BY 1, 2
    ),
    keyed AS (
        SELECT o_orderpriority, bin, cnt FROM hist
        UNION ALL
        SELECT 'ALL' AS o_orderpriority, bin, SUM(cnt) AS cnt
        FROM hist GROUP BY 2
    ),
    ranked AS (
        SELECT o_orderpriority, bin, cnt,
               SUM(cnt) OVER (PARTITION BY o_orderpriority ORDER BY bin) AS cum,
               SUM(cnt) OVER (PARTITION BY o_orderpriority) AS n_rows
        FROM keyed
    ),
    picked AS (
        SELECT o_orderpriority,
               CAST(any_value(n_rows) AS BIGINT) AS n_rows,
               MIN(CASE WHEN cum >= 0.5 * n_rows THEN bin END) AS b50,
               MIN(CASE WHEN cum >= 0.9 * n_rows THEN bin END) AS b90
        FROM ranked GROUP BY 1
    )
    SELECT o_orderpriority, n_rows,
           ROUND(lo + b50 * width, 4) AS approx_p50,
           ROUND(lo + b90 * width, 4) AS approx_p90
    FROM picked CROSS JOIN stats
    """,
    doc="Mergeable histogram quantile sketch: a fixed 128-bin equi-width "
    "histogram is built per group with map-side partial aggregation "
    "(bin id computed scan-side from a broadcast 1-row min/max), then "
    "p50/p90 read off the cumulative counts. The 'ALL' row re-aggregates "
    "the per-group HISTOGRAMS -- bin counts add, so the global quantile "
    "costs a 5x128-row sum, never a second scan. This is the "
    "t-digest/KLL rollup-table pattern with a deterministic sketch, so "
    "the DuckDB oracle matches bit-for-bit; error is bounded by the bin "
    "width rather than a probabilistic guarantee.",
)
def histogram_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    orders = load(spark, sf_dir, "orders")
    stats = orders.agg(
        F.min("o_totalprice").alias("lo"),
        (
            (F.max("o_totalprice") - F.min("o_totalprice")) / HIST_BINS
        ).alias("width"),
    )
    binned = orders.crossJoin(F.broadcast(stats)).select(
        "o_orderpriority",
        F.least(
            F.floor((F.col("o_totalprice") - F.col("lo")) / F.col("width")),
            F.lit(HIST_BINS - 1),
        ).alias("bin"),
    )
    hist = (
        binned.groupBy("o_orderpriority", "bin")
        .agg(F.count("*").alias("cnt"))
        .localCheckpoint(eager=False)  # read twice: per-group rows + ALL merge
    )
    keyed = hist.unionByName(
        hist.groupBy("bin")
        .agg(F.sum("cnt").alias("cnt"))
        .select(F.lit("ALL").alias("o_orderpriority"), "bin", "cnt")
    )
    w_cum = (
        Window.partitionBy("o_orderpriority")
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_all = Window.partitionBy("o_orderpriority")
    ranked = keyed.select(
        "o_orderpriority",
        "bin",
        F.sum("cnt").over(w_cum).alias("cum"),
        F.sum("cnt").over(w_all).alias("n_rows"),
    )
    picked = ranked.groupBy("o_orderpriority").agg(
        F.any_value("n_rows").alias("n_rows"),
        F.min(F.when(F.col("cum") >= 0.5 * F.col("n_rows"), F.col("bin"))).alias(
            "b50"
        ),
        F.min(F.when(F.col("cum") >= 0.9 * F.col("n_rows"), F.col("bin"))).alias(
            "b90"
        ),
    )
    return picked.crossJoin(F.broadcast(stats)).select(
        "o_orderpriority",
        "n_rows",
        F.round(F.col("lo") + F.col("b50") * F.col("width"), 4).alias("approx_p50"),
        F.round(F.col("lo") + F.col("b90") * F.col("width"), 4).alias("approx_p90"),
    )


# --- Count-Min sketch ------------------------------------------------------

CMS_P = 2147483647  # 2^31 - 1, same Mersenne prime as the MinHash hashes
CMS_DEPTH = 4
CMS_WIDTH = 512
# fixed affine coefficients (a odd < 2^20) — deterministic in both engines
CMS_AB = ((387461, 817504), (552581, 193937), (721589, 664817), (117191, 412889))
CMS_QUERY_K = 20

_CMS_HASH_SQL = "((({a} * user_id + {b}) % {p}) % {w})"


def _cms_counters_sql() -> str:
    rows = "\n            UNION ALL\n".join(
        f"SELECT {r} AS r, "
        + _CMS_HASH_SQL.format(a=a, b=b, p=CMS_P, w=CMS_WIDTH)
        + " AS bucket, n FROM counts"
        for r, (a, b) in enumerate(CMS_AB)
    )
    return f"counters AS (SELECT r, bucket, SUM(n) AS c FROM ({rows}) GROUP BY r, bucket)"


@register(
    "cms_user_frequency",
    oracle=f"""
    WITH counts AS (
        SELECT user_id, COUNT(*) AS n FROM events GROUP BY user_id
    ),
    {_cms_counters_sql()},
    queried AS (
        SELECT user_id, n FROM counts
        ORDER BY n DESC, user_id LIMIT {CMS_QUERY_K}
    ),
    probes AS (
        {" UNION ALL ".join(
            f"SELECT user_id, n, {r} AS r, "
            + _CMS_HASH_SQL.format(a=a, b=b, p=CMS_P, w=CMS_WIDTH)
            + " AS bucket FROM queried"
            for r, (a, b) in enumerate(CMS_AB)
        )}
    )
    SELECT p.user_id,
           CAST(MIN(p.n) AS BIGINT) AS exact_n,
           CAST(MIN(c.c) AS BIGINT) AS cms_est
    FROM probes p JOIN counters c ON p.r = c.r AND p.bucket = c.bucket
    GROUP BY p.user_id
    """,
    doc="Count-Min sketch (Cormode & Muthukrishnan '05) point-frequency "
    "estimates: a depth-4 x width-512 counter matrix built in ONE "
    "aggregation pass — each key adds its count to one bucket per hash "
    "row, map-side combine collapses the shuffle to <= depth*width "
    "groups regardless of input size, and two sketches MERGE by cell-wise "
    "addition (the property that lets 1000 executors each build a local "
    "sketch and tree-reduce 8 KB matrices instead of shuffling keys). "
    "The estimate min_r(counter[r][h_r(x)]) NEVER underestimates; the "
    "overestimate is bounded by 2n/width per row w.h.p. Here the top-20 "
    "users by exact count are probed and both numbers returned side by "
    "side; the oracle replays the identical affine hashes so the sketch "
    "matrix — collisions included — is bit-identical in DuckDB. The "
    "pre-aggregation by key before the explode x depth is a pure "
    "optimization: CMS counters are additive, so folding a key's count "
    "in one update equals n unit updates.",
)
def cms_user_frequency(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load(spark, sf_dir, "events")
    counts = events.groupBy("user_id").agg(F.count("*").alias("n")).localCheckpoint(
        eager=False
    )

    def bucket(r: int):
        a, b = CMS_AB[r]
        return (F.lit(a) * F.col("user_id") + F.lit(b)) % CMS_P % CMS_WIDTH

    rows = [
        counts.select(F.lit(r).alias("r"), bucket(r).alias("bucket"), "n")
        for r in range(CMS_DEPTH)
    ]
    stacked = rows[0]
    for df in rows[1:]:
        stacked = stacked.unionByName(df)
    counters = stacked.groupBy("r", "bucket").agg(F.sum("n").alias("c"))

    queried = counts.orderBy(F.desc("n"), F.asc("user_id")).limit(CMS_QUERY_K)
    probes = [
        queried.select("user_id", "n", F.lit(r).alias("r"), bucket(r).alias("bucket"))
        for r in range(CMS_DEPTH)
    ]
    probe = probes[0]
    for df in probes[1:]:
        probe = probe.unionByName(df)
    # the counter matrix is <= depth*width rows (8 KB) — always broadcast
    return (
        probe.join(F.broadcast(counters), ["r", "bucket"])
        .groupBy("user_id")
        .agg(
            F.min("n").cast("long").alias("exact_n"),
            F.min("c").cast("long").alias("cms_est"),
        )
    )


# --- KMV (bottom-k) set-intersection sketch --------------------------------

KMV_K = 256

# portable 32-bit md5 hash -> uniform in (0, 1]; distinct on the hash value
# merges 32-bit collisions identically in both engines (same contract as the
# hashed-shingle family)
_KMV_HASH_SQL = (
    "(CAST(('0x' || substr(md5(CAST({col} AS VARCHAR)), 1, 8)) AS BIGINT) + 1)"
    " / 4294967296.0"
)


@register(
    "kmv_intersection_estimate",
    oracle=f"""
    WITH ha AS (
        SELECT DISTINCT {_KMV_HASH_SQL.format(col="user_id")} AS u
        FROM events
    ),
    hb AS (
        SELECT DISTINCT {_KMV_HASH_SQL.format(col="o_custkey")} AS u
        FROM orders
    ),
    l AS (
        SELECT u FROM (SELECT u FROM ha UNION SELECT u FROM hb)
        ORDER BY u LIMIT {KMV_K}
    ),
    marked AS (
        SELECT l.u,
               CASE WHEN ha.u IS NOT NULL THEN 1 ELSE 0 END AS in_a,
               CASE WHEN hb.u IS NOT NULL THEN 1 ELSE 0 END AS in_b
        FROM l LEFT JOIN ha ON l.u = ha.u LEFT JOIN hb ON l.u = hb.u
    ),
    sk AS (
        SELECT COUNT(*) AS n_l, MAX(u) AS u_k,
               SUM(in_a * in_b) AS n_both
        FROM marked
    ),
    exact AS (
        SELECT (SELECT COUNT(*) FROM ha) AS exact_a,
               (SELECT COUNT(*) FROM hb) AS exact_b,
               (SELECT COUNT(*) FROM ha JOIN hb USING (u)) AS exact_inter
    )
    SELECT CAST(exact_a AS BIGINT) AS exact_a,
           CAST(exact_b AS BIGINT) AS exact_b,
           CAST(exact_inter AS BIGINT) AS exact_intersection,
           ROUND(CASE WHEN n_l < {KMV_K} THEN n_l
                      ELSE ({KMV_K} - 1) / u_k END, 4) AS est_union,
           ROUND((n_both * 1.0 / n_l)
                 * CASE WHEN n_l < {KMV_K} THEN n_l
                        ELSE ({KMV_K} - 1) / u_k END, 4) AS est_intersection
    FROM sk CROSS JOIN exact
    """,
    doc="KMV (k-minimum-values / bottom-k) set-intersection sketch "
    "(Beyer et al. SIGMOD'07 — the open-source theta-sketch family's "
    "core): each side keeps only its k smallest hash values; the union "
    "sketch is the bottom-k of the merged minima (mergeable, fixed "
    "2 KB); distinct-union is estimated by (k-1)/u_k and the "
    "intersection by the fraction of union-sketch members present in "
    "BOTH sides times that union estimate. This is how engines estimate "
    "join cardinalities and audience overlaps WITHOUT co-shuffling the "
    "sets — the sketch answer beside join_size_estimation_audit's exact "
    "identity. Plan shape: two distinct aggregates, two TakeOrdered "
    "bottom-k cuts (per-partition top-k then a k-sized merge — never a "
    "global sort), membership marking by joining the k-row sketch "
    "(broadcast) back to the hash sets, and the exact twin columns "
    "computed alongside so the estimate error is auditable in the "
    "result row itself. When a set has fewer than k members the sketch "
    "IS the set and the estimator degrades to exact, branch included "
    "in both engines.",
)
def kmv_intersection_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load(spark, sf_dir, "events")
    orders = load(spark, sf_dir, "orders")

    def hashed(df: DataFrame, col: str) -> DataFrame:
        u = (md5_long(F.col(col).cast("string")) + 1) / F.lit(float(1 << 32))
        return df.select(u.alias("u")).distinct().localCheckpoint(eager=False)

    ha = hashed(events, "user_id")
    hb = hashed(orders, "o_custkey")
    l = ha.unionByName(hb).distinct().orderBy("u").limit(KMV_K)
    marked = (
        l.join(ha.withColumn("in_a", F.lit(1)), "u", "left")
        .join(hb.withColumn("in_b", F.lit(1)), "u", "left")
        .select(
            "u",
            F.coalesce("in_a", F.lit(0)).alias("in_a"),
            F.coalesce("in_b", F.lit(0)).alias("in_b"),
        )
    )
    sk = marked.agg(
        F.count("*").alias("n_l"),
        F.max("u").alias("u_k"),
        F.sum(F.col("in_a") * F.col("in_b")).alias("n_both"),
    )
    est_union = F.when(F.col("n_l") < KMV_K, F.col("n_l")).otherwise(
        (KMV_K - 1) / F.col("u_k")
    )
    exact = (
        ha.agg(F.count("*").alias("exact_a"))
        .crossJoin(hb.agg(F.count("*").alias("exact_b")))
        .crossJoin(ha.join(hb, "u").agg(F.count("*").alias("exact_intersection")))
    )
    return (
        sk.crossJoin(F.broadcast(exact))
        .select(
            "exact_a",
            "exact_b",
            "exact_intersection",
            F.round(est_union, 4).alias("est_union"),
            F.round((F.col("n_both") * 1.0 / F.col("n_l")) * est_union, 4).alias(
                "est_intersection"
            ),
        )
    )
