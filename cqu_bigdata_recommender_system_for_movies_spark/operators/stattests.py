"""Statistical analysis operators: experiment readouts and distribution
diagnostics a data platform runs over event logs — two-sample z-tests on
hash-assigned arms, chi-square independence, KL divergence between
per-source distributions, and a compaction (bin-packing) planner for the
small-files problem.

Scale notes:
- Every operator reduces to one or two grouped aggregations whose output
  grain is CATEGORY-sized (arms, contingency cells, sources, bins) —
  independent of input row count, so the final combine is trivially
  broadcastable and the only real shuffle is the map-side-combined agg.
- The test statistics are closed-form column arithmetic over those tiny
  aggregates — no UDFs, no driver math beyond the plan itself.
- All doubles are rounded on both engines; accumulation-order noise at
  sf0.1 is ~1e-12 relative, far inside the rounding scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from cqu_bigdata_recommender_system_for_movies_spark.plans.registry import register
from cqu_bigdata_recommender_system_for_movies_spark.tables import (
    load,
    load_fanned_out,
    md5_long,
)

# ---------------------------------------------------------------------------
# A/B experiment readout
# ---------------------------------------------------------------------------


@register(
    "ab_test_zscore",
    oracle="""
    WITH assigned AS (
        SELECT CASE WHEN CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))
                              AS BIGINT) % 2 = 0
                    THEN 'control' ELSE 'treatment' END AS arm,
               event_type, value
        FROM events
    ),
    arm_stats AS (
        SELECT event_type, arm,
               COUNT(*) AS n,
               SUM(value) / COUNT(*) AS mean,
               SUM(value * value) / COUNT(*)
                   - (SUM(value) / COUNT(*)) * (SUM(value) / COUNT(*)) AS var
        FROM assigned GROUP BY 1, 2
    ),
    wide AS (
        SELECT event_type,
               MAX(CASE WHEN arm = 'control' THEN n END) AS n_c,
               MAX(CASE WHEN arm = 'treatment' THEN n END) AS n_t,
               MAX(CASE WHEN arm = 'control' THEN mean END) AS mean_c,
               MAX(CASE WHEN arm = 'treatment' THEN mean END) AS mean_t,
               MAX(CASE WHEN arm = 'control' THEN var END) AS var_c,
               MAX(CASE WHEN arm = 'treatment' THEN var END) AS var_t
        FROM arm_stats GROUP BY 1
    )
    SELECT event_type, n_c, n_t,
           ROUND(mean_t - mean_c, 4) AS lift,
           ROUND((mean_t - mean_c) / sqrt(var_t / n_t + var_c / n_c), 4)
               AS z_score
    FROM wide
    """,
    doc="A/B experiment readout: users hash-assign to two arms (the same "
    "deterministic md5 bucketing as hash_split_assign, so assignment is "
    "reproducible and consistent across metrics), then a per-metric "
    "Welch z-score = lift / sqrt(var_t/n_t + var_c/n_c) from one "
    "grouped aggregation. The sufficient statistics (n, sum, sum-of-"
    "squares) combine map-side, so the experiment readout over 100 TB "
    "of events is one partial-agg shuffle of metricxarm cells.",
)
def ab_test_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load(spark, sf_dir, "events")
    arm = F.when(
        md5_long(F.col("user_id").cast("string")) % 2 == 0,
        F.lit("control"),
    ).otherwise(F.lit("treatment"))
    stats = events.groupBy("event_type", arm.alias("arm")).agg(
        F.count("*").alias("n"),
        (F.sum("value") / F.count("*")).alias("mean"),
        (
            F.sum(F.col("value") * F.col("value")) / F.count("*")
            - (F.sum("value") / F.count("*")) * (F.sum("value") / F.count("*"))
        ).alias("var"),
    )
    wide = stats.groupBy("event_type").agg(
        F.max(F.when(F.col("arm") == "control", F.col("n"))).alias("n_c"),
        F.max(F.when(F.col("arm") == "treatment", F.col("n"))).alias("n_t"),
        F.max(F.when(F.col("arm") == "control", F.col("mean"))).alias("mean_c"),
        F.max(F.when(F.col("arm") == "treatment", F.col("mean"))).alias("mean_t"),
        F.max(F.when(F.col("arm") == "control", F.col("var"))).alias("var_c"),
        F.max(F.when(F.col("arm") == "treatment", F.col("var"))).alias("var_t"),
    )
    return wide.select(
        "event_type",
        "n_c",
        "n_t",
        F.round(F.col("mean_t") - F.col("mean_c"), 4).alias("lift"),
        F.round(
            (F.col("mean_t") - F.col("mean_c"))
            / F.sqrt(F.col("var_t") / F.col("n_t") + F.col("var_c") / F.col("n_c")),
            4,
        ).alias("z_score"),
    )


# ---------------------------------------------------------------------------
# Chi-square independence
# ---------------------------------------------------------------------------


@register(
    "chi_square_independence",
    oracle="""
    WITH joined AS (
        SELECT n.n_name, c.c_mktsegment
        FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
    ),
    cell AS (
        SELECT n_name, c_mktsegment, COUNT(*) AS observed
        FROM joined GROUP BY 1, 2
    ),
    margins AS (
        SELECT n_name, c_mktsegment, observed,
               SUM(observed) OVER (PARTITION BY n_name) AS row_total,
               SUM(observed) OVER (PARTITION BY c_mktsegment) AS col_total,
               SUM(observed) OVER () AS grand
        FROM cell
    )
    SELECT CAST(SUM(observed) AS BIGINT) AS n_obs,
           COUNT(*) AS n_cells,
           ROUND(SUM(
               (observed - row_total * col_total / CAST(grand AS DOUBLE))
               * (observed - row_total * col_total / CAST(grand AS DOUBLE))
               / (row_total * col_total / CAST(grand AS DOUBLE))
           ), 4) AS chi2
    FROM margins
    """,
    doc="Chi-square test of independence (nation x market segment): build "
    "the contingency table with one aggregation, derive row/column/"
    "grand margins with windows OVER THE CELL TABLE (125 rows -- never "
    "a second scan of the data), and sum (O-E)^2/E. The standard "
    "'is this categorical drifting by region' data-quality check; at "
    "100 TB the only input-sized work is the map-side-combined cell "
    "count. Note: absent cells contribute 0 here, matching the oracle; "
    "a dense E-matrix variant would cross-join the margins.",
)
def chi_square_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load(spark, sf_dir, "customer")
    nation = load(spark, sf_dir, "nation")
    cell = (
        customer.join(
            F.broadcast(nation), customer.c_nationkey == nation.n_nationkey
        )
        .groupBy("n_name", "c_mktsegment")
        .agg(F.count("*").alias("observed"))
    )
    margins = cell.select(
        "observed",
        F.sum("observed").over(Window.partitionBy("n_name")).alias("row_total"),
        F.sum("observed")
        .over(Window.partitionBy("c_mktsegment"))
        .alias("col_total"),
        F.sum("observed").over(Window.partitionBy()).alias("grand"),
    )
    expected = F.col("row_total") * F.col("col_total") / F.col("grand").cast(
        "double"
    )
    return margins.agg(
        F.sum("observed").alias("n_obs"),
        F.count("*").alias("n_cells"),
        F.round(
            F.sum(
                (F.col("observed") - expected) * (F.col("observed") - expected)
                / expected
            ),
            4,
        ).alias("chi2"),
    )


# ---------------------------------------------------------------------------
# Distribution divergence across sources
# ---------------------------------------------------------------------------


@register(
    "source_lang_kl_divergence",
    oracle="""
    WITH cell AS (
        SELECT source, lang, COUNT(*) AS n
        FROM documents GROUP BY 1, 2
    ),
    probs AS (
        SELECT source, lang,
               n / SUM(n) OVER (PARTITION BY source) AS p,
               SUM(n) OVER (PARTITION BY lang) / SUM(n) OVER () AS q
        FROM cell
    )
    SELECT source,
           ROUND(SUM(p * ln(p / q)), 6) AS kl_vs_global,
           COUNT(*) AS n_langs
    FROM probs GROUP BY source
    """,
    doc="Per-source KL divergence of the language distribution against "
    "the corpus-wide distribution -- the drift metric a training-data "
    "pipeline tracks per ingestion source (a source whose KL spikes "
    "changed its language mix). One aggregation to the source x lang "
    "cell table; the per-source and global marginals are windows over "
    "those ~dozens of cells. KL's absent-category convention (p=0 "
    "contributes 0) holds automatically because absent cells produce "
    "no row on either engine.",
)
def source_lang_kl_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    cell = docs.groupBy("source", "lang").agg(F.count("*").alias("n"))
    probs = cell.select(
        "source",
        (F.col("n") / F.sum("n").over(Window.partitionBy("source"))).alias("p"),
        (
            F.sum("n").over(Window.partitionBy("lang"))
            / F.sum("n").over(Window.partitionBy())
        ).alias("q"),
    )
    return probs.groupBy("source").agg(
        F.round(F.sum(F.col("p") * F.log(F.col("p") / F.col("q"))), 6).alias(
            "kl_vs_global"
        ),
        F.count("*").alias("n_langs"),
    )


# ---------------------------------------------------------------------------
# Compaction planning (small-files bin packing)
# ---------------------------------------------------------------------------

COMPACT_TARGET_BYTES = 64 * 1024  # target output "file" size for the plan


@register(
    "compaction_bin_packing",
    oracle=f"""
    WITH sized AS (
        SELECT source, doc_id, n_chars,
               SUM(n_chars) OVER (
                   PARTITION BY source ORDER BY doc_id
               ) AS cum
        FROM documents
    ),
    binned AS (
        SELECT source,
               CAST(FLOOR((cum - n_chars) / {COMPACT_TARGET_BYTES}) AS BIGINT) AS bin,
               doc_id, n_chars
        FROM sized
    )
    SELECT source, bin,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS bin_bytes,
           MIN(doc_id) AS first_doc,
           MAX(doc_id) AS last_doc
    FROM binned GROUP BY 1, 2
    """,
    doc="Compaction planner (the OPTIMIZE/bin-packing step of a lakehouse "
    "table service): within each source, order fragments by key, take "
    "the running byte total, and cut output files at every "
    "TARGET_BYTES boundary -- floor((cum - n_chars)/target) assigns "
    "each fragment to the file where it STARTS, so a boundary-"
    "straddling fragment closes the bin it began in and every closed "
    "bin's cumulative covers its boundary. (The end-based "
    "floor((cum-1)/target) variant under-filled closed bins -- caught "
    "by the 10x parity sweep; vacuously green below it because "
    "sf0.001 sources fit in one bin.) Emits the plan (bin -> fragment range + bytes), which is "
    "what the rewrite job would execute. The running sum is a per-"
    "source window -- at 100 TB that is one shuffle on the partition "
    "column, the same key the files are already clustered by.",
)
def compaction_bin_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    sized = docs.select(
        "source",
        "doc_id",
        "n_chars",
        F.sum("n_chars").over(w).alias("cum"),
    )
    return (
        sized.withColumn(
            "bin",
            F.floor((F.col("cum") - F.col("n_chars")) / COMPACT_TARGET_BYTES),
        )
        .groupBy("source", "bin")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("bin_bytes"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
    )


# ---------------------------------------------------------------------------
# Time-series anomaly flagging
# ---------------------------------------------------------------------------

SPIKE_SIGMAS = 2.0


@register(
    "event_spike_detection",
    oracle=f"""
    WITH hourly AS (
        SELECT event_type, date_trunc('hour', ts) AS hour, COUNT(*) AS cnt
        FROM events GROUP BY 1, 2
    ),
    stats AS (
        SELECT event_type, hour, cnt,
               AVG(cnt) OVER (PARTITION BY event_type) AS mu,
               stddev_pop(cnt) OVER (PARTITION BY event_type) AS sigma
        FROM hourly
    )
    SELECT event_type, hour, cnt,
           ROUND((cnt - mu) / NULLIF(sigma, 0), 4) AS z,
           COALESCE((cnt - mu) / NULLIF(sigma, 0) > {SPIKE_SIGMAS}, FALSE)
               AS is_spike
    FROM stats
    """,
    doc="Volume-spike detection over the event stream: hourly counts per "
    "event type, z-scored against that type's own hourly mean/stddev, "
    "flagged above 2 sigma -- the standing data-quality monitor that "
    "catches an ingestion replay or a broken client doubling a metric. "
    "One map-side-combined aggregation to the type x hour grain; the "
    "mean/sigma windows run over that tiny aggregate, never the raw "
    "events. A constant series (sigma=0) yields null z and no flag on "
    "both engines.",
)
def event_spike_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load(spark, sf_dir, "events")
    hourly = events.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hour")
    ).agg(F.count("*").alias("cnt"))
    w = Window.partitionBy("event_type")
    z = (F.col("cnt") - F.avg("cnt").over(w)) / F.nullif(
        F.stddev_pop("cnt").over(w), F.lit(0.0)
    )
    return hourly.select(
        "event_type",
        "hour",
        "cnt",
        F.round(z, 4).alias("z"),
        F.coalesce(z > SPIKE_SIGMAS, F.lit(False)).alias("is_spike"),
    )


# ---------------------------------------------------------------------------
# Two-sample Kolmogorov-Smirnov drift per source
# ---------------------------------------------------------------------------


@register(
    "ks_test_source_drift",
    oracle="""
    WITH spine AS (SELECT DISTINCT n_chars AS v FROM documents),
    srcs AS (SELECT source, COUNT(*) AS n_s FROM documents GROUP BY 1),
    cell AS (
        SELECT source, n_chars AS v, COUNT(*) AS cnt
        FROM documents GROUP BY 1, 2
    ),
    grid AS (
        SELECT s.source, s.n_s, sp.v, COALESCE(c.cnt, 0) AS cnt
        FROM srcs s CROSS JOIN spine sp
        LEFT JOIN cell c ON c.source = s.source AND c.v = sp.v
    ),
    ecdf AS (
        SELECT source, v,
               SUM(cnt) OVER (PARTITION BY source ORDER BY v)
                   / CAST(n_s AS DOUBLE) AS f_s
        FROM grid
    ),
    gecdf AS (
        SELECT v, SUM(cnt) OVER (ORDER BY v)
                      / CAST((SELECT COUNT(*) FROM documents) AS DOUBLE) AS f_g
        FROM (SELECT n_chars AS v, COUNT(*) AS cnt FROM documents GROUP BY 1)
    )
    SELECT e.source,
           CAST(s.n_s AS BIGINT) AS n_docs,
           ROUND(MAX(ABS(e.f_s - g.f_g)), 6) AS ks_stat
    FROM ecdf e JOIN gecdf g USING (v) JOIN srcs s USING (source)
    GROUP BY e.source, s.n_s
    """,
    doc="Two-sample Kolmogorov-Smirnov drift per ingestion source: each "
    "source's document-length ECDF against the corpus ECDF, KS = max "
    "|F_s - F_g| over the merged value spine -- the distribution-shape "
    "companion to source_lang_kl_divergence's categorical drift (a "
    "source whose crawler started truncating pages moves its KS before "
    "any mean shifts). One aggregation to (source, value) cells, then "
    "windows over the sources x values grid -- at 100 TB the spine is "
    "bucketized (this engine's histogram_quantile_sketch bins) so the "
    "grid stays sketch-sized rather than distinct-value-sized.",
)
def ks_test_source_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    spine = docs.select(F.col("n_chars").alias("v")).distinct()
    srcs = docs.groupBy("source").agg(F.count("*").alias("n_s"))
    cell = docs.groupBy(
        "source", F.col("n_chars").alias("v")
    ).agg(F.count("*").alias("cnt"))
    grid = (
        srcs.crossJoin(F.broadcast(spine))
        .join(cell, ["source", "v"], "left")
        .withColumn("cnt", F.coalesce("cnt", F.lit(0)))
    )
    w_s = (
        Window.partitionBy("source")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    ecdf = grid.select(
        "source",
        "n_s",
        "v",
        (F.sum("cnt").over(w_s) / F.col("n_s").cast("double")).alias("f_s"),
    )
    n_total = docs.count()
    w_g = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    gecdf = (
        docs.groupBy(F.col("n_chars").alias("v"))
        .agg(F.count("*").alias("cnt"))
        .select(
            "v", (F.sum("cnt").over(w_g) / F.lit(float(n_total))).alias("f_g")
        )
    )
    return (
        ecdf.join(F.broadcast(gecdf), "v")
        .groupBy("source", "n_s")
        .agg(F.round(F.max(F.abs(F.col("f_s") - F.col("f_g"))), 6).alias("ks_stat"))
        .select("source", F.col("n_s").alias("n_docs"), "ks_stat")
    )


# ---------------------------------------------------------------------------
# Poisson bootstrap confidence intervals
# ---------------------------------------------------------------------------

BOOT_REPLICAS = 20
# Poisson(1) CDF thresholds: P(N<=k) for k = 0..4; u above the last -> 5.
_POIS_CDF = (0.367879441, 0.735758882, 0.919698603, 0.981011843, 0.996340153)


def _pois_weight_sql(u_expr: str) -> str:
    branches = " ".join(
        f"WHEN {u_expr} < {t} THEN {k}" for k, t in enumerate(_POIS_CDF)
    )
    return f"CASE {branches} ELSE 5 END"


@register(
    "bootstrap_mean_ci",
    oracle=f"""
    WITH reps AS (
        SELECT o_orderpriority, o_totalprice, g.g * 4 + s.s AS b,
               {_pois_weight_sql(
                   "((CAST(('0x' || substr(md5(CAST(o_orderkey AS VARCHAR) || '|' "
                   "|| g.g), s.s * 8 + 1, 8)) AS BIGINT) + 1) / 4294967296.0)"
               )} AS w
        FROM orders
        CROSS JOIN (SELECT unnest(range({(BOOT_REPLICAS + 3) // 4})) AS g) g
        CROSS JOIN (SELECT unnest(range(4)) AS s) s
        WHERE g.g * 4 + s.s < {BOOT_REPLICAS}
    ),
    rep_means AS (
        SELECT o_orderpriority, b, SUM(w * o_totalprice) / SUM(w) AS m
        FROM reps GROUP BY 1, 2
    ),
    base AS (
        SELECT o_orderpriority, AVG(o_totalprice) AS mean, COUNT(*) AS n
        FROM orders GROUP BY 1
    )
    SELECT base.o_orderpriority,
           CAST(base.n AS BIGINT) AS n,
           ROUND(base.mean, 4) AS mean,
           ROUND(stddev_pop(rep_means.m), 4) AS boot_se,
           ROUND(base.mean - 1.96 * stddev_pop(rep_means.m), 4) AS ci_lo,
           ROUND(base.mean + 1.96 * stddev_pop(rep_means.m), 4) AS ci_hi
    FROM rep_means JOIN base USING (o_orderpriority)
    GROUP BY base.o_orderpriority, base.mean, base.n
    """,
    doc="Poisson bootstrap confidence intervals for per-group means -- "
    "THE bootstrap for distributed engines (Chamandy et al., Google): "
    "instead of resampling n rows with replacement (impossible without "
    "a global index), each row draws an independent Poisson(1) "
    f"multiplicity per replica. {BOOT_REPLICAS} replicas are generated "
    "scan-side by a constant-width explode and collapse map-side into "
    "group x replica cells, so the shuffle carries "
    f"{BOOT_REPLICAS}x|groups| partial sums, not resampled data. The "
    "multiplicities come from md5-derived uniforms through the exact "
    "Poisson CDF thresholds, so both engines draw the SAME bootstrap "
    "and the oracle matches bit-for-bit after rounding. The hashing is "
    "AMORTIZED: one 128-bit md5 per (row, replica-group) yields FOUR "
    "independent 32-bit uniforms (hex slices 1-8/9-16/17-24/25-32), so "
    f"a row pays {(BOOT_REPLICAS + 3) // 4} hashes for {BOOT_REPLICAS} "
    "replicas — profiled 4x cheaper than hashing per replica, and at "
    "100 TB the hash IS the dominant scan-side cost of this operator.",
)
def bootstrap_mean_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the md5-per-(row, replica-group) pipeline is the dominant scan-side
    # cost; a one-file scan would run it as ONE task
    orders = load_fanned_out(spark, sf_dir, "orders")
    n_groups = (BOOT_REPLICAS + 3) // 4
    # one md5 per (row, group) — materialized as a column BEFORE the slice
    # explode so the four uniforms it feeds never re-hash
    grouped = orders.select(
        "o_orderpriority",
        "o_totalprice",
        F.explode(F.sequence(F.lit(0), F.lit(n_groups - 1))).alias("g"),
        "o_orderkey",
    ).select(
        "o_orderpriority",
        "o_totalprice",
        "g",
        F.md5(
            F.concat(
                F.col("o_orderkey").cast("string"),
                F.lit("|"),
                F.col("g").cast("string"),
            )
        ).alias("h"),
    )
    u = (
        F.conv(F.col("h").substr(F.col("s") * 8 + 1, F.lit(8)), 16, 10).cast("long")
        + 1
    ) / F.lit(float(1 << 32))
    reps = (
        grouped.select(
            "o_orderpriority",
            "o_totalprice",
            "g",
            "h",
            F.explode(F.sequence(F.lit(0), F.lit(3))).alias("s"),
        )
        .filter(F.col("g") * 4 + F.col("s") < BOOT_REPLICAS)
        .select(
            "o_orderpriority",
            "o_totalprice",
            (F.col("g") * 4 + F.col("s")).alias("b"),
            _pois_weight(u).alias("w"),
        )
    )
    rep_means = reps.groupBy("o_orderpriority", "b").agg(
        (F.sum(F.col("w") * F.col("o_totalprice")) / F.sum("w")).alias("m")
    )
    base = orders.groupBy("o_orderpriority").agg(
        F.avg("o_totalprice").alias("mean"), F.count("*").alias("n")
    )
    return (
        rep_means.join(F.broadcast(base), "o_orderpriority")
        .groupBy("o_orderpriority", "mean", "n")
        .agg(F.stddev_pop("m").alias("se"))
        .select(
            "o_orderpriority",
            "n",
            F.round("mean", 4).alias("mean"),
            F.round("se", 4).alias("boot_se"),
            F.round(F.col("mean") - 1.96 * F.col("se"), 4).alias("ci_lo"),
            F.round(F.col("mean") + 1.96 * F.col("se"), 4).alias("ci_hi"),
        )
    )


def _pois_weight(u):
    """Inverse-CDF Poisson(1) multiplicity from a uniform column."""
    expr = F.lit(5)
    for k, t in reversed(list(enumerate(_POIS_CDF))):
        expr = F.when(u < t, F.lit(k)).otherwise(expr)
    return expr


# ---------------------------------------------------------------------------
# Closed-form linear regression (regr_* aggregate family)
# ---------------------------------------------------------------------------


@register(
    "linear_regression_closed_form",
    oracle="""
    SELECT l_returnflag,
           CAST(regr_count(l_extendedprice, l_quantity) AS BIGINT) AS n,
           ROUND(regr_slope(l_extendedprice, l_quantity), 4) AS slope,
           ROUND(regr_intercept(l_extendedprice, l_quantity), 4) AS intercept,
           ROUND(regr_r2(l_extendedprice, l_quantity), 6) AS r2
    FROM lineitem
    GROUP BY l_returnflag
    """,
    doc="Per-group simple linear regression via the SQL-standard regr_* "
    "aggregate family (price ~ quantity by return flag): slope, "
    "intercept, and R^2 from closed-form moment sums -- the degenerate-"
    "but-ubiquitous ML case that needs NO iterative solver because the "
    "sufficient statistics (n, sum x, sum y, sum xy, sum x^2, sum y^2) "
    "combine map-side like any algebraic aggregate. At 100 TB this is "
    "one partial-agg shuffle of 6 doubles per group -- the same "
    "decomposability argument as incremental_agg_merge, applied to "
    "model fitting; multiple-regression generalizes to the d x d "
    "Gramian (embedding_pca_top_component's accumulation pattern).",
)
def linear_regression_closed_form(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    y, x = F.col("l_extendedprice"), F.col("l_quantity")
    return li.groupBy("l_returnflag").agg(
        F.regr_count(y, x).alias("n"),
        F.round(F.regr_slope(y, x), 4).alias("slope"),
        F.round(F.regr_intercept(y, x), 4).alias("intercept"),
        F.round(F.regr_r2(y, x), 6).alias("r2"),
    )


# ---------------------------------------------------------------------------
# Mutual information between two categoricals
# ---------------------------------------------------------------------------


@register(
    "mutual_information_type_hour",
    oracle="""
    WITH cell AS (
        SELECT event_type AS x, CAST(hour(ts) AS INTEGER) AS y,
               COUNT(*) AS n
        FROM events GROUP BY 1, 2
    ),
    p AS (
        SELECT x, y,
               n / SUM(n) OVER () AS pxy,
               SUM(n) OVER (PARTITION BY x) / SUM(n) OVER () AS px,
               SUM(n) OVER (PARTITION BY y) / SUM(n) OVER () AS py
        FROM cell
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_cells,
           ROUND(SUM(pxy * ln(pxy / (px * py))), 6) AS mutual_info_nats
    FROM p
    """,
    doc="Mutual information between event type and hour-of-day: "
    "I(X;Y) = sum p(x,y) ln(p(x,y)/(p(x)p(y))) over the contingency "
    "cells -- the model-free dependence measure feature selection "
    "ranks candidates by (chi-square tests independence; MI MEASURES "
    "the dependence in nats, comparable across feature pairs). One "
    "map-side-combined cell count; all three marginals are windows "
    "over the typesxhours cell table. Absent cells contribute 0 on "
    "both engines by construction.",
)
def mutual_information_type_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load(spark, sf_dir, "events")
    cell = events.groupBy(
        F.col("event_type").alias("x"),
        F.hour("ts").cast("int").alias("y"),
    ).agg(F.count("*").alias("n"))
    total = Window.partitionBy()
    p = cell.select(
        (F.col("n") / F.sum("n").over(total)).alias("pxy"),
        (
            F.sum("n").over(Window.partitionBy("x")) / F.sum("n").over(total)
        ).alias("px"),
        (
            F.sum("n").over(Window.partitionBy("y")) / F.sum("n").over(total)
        ).alias("py"),
    )
    return p.agg(
        F.count("*").alias("n_cells"),
        F.round(
            F.sum(F.col("pxy") * F.log(F.col("pxy") / (F.col("px") * F.col("py")))),
            6,
        ).alias("mutual_info_nats"),
    )


# ---------------------------------------------------------------------------
# Benford's-law first-digit audit
# ---------------------------------------------------------------------------


@register(
    "benford_law_audit",
    oracle="""
    WITH digits AS (
        -- FLOOR first: CAST(double AS BIGINT) truncates in Spark but
        -- ROUNDS in DuckDB; floor makes both engines agree on boundaries
        SELECT CAST(substr(CAST(CAST(FLOOR(o_totalprice) AS BIGINT) AS VARCHAR),
                           1, 1) AS INTEGER) AS d
        FROM orders WHERE o_totalprice >= 1
    ),
    obs AS (SELECT d, COUNT(*) AS n FROM digits GROUP BY d),
    tot AS (SELECT SUM(n) AS t FROM obs)
    SELECT d,
           CAST(n AS BIGINT) AS observed,
           ROUND(n / CAST(t AS DOUBLE), 6) AS observed_share,
           ROUND(ln(1.0 + 1.0 / d) / ln(10), 6) AS benford_share
    FROM obs CROSS JOIN tot
    """,
    doc="Benford's-law first-digit audit of order totals: natural "
    "multi-scale amounts follow P(d) = log10(1 + 1/d); fabricated or "
    "clamped values don't -- the forensic data-quality screen auditors "
    "run on financial facts, here as one scan-side digit extraction "
    "plus a 9-row aggregate. Both the observed share and the Benford "
    "expectation are emitted so the deviation is inspectable per "
    "digit. (TPC-H prices are uniform-ish, NOT Benford -- the audit's "
    "value is the comparison columns, and the test asserts the "
    "mechanics, not conformance.)",
)
def benford_law_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    d = F.substring(
        F.floor("o_totalprice").cast("bigint").cast("string"), 1, 1
    ).cast("int")
    obs = (
        orders.filter(F.col("o_totalprice") >= 1)
        .groupBy(d.alias("d"))
        .agg(F.count("*").alias("n"))
    )
    t = Window.partitionBy()
    return obs.select(
        "d",
        F.col("n").alias("observed"),
        F.round(F.col("n") / F.sum("n").over(t), 6).alias("observed_share"),
        F.round(F.log(1.0 + 1.0 / F.col("d")) / F.log(F.lit(10.0)), 6).alias(
            "benford_share"
        ),
    )


# ---------------------------------------------------------------------------
# Theil-Sen robust slope (deterministic paired form)
# ---------------------------------------------------------------------------


@register(
    "theil_sen_slope_robust",
    oracle="""
    WITH pts AS (
        SELECT l_returnflag AS g, l_quantity AS x, l_extendedprice AS y,
               ROW_NUMBER() OVER (
                   PARTITION BY l_returnflag
                   -- (l_orderkey, l_linenumber) is NOT unique in the
                   -- testdata; x, y complete the total order (residual
                   -- ties are identical points, slope-invariant)
                   ORDER BY l_orderkey, l_linenumber, l_quantity,
                            l_extendedprice
               ) - 1 AS i
        FROM lineitem
    ),
    pairs AS (
        SELECT a.g, (b.y - a.y) / (b.x - a.x) AS slope
        FROM pts a JOIN pts b
          ON a.g = b.g AND b.i = a.i + 1 AND a.i % 2 = 0
        WHERE b.x <> a.x
    )
    SELECT g AS l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           ROUND(median(slope), 4) AS theil_sen_slope
    FROM pairs GROUP BY g
    """,
    doc="Theil-Sen robust slope (price ~ quantity per return flag), "
    "DISTRIBUTED PAIRED FORM: the classical estimator medians all "
    "O(n^2) pairwise slopes, which cannot scale; the paired variant "
    "medians the slopes of disjoint consecutive pairs (rows 0-1, 2-3, "
    "...) in a stable key order -- n/2 slopes, one window for the "
    "pairing index, one self-equi-join on (group, i+1) that matches "
    "exactly one row per pair, and a median over the slope table. "
    "Deterministic pairing means the DuckDB oracle reproduces the "
    "estimate exactly; robustness to outliers is inherited because "
    "the median, not the mean, aggregates the slopes (compare "
    "linear_regression_closed_form's least-squares slope on the same "
    "data).",
)
def theil_sen_slope_robust(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_returnflag").orderBy(
        "l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice"
    )
    # r16 (guide §2.4): the consecutive pair (i, i+1) is LEAD over the
    # SAME window — one window pass instead of materializing the indexed
    # points twice and self-joining on (g, i+1), which shuffled the
    # point table two more times. lead() evaluates in the same physical
    # Window node as row_number (same partitioning, same order), a null
    # lead marks the group's last row exactly where the inner join
    # dropped the unmatched even row, and the slope expression is
    # unchanged — identical pairs, identical doubles.
    pts = li.select(
        F.col("l_returnflag").alias("g"),
        F.col("l_quantity").alias("xa"),
        F.col("l_extendedprice").alias("ya"),
        (F.row_number().over(w) - 1).alias("ia"),
        F.lead("l_quantity").over(w).alias("xb"),
        F.lead("l_extendedprice").over(w).alias("yb"),
    )
    pairs = pts.filter(
        (F.col("ia") % 2 == 0)
        & F.col("xb").isNotNull()
        & (F.col("xb") != F.col("xa"))
    )
    slopes = pairs.select(
        "g",
        ((F.col("yb") - F.col("ya")) / (F.col("xb") - F.col("xa"))).alias("slope"),
    )
    return slopes.groupBy("g").agg(
        F.count("*").alias("n_pairs"),
        F.round(F.median("slope"), 4).alias("theil_sen_slope"),
    ).select(
        F.col("g").alias("l_returnflag"), "n_pairs", "theil_sen_slope"
    )
