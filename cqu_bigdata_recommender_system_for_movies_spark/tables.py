"""Table catalog: parquet loaders + derived logical views.

The reference's data model (SURVEY.md §1) is a property graph flattened to a
ratings relation ``(user_id, movie_id, rating, timestamp)``. Our engine maps
that onto the driver's TPC-H-ish star schema:

- ``ratings``  := lineitem ⋈ orders → (user_id=o_custkey, item_id=l_partkey,
  rating=l_quantity, ts=o_orderdate).  Mirrors the Cypher projection
  ``MATCH (u:User)-[r:Rate]->(m:Movie)`` (reference src/als/spark_als.py:145-150).
- ``items``    := part (categorical dim ≈ movies; p_type words ≈ genres).
- ``users``    := customer (demographic dim ≈ ml-1m users,
  reference src/cypher/init-ml-1m.cypher:5).
- ``events``   := the unbounded stream table (socket lines in the reference,
  src/streaming/streaming_rec.py:170-188).
- ``documents`` / ``embeddings`` := text + vector extension tables.

``RATINGS_SQL`` is the DuckDB-oracle twin of ``ratings()`` — both sides of
every correctness check derive the fact table identically.

Scale note: the lineitem⋈orders join is a large-fact-to-large-fact equi
join; at 100 TB both sides shuffle on the order key. Catalyst plans a
sort-merge join with AQE skew splitting; the bucketed/sorted layout that
elides this shuffle entirely is demonstrated by
``operators/io_sinks.bucketed_ratings_join`` (bucketBy(8, orderkey) +
sortBy once, then the flattening join reads bucket-to-bucket with no
Exchange — asserted in tests/test_plans.py). Nothing is collected to the
driver.
"""

from __future__ import annotations

import glob
import os
from functools import lru_cache

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


# Some driver generations write events.ts as TIMESTAMP(NANOS), which
# Spark's reader rejects by default; others write plain timestamp[us].
# Sniff the physical type from the parquet footer (driver-side, cached,
# no Spark job) and only apply the nanos→micros truncation when needed —
# that truncation is exactly what DuckDB does coercing TIMESTAMP_NS to
# TIMESTAMP, so oracle comparisons agree either way. Integer `div`
# (not `/`) — epoch-nanos exceed 2^53.
EVENTS_RAW_SCHEMA = (
    "event_id LONG, ts LONG, user_id LONG, event_type STRING, "
    "value DOUBLE, props STRING"
)


@lru_cache(maxsize=None)
def _events_ts_is_nanos(sf_dir: str) -> bool:
    import pyarrow.parquet as pq

    t = pq.read_schema(os.path.join(sf_dir, "events.parquet")).field("ts").type
    return getattr(t, "unit", None) == "ns"


def _nanos_to_ts(df: DataFrame) -> DataFrame:
    return df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Columnar parquet scan; Catalyst pushes filters/projections into it."""
    if name == "events":
        if _events_ts_is_nanos(sf_dir):
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
            return _nanos_to_ts(spark.read.parquet(f"{sf_dir}/{name}.parquet"))
        # timestamp[us] generations read as TIMESTAMP_NTZ; cast to the
        # session-zone TIMESTAMP every downstream operator (unix_micros,
        # watermarks) expects — wall-clock identical under the UTC session,
        # and the same type the nanos path has always produced.
        return spark.read.parquet(f"{sf_dir}/{name}.parquet").withColumn(
            "ts", F.col("ts").cast("timestamp")
        )
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load(spark, sf_dir, name) for name in TABLE_NAMES}


@lru_cache(maxsize=None)
def table_row_count(sf_dir: str, name: str) -> int:
    """Exact row count from parquet FOOTER metadata — a driver-side,
    milliseconds read of file footers, never a Spark job. Used where a plan
    parameter scales with corpus size (e.g. LSH plane count): calling
    ``df.count()`` at query-construction time launches a full blocking scan
    per build, which showed up directly in the round-2 bench regression."""
    import pyarrow.parquet as pq

    path = os.path.join(sf_dir, f"{name}.parquet")
    if os.path.isdir(path):
        return sum(
            pq.ParquetFile(f).metadata.num_rows
            for f in glob.glob(os.path.join(path, "*.parquet"))
        )
    return pq.ParquetFile(path).metadata.num_rows


def load_fanned_out(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """``load`` for a scan that feeds a CPU-dense per-row projection (md5
    shingling, resampling): repartitioned to machine width when the scan
    would run on fewer tasks than that (input skew). A small parquet file scans as ~ceil(bytes / maxPartitionBytes) tasks,
    often ONE, so the expensive narrow pipeline on it would serialize on
    one core while the rest idle. The decision is driver-side file
    metadata only, and scale-adaptive: once the source's natural split
    count reaches machine width the exchange would be pure cost (at
    100 TB the scan has thousands of splits) and the scan is returned
    as is."""
    from cqu_bigdata_recommender_system_for_movies_spark.session import (
        shuffle_partitions,
    )

    df = load(spark, sf_dir, name)
    path = os.path.join(sf_dir, f"{name}.parquet")
    try:
        if os.path.isdir(path):
            nbytes = sum(
                os.path.getsize(f)
                for f in glob.glob(os.path.join(path, "*.parquet"))
            )
        else:
            nbytes = os.path.getsize(path)
    except OSError:
        return df
    raw = spark.conf.get(
        "spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024)
    )
    units = {"k": 1024, "m": 1024**2, "g": 1024**3}
    try:
        s = str(raw).lower().removesuffix("b")
        mult = units.get(s[-1:], 1)
        max_split = int(s.rstrip("kmg")) * mult
    except (TypeError, ValueError):
        max_split = 128 * 1024 * 1024
    width = max(shuffle_partitions(spark), spark.sparkContext.defaultParallelism)
    est_tasks = max(1, -(-nbytes // max_split))
    return df.repartition(width) if est_tasks < width else df


def ratings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The core fact: who "rated" which item how much, when.

    Equivalent of the reference's graph flattening (spark_als.py:145-150),
    done as a single equi join instead of a Cypher pattern match.
    """
    lineitem = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders")
    return (
        lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey)
        .select(
            F.col("o_custkey").alias("user_id"),
            F.col("l_partkey").alias("item_id"),
            F.col("l_quantity").alias("rating"),
            F.col("o_orderdate").alias("ts"),
        )
    )


def sql_in_list(items) -> str:
    """Render an SQL IN-list: ('a', 'b') — built explicitly, never via
    tuple repr (a 1-element tuple reprs as ('x',) whose trailing comma is
    invalid SQL). Items must not contain single quotes — this formats
    trusted engine constants, it does not escape."""
    return "(" + ", ".join(f"'{s}'" for s in items) + ")"


def md5_long(col, start: int = 1):
    """The portable hash: 8 hex digits of ``md5(col)`` from ``start`` as a
    non-negative BIGINT. DuckDB computes the same value as
    ``('0x' || substr(md5(x), start, 8))::BIGINT``, so hash-based buckets,
    splits and shingle ids agree across the engine and its oracles."""
    return F.conv(F.substring(F.md5(col), start, 8), 16, 10).cast("long")


# DuckDB twin of ratings() — embedded as a CTE in oracle SQL strings.
RATINGS_SQL = (
    "SELECT o_custkey AS user_id, l_partkey AS item_id, "
    "l_quantity AS rating, o_orderdate AS ts "
    "FROM lineitem JOIN orders ON l_orderkey = o_orderkey"
)
