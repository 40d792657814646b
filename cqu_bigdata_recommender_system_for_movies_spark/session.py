"""SparkSession factory tuned for the engine.

Scale notes (the settings below are chosen for a real cluster, then adapted
to local[N] testing):

- AQE on: runtime shuffle-partition coalescing, skew-join splitting, and
  dynamic join-strategy switching replace hand-tuned partition counts at
  100 TB scale.
- ``spark.sql.shuffle.partitions`` is a *floor* locally; with AQE enabled
  it acts as the initial partitioning that AQE coalesces down. On a large
  cluster this would be set to ~2-3x total cores (or left to AQE's
  ``spark.sql.adaptive.coalescePartitions.initialPartitionNum``).
- Arrow on: every pandas_udf / applyInPandas crosses the JVM<->Python
  boundary in columnar Arrow batches, not pickled rows.
- Session timezone pinned to UTC so timestamp semantics match the DuckDB
  oracle (naive-UTC).
- Streaming state store stays on the default HDFS-backed provider:
  RocksDB — the right choice when state exceeds executor memory — was
  measured ~2x SLOWER on this harness's bench-scale state
  (stream-stream join at sf0.1: ~6s default vs ~11s RocksDB; JNI +
  compaction overhead dominates small state). A 100 TB deployment with
  large join state would flip ``spark.sql.streaming.stateStore
  .providerClass`` to RocksDBStateStoreProvider.
"""

from __future__ import annotations

import os
from typing import Any, Callable, TypeVar

from pyspark.sql import SparkSession

T = TypeVar("T")

# Every cross-query cache of the engine: checkpointed base tables, fitted
# models, driver-side metric rows. An entry lives exactly as long as the
# SparkContext that built it: its key starts with that context's
# applicationId, and every lookup drops the entries of every other
# application (their checkpoint blocks died with their context, and
# keeping them would pin py4j refs for the life of the process).
_SESSION_CACHE: dict[tuple, Any] = {}


def get_spark(app_name: str = "cqu-bigdata-spark-engine") -> SparkSession:
    """Build (or get) the session.

    ``SPARK_GRAFT_CPUS`` controls local parallelism (default: all cores).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024))
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def session_cache(
    spark: SparkSession,
    key: tuple,
    build: Callable[[], T],
    fresh: Callable[[T], bool] | None = None,
) -> T:
    """The value cached under (applicationId, *key), built by ``build()``
    on a miss, or when ``fresh`` is given and ``fresh(value)`` is false
    (the new value replaces the old). Every lookup first drops other
    applications' entries. ``key`` names what is cached first, then what
    it depends on, e.g. ``("als_split", sf_dir)``."""
    app_id = spark.sparkContext.applicationId
    for k in [k for k in _SESSION_CACHE if k[0] != app_id]:
        del _SESSION_CACHE[k]
    full = (app_id, *key)
    if full not in _SESSION_CACHE or (fresh is not None and not fresh(_SESSION_CACHE[full])):
        _SESSION_CACHE[full] = build()
    return _SESSION_CACHE[full]


def session_evict(spark: SparkSession, key: tuple) -> None:
    """Drop the value cached under (applicationId, *key), if any: for a
    caller that deletes what the value was built from."""
    _SESSION_CACHE.pop((spark.sparkContext.applicationId, *key), None)


def shuffle_partitions(spark: SparkSession, default: int = 32) -> int:
    """Current shuffle-partition count as an int, resilient to non-numeric
    conf values.

    ``spark.sql.shuffle.partitions`` is not guaranteed numeric — managed
    runtimes set it to ``"auto"`` under AQE auto-tuning. Every call site
    that needs a concrete task count for a pinned
    ``repartition(N, ...)`` goes through here: non-numeric conf falls back
    to ``defaultParallelism`` (the cluster's actual slot count — the right
    fan-out anchor when the runtime is auto-tuning), then to ``default``.
    """
    raw = spark.conf.get("spark.sql.shuffle.partitions", str(default))
    try:
        return int(raw)
    except (TypeError, ValueError):
        try:
            return int(spark.sparkContext.defaultParallelism)
        except Exception:
            return default
