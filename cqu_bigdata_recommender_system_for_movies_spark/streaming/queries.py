"""Structured Streaming queries (SURVEY.md §2.9 ST1-ST6, §2.1 S4-S6).

Each registry entry drives a real streaming query to completion over the
parquet file source (the deterministic stand-in for the reference's socket
source — same line-parsing semantics, reference streaming_rec.py:170-188)
and returns the materialized result. Where the computation is
SQL-expressible the DuckDB oracle checks the *streaming* result against the
batch semantics — micro-batch incrementalization must converge to the same
answer.

Coverage here:
- S4  socket source: ``socket_lines_stream`` (real ``format("socket")``,
  exercised against a loopback server in tests) and
  ``streaming_socket_parse_records`` (the driver-visible registry row:
  live loopback socket + the same parse pipeline, oracle-checked; the
  other streaming entries use the deterministic file source).
- S5  console sink: ``run_console_sink`` (smoke-tested in pytest).
- S6 + ST6 + M8  foreachBatch recommendation emission:
  ``streaming_recommend_emit`` — per micro-batch stateful interest update →
  cosine vs item profiles → top-10 per user, appended through
  ``emissions`` (reference streaming_rec.py:190-198 driving 106-126, minus
  its first()-only bug). ``emissions`` is the one foreachBatch emission
  sink; its ``latest_by`` keeps each user's rows from the user's last
  batch. Streams replayed from a staged table write it with
  ``stage_slices`` (one file per slice value) and read it with ``replay``
  (one file per micro-batch).
- ST1/ST2  availableNow micro-batches; append/update/complete modes.
- ST3  per-key state: streaming_interest_fold (applyInPandasWithState).
- ST4  watermarks: ``streaming_watermarked_counts`` (withWatermark +
  append mode — only watermark-finalized windows are emitted).
- ST5  stream-static join: streaming_static_join.
"""

from __future__ import annotations

import hashlib
import itertools
from contextlib import contextmanager
import os
import shutil
import tempfile
from typing import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery
from pyspark.storagelevel import StorageLevel

from cqu_bigdata_recommender_system_for_movies_spark.operators.dedup import (
    HAMMING_MAX,
    _simhash_value_sql,
)
from cqu_bigdata_recommender_system_for_movies_spark.operators.sketches import (
    HLL_LG_K,
    TOPK_MAX_ITEMS_TRACKED,
    _hll_band_cols,
)
from cqu_bigdata_recommender_system_for_movies_spark.operators.vectors import (
    EPS,
    dot,
)
from cqu_bigdata_recommender_system_for_movies_spark.operators.windows import (
    SESSION_GAP_MIN,
)
from cqu_bigdata_recommender_system_for_movies_spark.plans.registry import register
from cqu_bigdata_recommender_system_for_movies_spark.session import shuffle_partitions
from cqu_bigdata_recommender_system_for_movies_spark.streaming.interest import (
    EVENT_TYPES,
    interest_fold_stream,
)
from cqu_bigdata_recommender_system_for_movies_spark.streaming.simdedup import (
    dedup_stream,
    with_fingerprint,
)
from cqu_bigdata_recommender_system_for_movies_spark.streaming.state import STATE_SHARDS
from cqu_bigdata_recommender_system_for_movies_spark.tables import (
    EVENTS_RAW_SCHEMA,
    _events_ts_is_nanos,
    _nanos_to_ts,
    load,
)

_counter = itertools.count()

# State partitions (spark.sql.shuffle.partitions when a stateful stream
# first starts; the checkpoint keeps them) are sized from the source:
#   - below STATE_SCALE_ROWS source rows -> STREAM_STATE_PARTITIONS. Each
#     state partition pays a fixed store cost every batch (open, commit,
#     maintenance, the watermark-advance scan) whatever its row count; at
#     sf0.1 the stream-stream join ran 7.1 s at 8 partitions against
#     19.0 s at 64, and its empty watermark-advance batch 1.0 s against
#     3.6 s at 32.
#   - at or above it, or size unknown -> min(STATE_SHARDS, cores), never
#     below the floor: per-partition state compute dominates there, and
#     no sharded stream has more than STATE_SHARDS state groups.
# Every stateful stream starts inside _stream_state_partitions; probes
# pin a width with n=.
STREAM_STATE_PARTITIONS = 8
# Source rows where per-row shard work overtakes the fixed store cost: a
# 3.3M-row batch spent 14 s in shard work against ~0.1 s/partition of
# store cost, while 100k-row sources still run faster at 8.
STATE_SCALE_ROWS = 1_000_000


def derive_state_partitions(
    spark: SparkSession, source_rows: int | None = None
) -> int:
    """Scale-aware state-partition count (module comment above)."""
    if source_rows is not None and source_rows < STATE_SCALE_ROWS:
        return STREAM_STATE_PARTITIONS
    cores = spark.sparkContext.defaultParallelism
    return max(STREAM_STATE_PARTITIONS, min(STATE_SHARDS, cores))


def _parquet_rows(path: str) -> int | None:
    """Row count from parquet footers only (no Spark job). Accepts a
    single file or a directory of part files; None when unreadable —
    including when pyarrow itself is absent/broken (ADVICE r13: a
    deployment without pyarrow must degrade to the derive unknown-size
    branch, not raise at plan time)."""
    try:
        import pyarrow.parquet as pq
        if os.path.isdir(path):
            return sum(
                pq.ParquetFile(os.path.join(root, f)).metadata.num_rows
                for root, _, files in os.walk(path, followlinks=True)
                for f in files
                if f.endswith(".parquet")
            )
        return pq.ParquetFile(path).metadata.num_rows
    except Exception:
        return None


@contextmanager
def _stream_state_partitions(
    spark: SparkSession,
    n: int | None = None,
    source_path: str | None = None,
):
    """Pin shuffle partitions (= state partitions) for one stream start.

    ``n`` pins explicitly (probes' --state-partitions flag); otherwise the
    count derives from the source's footer row count via
    :func:`derive_state_partitions` — the sf0.1 suite sources stay on the
    8-partition floor, decade-scale replays fan out to min(shards, cores).
    """
    if n is None:
        rows = _parquet_rows(source_path) if source_path else None
        n = derive_state_partitions(spark, rows)
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(n))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def _as_stream_dir(file_path: str) -> str:
    """Spark's file streaming source lists a *directory*; stage a symlink to
    the single parquet file in a stable temp dir (read-only testdata stays
    untouched)."""
    digest = hashlib.md5(file_path.encode()).hexdigest()[:12]
    d = os.path.join(tempfile.gettempdir(), "spark_graft_streams", digest)
    os.makedirs(d, exist_ok=True)
    link = os.path.join(d, os.path.basename(file_path))
    if os.path.lexists(link) and not os.path.exists(link):
        os.unlink(link)  # stale symlink from a prior run whose target moved
    if not os.path.lexists(link):
        os.symlink(file_path, link)
    return d


def _events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the events table (S4 socket stand-in)."""
    stream_dir = _as_stream_dir(f"{sf_dir}/events.parquet")
    if _events_ts_is_nanos(sf_dir):
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        raw = spark.readStream.schema(EVENTS_RAW_SCHEMA).parquet(stream_dir)
        return _nanos_to_ts(raw)
    schema = EVENTS_RAW_SCHEMA.replace("ts LONG", "ts TIMESTAMP_NTZ")
    raw = spark.readStream.schema(schema).parquet(stream_dir)
    # same NTZ -> session-zone cast as tables.load: downstream watermarks
    # and unix_micros expect TIMESTAMP (wall-clock identical under UTC)
    return raw.withColumn("ts", F.col("ts").cast("timestamp"))


def drain(writer: DataStreamWriter) -> StreamingQuery:
    """Run a configured ``writer`` over everything its source holds now
    (an availableNow trigger) and return the stopped query, whose
    ``recentProgress`` stays readable."""
    q = writer.trigger(availableNow=True).start()
    try:
        q.awaitTermination()
    finally:
        q.stop()
    return q


def stage_slices(df: DataFrame, slice_col: str, n_slices: int, stage_dir: str) -> None:
    """Write ``df`` under ``stage_dir`` in one job, one ``slice_col=``
    partition directory holding one file per slice value. Hashing the
    values onto ``n_slices`` tasks may put two values in one task, but
    partitionBy still gives each its own file."""
    (
        df.repartition(n_slices, slice_col)
        .write.mode("overwrite")
        .partitionBy(slice_col)
        .parquet(stage_dir)
    )


def replay(spark: SparkSession, stage_dir: str, schema) -> DataFrame:
    """The file stream over ``stage_dir``, one file per micro-batch.
    ``schema`` includes the slice column of a `stage_slices` stage. The
    source may merge the first files into one batch, so no result may
    depend on the slicing."""
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stage_dir)
    )


def emissions(
    stream: DataFrame,
    score: Callable[[DataFrame], DataFrame],
    mode: str,
    latest_by: str | None = None,
) -> DataFrame:
    """Drain ``stream`` in ``mode``, appending ``score(batch)`` plus the
    batch_id to a private parquet directory, and return the emitted rows
    (without batch_id) as a serialized localCheckpoint. With
    ``latest_by``, keep each key's rows from that key's last batch. The
    directory is removed on return and on failure."""
    out_dir = tempfile.mkdtemp(prefix="spark_graft_emit_")

    def emit(batch_df: DataFrame, batch_id: int) -> None:
        (
            score(batch_df)
            .withColumn("batch_id", F.lit(int(batch_id)))
            .write.mode("append")
            .parquet(out_dir)
        )

    try:
        drain(stream.writeStream.foreachBatch(emit).outputMode(mode))
        rows = stream.sparkSession.read.parquet(out_dir)
        cols = [c for c in rows.columns if c != "batch_id"]
        if latest_by is not None:
            last = rows.groupBy(latest_by).agg(F.max("batch_id").alias("batch_id"))
            rows = rows.join(last, [latest_by, "batch_id"])
        return rows.select(*cols).localCheckpoint(
            eager=True, storageLevel=StorageLevel.MEMORY_AND_DISK
        )
    finally:
        shutil.rmtree(out_dir, ignore_errors=True)


def _run_to_memory(stream_df: DataFrame, mode: str) -> DataFrame:
    """Execute the streaming query to completion; return the sink table."""
    name = f"sink_{next(_counter)}"
    drain(stream_df.writeStream.format("memory").queryName(name).outputMode(mode))
    return stream_df.sparkSession.table(name)


@register(
    "streaming_parse_records",
    oracle="SELECT event_id, user_id, value FROM events",
    doc="ST1/S4/P1/P2/F1/F2: the reference's record-parse pipeline "
    "(streaming_rec.py:181-188): lines -> split -> positional get -> typed "
    "cast, run as an actual micro-batch streaming query (append mode). "
    "Oracle is the batch identity — parsing must be lossless.",
)
def streaming_parse_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = _events_stream(spark, sf_dir)
    lines = stream.select(
        F.concat_ws(
            " ",
            F.col("event_id").cast("string"),
            F.col("user_id").cast("string"),
            F.col("value").cast("string"),
        ).alias("record")
    )
    parts = lines.select(F.split("record", " ").alias("p"))
    parsed = parts.select(
        F.element_at("p", 1).cast("long").alias("event_id"),
        F.element_at("p", 2).cast("long").alias("user_id"),
        F.element_at("p", 3).cast("double").alias("value"),
    )
    return _run_to_memory(parsed, "append")


@register(
    "streaming_wordcount",
    oracle="""
    SELECT word, COUNT(*) AS cnt
    FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
    WHERE word <> ''
    GROUP BY word
    """,
    doc="A1/ST2/T1: the reference's streaming word count golden test "
    "(test/streaming_test.py:32-67) — split/explode/groupBy/count in "
    "complete output mode; must equal the batch word count.",
)
def streaming_wordcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    schema = load(spark, sf_dir, "documents").schema
    stream = spark.readStream.schema(schema).parquet(
        _as_stream_dir(f"{sf_dir}/documents.parquet")
    )
    counts = (
        stream.select(F.explode(F.split("text", " ")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count("*").alias("cnt"))
    )
    return _run_to_memory(counts, "complete")


@register(
    "streaming_window_counts",
    oracle="""
    SELECT strftime(date_trunc('day', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
           event_type, COUNT(*) AS cnt
    FROM events
    GROUP BY 1, 2
    """,
    doc="ST4 (beyond reference parity): event-time tumbling windows — 1-day "
    "window counts per event type, complete mode. Watermarked variants are "
    "exercised in tests; availableNow + complete keeps the result "
    "deterministic for the oracle.",
)
def streaming_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = _events_stream(spark, sf_dir)
    counts = (
        stream.groupBy(F.window("ts", "1 day").alias("w"), "event_type")
        .agg(F.count("*").alias("cnt"))
        .select(
            F.col("w.start").cast("string").alias("window_start"),
            "event_type",
            "cnt",
        )
    )
    with _stream_state_partitions(spark, source_path=f"{sf_dir}/events.parquet"):
        return _run_to_memory(counts, "complete")


@register(
    "streaming_static_join",
    oracle="""
    SELECT event_id, e.user_id AS user_id, event_type, value,
           c_mktsegment AS segment
    FROM events e LEFT JOIN customer ON e.user_id = c_custkey
    """,
    doc="J1/ST5: true stream-static left join (streaming_rec.py:189) — "
    "streaming events enriched with the customer dimension, append mode. "
    "No forced broadcast hint (VERDICT r8 #3): customer grows with scale "
    "factor; the per-micro-batch planner broadcasts it at bench sf and "
    "falls back once the dim outgrows the threshold.",
)
def streaming_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = _events_stream(spark, sf_dir)
    customer = load(spark, sf_dir, "customer")
    joined = stream.join(
        customer, stream.user_id == customer.c_custkey, "left"
    ).select(
        "event_id",
        stream.user_id.alias("user_id"),
        "event_type",
        "value",
        F.col("c_mktsegment").alias("segment"),
    )
    return _run_to_memory(joined, "append")


@register(
    "streaming_watermarked_counts",
    oracle="""
    SELECT strftime(date_trunc('day', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
           event_type, COUNT(*) AS cnt
    FROM events
    WHERE date_trunc('day', ts) + INTERVAL 1 DAY
          <= (SELECT max(ts) - INTERVAL 1 DAY FROM events)
    GROUP BY 1, 2
    """,
    doc="ST4 late-data handling: withWatermark('ts','1 day') + 1-day tumbling "
    "windows in APPEND mode — only windows finalized by the watermark are "
    "emitted (availableNow's final flush batch advances the watermark to "
    "max(ts) - 1 day, so the trailing day's windows stay open and are "
    "withheld). The oracle states exactly that: windows whose end is at or "
    "before max(ts) - 1 day.",
)
def streaming_watermarked_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = _events_stream(spark, sf_dir)
    counts = (
        stream.withWatermark("ts", "1 day")
        .groupBy(F.window("ts", "1 day").alias("w"), "event_type")
        .agg(F.count("*").alias("cnt"))
        .select(
            F.col("w.start").cast("string").alias("window_start"),
            "event_type",
            "cnt",
        )
    )
    return _run_to_memory(counts, "append")


def item_profiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Static item dimension for the real-time recommender: per item_ref
    (the numeric key in the event props payload), the normalized event-type
    distribution — the analogue of the reference's per-movie genre vector
    (streaming_rec.py:130-134), derived from behavior instead of metadata.
    Output: (item_ref, profile: array<double> over EVENT_TYPES order)."""
    events = load(spark, sf_dir, "events")
    typed = events.select(
        F.get_json_object("props", "$.k").cast("int").alias("item_ref"),
        "event_type",
    ).filter(F.col("item_ref").isNotNull())
    per_type = [
        F.sum((F.col("event_type") == t).cast("double")).alias(f"c_{i}")
        for i, t in enumerate(EVENT_TYPES)
    ]
    agg = typed.groupBy("item_ref").agg(*per_type, F.count("*").alias("n"))
    profile = F.array(*[F.col(f"c_{i}") / F.col("n") for i in range(len(EVENT_TYPES))])
    return agg.select("item_ref", profile.alias("profile"))


@register(
    "streaming_recommend_emit",
    # The final snapshot is deterministic (VERDICT r5 #4): each user's LAST
    # batch emission carries their full-fold interest vector (unrounded
    # state, rounded to 6 dp by F.round in the foreachBatch plan — the
    # proven F.round/DuckDB-ROUND pairing, ADVICE r6), so the batch twin —
    # fold, round, cosine vs the item-profile dim, top-10 — IS the oracle.
    # Cosine dot products
    # replay Spark's F.aggregate left fold as sequential list_reduce sums,
    # and scores round to 6 dp BEFORE ranking on both sides, so rank order
    # is computed on identical doubles.
    oracle="""
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
    scored AS (
        SELECT user_id, item_ref,
               ROUND(
                 list_reduce(list_prepend(0.0,
                     list_transform([1,2,3,4,5], i -> interest[i] * profile[i])),
                     (acc, x) -> acc + x)
                 / (sqrt(list_reduce(list_prepend(0.0,
                        list_transform([1,2,3,4,5], i -> interest[i] * interest[i])),
                        (acc, x) -> acc + x))
                    * sqrt(list_reduce(list_prepend(0.0,
                        list_transform([1,2,3,4,5], i -> profile[i] * profile[i])),
                        (acc, x) -> acc + x))
                    + 1e-8), 6) AS score
        FROM folded CROSS JOIN profiles
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
    doc="S6+ST6+M8: the reference's signature real-time loop "
    "(streaming_rec.py:190-198 driving 106-126): per micro-batch, the "
    "stateful interest fold emits updated user vectors; foreachBatch scores "
    "them by cosine against every item profile (broadcast dim), ranks "
    "top-10 per user (window), and APPENDS to a recommendations parquet "
    "table — a set-oriented sink instead of the reference's per-row Bolt "
    "MERGE, and all rows of the batch instead of its first()-only bug. "
    "Returns the final recommendations (latest batch per user).",
)
def streaming_recommend_emit(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Materialize the item-profile dim ONCE: foreachBatch re-evaluates every
    # DataFrame it closes over per micro-batch, so without the checkpoint the
    # events scan + groupBy under item_profiles would re-run for every batch
    # (measured 22 s -> ~4 s warm at sf0.1 once pinned). r16 (guide §2.3):
    # the profile-side norm is a pair-invariant subexpression — fold it ONCE
    # per item into the checkpointed dim instead of once per (user, item)
    # pair inside the interpreted cosine (same double either way, so scores
    # and ranks are bit-identical; the per-pair work drops from three
    # interpreted folds to one).
    profiles = (
        item_profiles(spark, sf_dir)
        .withColumn("pnorm", F.sqrt(dot("profile", "profile")))
        .localCheckpoint(eager=True)
    )

    def score(batch_df: DataFrame) -> DataFrame:
        # state is unrounded (ADVICE r6): round interest to 6 dp in the
        # plan (F.round = DuckDB ROUND) BEFORE scoring, matching the
        # oracle's fold -> round -> cosine -> round pipeline exactly.
        batch_df = batch_df.withColumn(
            "interest", F.transform("interest", lambda x: F.round(x, 6))
        ).withColumn(
            # user-side norm once per user, not once per scored pair
            "inorm",
            F.sqrt(dot("interest", "interest")),
        )
        # crossJoin is deliberate (J5): every updated user scores every
        # item; the item side is a broadcast dim, so the expansion is
        # map-side and the per-user top-10 prunes it immediately. The
        # score is cosine with both norms pre-folded: dot / (inorm *
        # pnorm + EPS) — the identical expression tree on identical
        # doubles, one fold per pair instead of three.
        scored = batch_df.crossJoin(F.broadcast(profiles)).select(
            "user_id",
            "item_ref",
            F.round(
                dot("interest", "profile")
                / (F.col("inorm") * F.col("pnorm") + F.lit(EPS)),
                6,
            ).alias("score"),
        )
        w = Window.partitionBy("user_id").orderBy(F.desc("score"), F.asc("item_ref"))
        return scored.withColumn("rnk", F.row_number().over(w)).filter(
            F.col("rnk") <= 10
        )

    folded = interest_fold_stream(_events_stream(spark, sf_dir))
    with _stream_state_partitions(spark, source_path=f"{sf_dir}/events.parquet"):
        recs = emissions(folded, score, "update", latest_by="user_id")
    return recs.select("user_id", "item_ref", "rnk", "score")


def run_console_sink(stream_df: DataFrame, mode: str = "append") -> int:
    """S5 console sink (reference test/streaming_test.py:62-66): drive the
    streaming query to completion printing each micro-batch to stdout.
    Returns the total input-row count summed over the query's progress
    events, so callers can assert the sink consumed the whole source."""
    q = drain(
        stream_df.writeStream.format("console")
        .option("numRows", 5)
        .option("truncate", True)
        .outputMode(mode)
    )
    return int(sum(p["numInputRows"] for p in q.recentProgress))


@register(
    "streaming_console_emit",
    oracle="SELECT CAST(COUNT(*) AS BIGINT) AS rows_emitted FROM events",
    doc="S5 console sink as a driver-visible row (reference "
    "test/streaming_test.py:62-66 printed each micro-batch): the events "
    "stream runs to completion against a REAL console sink (availableNow, "
    "append mode), and the row count the sink consumed — summed from the "
    "query's progress metrics — must equal the batch COUNT(*) of the "
    "source table, i.e. the sink dropped nothing. Round 3 left S5 as "
    "pytest-only; this closed the last source/sink cell with no driver "
    "evidence (round 5 then landed the live-socket driver row too — "
    "streaming_socket_parse_records).",
)
def streaming_console_emit(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = _events_stream(spark, sf_dir).select(
        "event_id", "user_id", "event_type", "value"
    )
    total = run_console_sink(stream, mode="append")
    return spark.createDataFrame([(total,)], "rows_emitted long")


def socket_lines_stream(spark: SparkSession, host: str, port: int) -> DataFrame:
    """S4 socket source (reference streaming_rec.py:173-188): lines of
    'user_id item_id rating timestamp' parsed to typed columns. The
    registry's file-source twin has identical parse semantics; this is the
    live-demo path, exercised against a loopback server in tests."""
    raw = (
        spark.readStream.format("socket")
        .option("host", host)
        .option("port", port)
        .load()
    )
    p = F.split(F.col("value"), " ")
    return raw.select(
        F.element_at(p, 1).cast("long").alias("user_id"),
        F.element_at(p, 2).cast("long").alias("item_id"),
        F.element_at(p, 3).cast("double").alias("rating"),
        F.element_at(p, 4).cast("long").alias("timestamp"),
    )


SOCKET_N_LINES = 200  # events staged through the loopback server
SOCKET_DEADLINE_SEC = 90


@register(
    "streaming_socket_parse_records",
    oracle=f"""
    SELECT event_id, user_id, event_type
    FROM events WHERE event_id < {SOCKET_N_LINES}
    """,
    doc="S4 under the driver (VERDICT r3/r4 stretch item): a REAL "
    "format('socket') stream against an in-process loopback server "
    "feeding reference-format lines (streaming_rec.py:173-188), parsed "
    "with the same split/get/cast pipeline as the file twin and drained "
    "to a memory sink until every staged line arrived. Lines carry only "
    "exactly-representable fields (ids + event_type) so the oracle "
    "compare has no float-formatting hazard; the terminal dropDuplicates "
    "mirrors production socket ingest (TCP delivery is at-least-once "
    "across reconnects — dedup by key is the standard guard). Line "
    "staging is a driver-side collect of {n} rows by design — it is the "
    "feed, not the query.".format(n=SOCKET_N_LINES),
)
def streaming_socket_parse_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    import socket as socketlib
    import threading
    import time

    rows = (
        load(spark, sf_dir, "events")
        .filter(F.col("event_id") < SOCKET_N_LINES)
        .select("event_id", "user_id", "event_type")
        .collect()
    )
    lines = [f"{r.event_id} {r.user_id} {r.event_type}\n".encode() for r in rows]

    server = socketlib.socket(socketlib.AF_INET, socketlib.SOCK_STREAM)
    server.setsockopt(socketlib.SOL_SOCKET, socketlib.SO_REUSEADDR, 1)
    server.bind(("127.0.0.1", 0))
    server.listen(1)
    port = server.getsockname()[1]
    done = threading.Event()

    def serve() -> None:
        conn, _ = server.accept()
        with conn:
            for ln in lines:
                conn.sendall(ln)
            done.wait(SOCKET_DEADLINE_SEC)  # hold the connection open

    t = threading.Thread(target=serve, daemon=True)
    t.start()

    raw = (
        spark.readStream.format("socket")
        .option("host", "127.0.0.1")
        .option("port", port)
        .load()
    )
    p = F.split(F.col("value"), " ")
    parsed = raw.select(
        F.element_at(p, 1).cast("long").alias("event_id"),
        F.element_at(p, 2).cast("long").alias("user_id"),
        F.element_at(p, 3).alias("event_type"),
    )
    name = f"socket_sink_{next(_counter)}"
    q = (
        parsed.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .start()
    )
    try:
        deadline = time.time() + SOCKET_DEADLINE_SEC
        got = 0
        while time.time() < deadline:
            q.processAllAvailable()
            got = spark.table(name).dropDuplicates(["event_id"]).count()
            if got >= len(lines):
                break
            time.sleep(0.2)
        else:
            # fail loudly: a partial drain would otherwise surface as an
            # oracle row-count mismatch, indistinguishable from a parse bug
            raise TimeoutError(
                f"socket drain timed out after {SOCKET_DEADLINE_SEC}s: "
                f"received {got}/{len(lines)} distinct lines"
            )
    finally:
        done.set()
        q.stop()
        server.close()
    return spark.table(name).dropDuplicates(["event_id"])


@register(
    "streaming_session_window",
    oracle=f"""
    WITH gaps AS (
        SELECT user_id, ts, event_id,
               CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER w
                         < {SESSION_GAP_MIN} * 60 * 1000000
                    THEN 0 ELSE 1 END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sessions AS (
        SELECT user_id, ts,
               SUM(new_session) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        FROM gaps
    )
    SELECT user_id,
           strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
           COUNT(*) AS n_events
    FROM sessions
    GROUP BY user_id, sid
    """,
    doc="Native streaming session windows (the streaming twin of "
    "sessionize_events): groupBy(user, session_window(ts, '30 min')) with "
    "state-store session merging — Spark's own gap-based session operator. "
    "The oracle is the batch lag+cumsum sessionization; the streaming "
    "result must be identical session-for-session.",
)
def streaming_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = _events_stream(spark, sf_dir)
    agg = (
        stream.withWatermark("ts", "0 seconds")
        .groupBy("user_id", F.session_window("ts", f"{SESSION_GAP_MIN} minutes").alias("w"))
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            "n_events",
        )
    )
    return _run_to_memory(agg, "complete")


@register(
    "streaming_dedup_events",
    oracle="SELECT DISTINCT user_id, event_type FROM events",
    doc="Streaming deduplication: dropDuplicates over the stream's key "
    "columns — per-key state in the state store emits each (user, type) "
    "exactly once across all micro-batches (the streaming counterpart of "
    "the batch distinct / exact-dedup operators).",
)
def streaming_dedup_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = _events_stream(spark, sf_dir)
    deduped = stream.select("user_id", "event_type").dropDuplicates(
        ["user_id", "event_type"]
    )
    return _run_to_memory(deduped, "append")


@register(
    "streaming_interest_fold",
    # The fold is a deterministic linear recurrence, so it HAS a SQL oracle
    # (VERDICT r5 #4): DuckDB replays U := U*(1-λr) + T*(λr) sequentially
    # via list_reduce over each user's (ts, event_id)-ordered events. The
    # engine folds each micro-batch with vectorized suffix-products
    # (interest.py:fold_events) — mathematically identical, FP-rounded
    # differently at ~1e-15; both sides round weights to 6 dp, which the
    # recurrence's O(n·eps) error cannot straddle at these magnitudes.
    oracle="""
    WITH per_user AS (
        SELECT user_id,
               COUNT(*) AS n_events,
               list(
                   [value / 50.0,
                    CAST(list_position(
                        ['click', 'error', 'purchase', 'signup', 'view'],
                        event_type) - 1 AS DOUBLE)]
                   ORDER BY ts, event_id) AS evs
        FROM events GROUP BY user_id
    ),
    folded AS (
        SELECT user_id, n_events,
               list_reduce(
                   list_prepend([0.0, 0.0, 0.0, 0.0, 0.0], evs),
                   (acc, x) -> list_transform([1, 2, 3, 4, 5],
                       i -> acc[i] * (1 - 0.05 * x[1])
                            + CASE WHEN x[2] = i - 1
                                   THEN 0.05 * x[1] ELSE 0.0 END)
               ) AS interest
        FROM per_user
    )
    SELECT user_id, n_events,
           CAST(t.range AS BIGINT) AS pos,
           ROUND(interest[t.range + 1], 6) AS weight
    FROM folded CROSS JOIN range(5) t
    """,
    doc="ST3/F7/M8: per-user interest-vector EWMA fold "
    "U := U*(1-λr) + T*(λr), λ=0.05 (streaming_rec.py:99) as distributed "
    "per-key streaming state via applyInPandasWithState — all events per "
    "user folded in event-time order (the reference processed only "
    "first() per batch; documented deviation, SURVEY.md §7). Interest "
    "emitted as (user_id, n_events, pos, weight) rows.",
)
def streaming_interest_fold(spark: SparkSession, sf_dir: str) -> DataFrame:
    folded = interest_fold_stream(_events_stream(spark, sf_dir))
    with _stream_state_partitions(spark, source_path=f"{sf_dir}/events.parquet"):
        result = _run_to_memory(folded, "update")
    # memory sink in update mode may hold one row per key per batch; keep the
    # final state per user (max n_events), exploded to scalar rows for hashing
    latest = (
        result.groupBy("user_id")
        .agg(F.max(F.struct("n_events", "interest")).alias("s"))
        .select("user_id", F.col("s.n_events").alias("n_events"), F.col("s.interest").alias("interest"))
    )
    return (
        latest.select(
            "user_id", "n_events", F.posexplode("interest").alias("pos", "weight")
        )
        .withColumn("pos", F.col("pos").cast("long"))
        # state is unrounded (ADVICE r6); round HERE with F.round so both
        # engines share the proven F.round/DuckDB-ROUND pairing
        .withColumn("weight", F.round("weight", 6))
    )


@register(
    "streaming_stream_stream_join",
    oracle="""
    SELECT p.user_id, p.event_id AS purchase_id, c.event_id AS click_id,
           ROUND(p.value, 4) AS purchase_value
    FROM events p JOIN events c
      ON p.user_id = c.user_id
     AND c.ts BETWEEN p.ts - INTERVAL 1 DAY AND p.ts
    WHERE p.event_type = 'purchase' AND c.event_type = 'click'
    """,
    doc="Stream-stream inner join (beyond the reference's stream-static "
    "J1): purchases joined to the same user's clicks in the preceding "
    "day — both sides watermarked (state for unmatched rows is "
    "dropped once the other side's watermark passes the join window, so "
    "state stays bounded at 100 TB/day ingest), with the time-range "
    "predicate limiting the buffered range. The DuckDB oracle is the "
    "batch join — micro-batch incrementalization must converge to it.",
)
def streaming_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events_stream(spark, sf_dir)
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("p_ts"),
            F.col("value").alias("p_value"),
        )
        .withWatermark("p_ts", "2 days")
    )
    # both sides derive from ONE readStream source (a self-join): the file
    # listing/scan is planned once per micro-batch instead of maintaining
    # two independent sources with separate offset logs over the same data
    c = (
        ev.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "2 days")
    )
    joined = p.join(
        c,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 1 DAY"))
        & (F.col("c_ts") <= F.col("p_ts")),
        "inner",
    ).select(
        F.col("p_user").alias("user_id"),
        "purchase_id",
        "click_id",
        F.round("p_value", 4).alias("purchase_value"),
    )
    with _stream_state_partitions(spark, source_path=f"{sf_dir}/events.parquet"):
        return _run_to_memory(joined, "append")


@register(
    "streaming_hash_split_counts",
    oracle="""
    SELECT CASE
             WHEN CAST(('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 8))
                  AS BIGINT) % 100 < 80 THEN 'train'
             WHEN CAST(('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 8))
                  AS BIGINT) % 100 < 90 THEN 'val'
             ELSE 'test'
           END AS split,
           COUNT(*) AS n
    FROM events GROUP BY 1
    """,
    doc="Streaming twin of hash_split_assign: deterministic md5 train/val/"
    "test assignment applied per micro-batch (a pure map — no state), "
    "split counts aggregated in complete mode. Because the assignment is "
    "a function of the key alone, the streaming result is exactly the "
    "batch result — the property that makes hash-splitting the correct "
    "choice for a continuously-ingesting training pipeline (an RNG split "
    "would re-roll every restart).",
)
def streaming_hash_split_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = _events_stream(spark, sf_dir)
    bucket = (
        F.conv(
            F.substring(F.md5(F.col("event_id").cast("string")), 1, 8), 16, 10
        ).cast("long")
        % 100
    )
    counts = (
        stream.select(
            F.when(bucket < 80, "train")
            .when(bucket < 90, "val")
            .otherwise("test")
            .alias("split")
        )
        .groupBy("split")
        .agg(F.count("*").alias("n"))
    )
    return _run_to_memory(counts, "complete")


@register(
    "streaming_hll_distinct",
    oracle="""
    -- hll_within_pct is evaluated engine-side against the pinned band
    -- abs(streamed_hll_estimate - n_users) <= greatest(2, 0.01 * n_users),
    -- i.e. (x100, integer-exact) 100*abs(est - n_users) <= greatest(200,
    -- n_users); band_tol_x100 recomputes that tolerance so the driver
    -- hashes the band arithmetic, not just the verdict bit (VERDICT r7 #4)
    SELECT event_type, COUNT(DISTINCT user_id) AS n_users,
           GREATEST(CAST(200 AS BIGINT), COUNT(DISTINCT user_id))
               AS band_tol_x100,
           TRUE AS hll_within_pct
    FROM events GROUP BY event_type
    """,
    doc="Streaming distinct-count via mergeable HLL sketches — the only "
    "shape a per-key streaming COUNT(DISTINCT) keeps at scale: exact "
    "streaming distinct would hold every seen user id as state, while "
    "the sketch keeps O(256 KiB) per key no matter how many users flow "
    "through, and each micro-batch MERGES into that bounded state "
    "(hll_sketch_agg is a mergeable aggregate, so it runs under "
    "complete-mode streaming aggregation unchanged). The estimate is "
    "applied AFTER the stateful agg, per emitted row. Verification "
    "shape: the streamed estimate is band-checked against a batch-exact "
    "twin join (sketch estimates are not bit-stable across "
    "cardinalities — operators/sketches.py _hll_band_cols), and the "
    "exact anchor column is what the oracle hashes.",
)
def streaming_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = _events_stream(spark, sf_dir)
    sketched = stream.groupBy("event_type").agg(
        F.expr(f"hll_sketch_agg(user_id, {HLL_LG_K})").alias("sk")
    )
    est = sketched.select(
        "event_type", F.expr("hll_sketch_estimate(sk)").alias("est")
    )
    streamed = _run_to_memory(est, "complete")
    exact = (
        load(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.count_distinct("user_id").alias("n_users"))
    )
    return streamed.join(exact, "event_type").select(
        "event_type", "n_users", *_hll_band_cols(F.col("est"), "n_users")
    )


STREAM_TOPK_K = 10


@register(
    "streaming_approx_topk",
    oracle=f"""
    WITH counts AS (
        SELECT user_id, COUNT(*) AS cnt FROM events GROUP BY user_id
    ),
    boundary AS (SELECT cnt FROM counts ORDER BY cnt DESC LIMIT {STREAM_TOPK_K})
    SELECT user_id, cnt
    FROM counts WHERE cnt > (SELECT MIN(cnt) FROM boundary)
    """,
    doc="Streaming heavy hitters via the frequent-items sketch: "
    "approx_top_k(user_id) as a complete-mode streaming aggregate — "
    "bounded sketch state merged per micro-batch, where an exact "
    "streaming top-k would keep a counter per key forever. The sketch "
    "row lands in the memory sink; the explode + boundary-tie drop "
    "(same determinism argument as operators/sketches.approx_topk_"
    "parts: the top-k count MULTISET is unique even when tied members "
    "are not) runs batch-side on the sink table. Counts exact while "
    "maxItemsTracked exceeds the distinct-user count.",
)
def streaming_approx_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = _events_stream(spark, sf_dir)
    sketched = stream.agg(
        F.expr(
            f"approx_top_k(user_id, {STREAM_TOPK_K}, {TOPK_MAX_ITEMS_TRACKED})"
        ).alias("tk")
    )
    sink = _run_to_memory(sketched, "complete")
    exploded = sink.select(F.explode("tk").alias("e")).select(
        F.col("e.item").alias("user_id"), F.col("e.count").alias("cnt")
    )
    boundary = exploded.agg(F.min("cnt").alias("b"))
    return (
        exploded.join(F.broadcast(boundary))
        .filter(F.col("cnt") > F.col("b"))
        .select("user_id", "cnt")
    )


UPSERT_N_SLICES = 3  # staged source files -> micro-batches
LAST_UPSERT_BATCH_ROWS: list[int] = []  # input rows per batch of the last run (test hook)


@register(
    "streaming_upsert_merge",
    oracle="""
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
    FROM events GROUP BY user_id
    """,
    doc="Streaming upsert into a snapshot table — the foreachBatch MERGE "
    "pattern every lakehouse streaming sink implements: the source is "
    "staged as one file per event_id % 3 slice and replayed one file per "
    "micro-batch (the file source may merge the first files into one "
    "batch), and each batch full-outer-merges its "
    "per-user aggregate into the previous snapshot version by pure "
    "arithmetic (counts and exact per-event cents add), writing an "
    "immutable new version — MVCC-style, never overwriting the file a "
    "reader might hold. Because the merge is the same decomposable "
    "algebra as incremental_agg_merge, the FINAL snapshot equals the "
    "one-shot batch aggregate, which is exactly what the oracle "
    "checks: exactly-once upsert semantics across micro-batch "
    "boundaries, not just within one.",
)
def streaming_upsert_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    sliced = load(spark, sf_dir, "events").withColumn(
        "slice", F.pmod("event_id", F.lit(UPSERT_N_SLICES))
    )
    stage_dir = tempfile.mkdtemp(prefix="spark_graft_upsert_src_")
    snap_root = tempfile.mkdtemp(prefix="spark_graft_upsert_snap_")
    state = {"version": -1}

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        delta = batch_df.groupBy("user_id").agg(
            F.count("*").alias("n_events"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("sum_cents"),
        )
        if state["version"] >= 0:
            prev = batch_df.sparkSession.read.parquet(
                f"{snap_root}/v{state['version']}"
            )
            p = prev.select(*[F.col(c).alias(f"p_{c}") for c in prev.columns])
            merged = p.join(
                delta, p.p_user_id == delta.user_id, "full_outer"
            ).select(
                F.coalesce("p_user_id", "user_id").alias("user_id"),
                (
                    F.coalesce("p_n_events", F.lit(0))
                    + F.coalesce("n_events", F.lit(0))
                ).alias("n_events"),
                (
                    F.coalesce("p_sum_cents", F.lit(0))
                    + F.coalesce("sum_cents", F.lit(0))
                ).alias("sum_cents"),
            )
        else:
            merged = delta
        merged.write.mode("overwrite").parquet(f"{snap_root}/v{int(batch_id)}")
        state["version"] = int(batch_id)

    try:
        stage_slices(sliced, "slice", UPSERT_N_SLICES, stage_dir)
        stream = replay(spark, stage_dir, sliced.schema).drop("slice")
        q = drain(stream.writeStream.foreachBatch(merge_batch).outputMode("update"))
        LAST_UPSERT_BATCH_ROWS[:] = [p["numInputRows"] for p in q.recentProgress]
        # the final version must outlive snap_root
        return spark.read.parquet(f"{snap_root}/v{state['version']}").localCheckpoint(
            eager=True, storageLevel=StorageLevel.MEMORY_AND_DISK
        )
    finally:
        shutil.rmtree(stage_dir, ignore_errors=True)
        shutil.rmtree(snap_root, ignore_errors=True)


@register(
    "streaming_stream_stream_left_join",
    oracle="""
    WITH wm AS (
        -- Spark's global watermark on termination: min over both inputs of
        -- (max observed event time - 2 days). An unmatched purchase emits
        -- its null row only once provably unmatchable, i.e. p_ts < wm.
        SELECT LEAST(
            (SELECT MAX(ts) FROM events WHERE event_type = 'purchase'),
            (SELECT MAX(ts) FROM events WHERE event_type = 'click')
        ) - INTERVAL 2 DAY AS cutoff
    )
    SELECT p.user_id, p.event_id AS purchase_id, c.event_id AS click_id,
           ROUND(p.value, 4) AS purchase_value
    FROM events p JOIN events c
      ON p.user_id = c.user_id
     AND c.ts BETWEEN p.ts - INTERVAL 1 DAY AND p.ts
    WHERE p.event_type = 'purchase' AND c.event_type = 'click'
    UNION ALL
    -- click_id -1 = "no click" sentinel: the hash compare sorts column
    -- tuples, and a mixed NULL/BIGINT column is unorderable there
    SELECT p.user_id, p.event_id AS purchase_id,
           CAST(-1 AS BIGINT) AS click_id,
           ROUND(p.value, 4) AS purchase_value
    FROM events p CROSS JOIN wm
    WHERE p.event_type = 'purchase'
      AND p.ts < wm.cutoff
      AND NOT EXISTS (
          SELECT 1 FROM events c
          WHERE c.event_type = 'click' AND c.user_id = p.user_id
            AND c.ts BETWEEN p.ts - INTERVAL 1 DAY AND p.ts
      )
    """,
    doc="Stream-stream LEFT OUTER join with watermark-driven null "
    "emission: purchases that saw no same-user click in the preceding "
    "day surface with a NULL click_id — but only once the global "
    "watermark (min over both inputs of max-event-time minus the 2-day "
    "delay) proves no future click can match, which is when the state "
    "store evicts them. The oracle reproduces that semantics exactly: "
    "batch inner join UNION the unmatched purchases older than the "
    "final watermark — so the driver hash-checks not just the join "
    "but Spark's outer-row eviction contract. State stays bounded at "
    "100 TB/day: both sides drop buffered rows as the watermark "
    "passes, identical to the inner form.",
)
def streaming_stream_stream_left_join(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = _events_stream(spark, sf_dir)
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("p_ts"),
            F.col("value").alias("p_value"),
        )
        .withWatermark("p_ts", "2 days")
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "2 days")
    )
    joined = p.join(
        c,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 1 DAY"))
        & (F.col("c_ts") <= F.col("p_ts")),
        "left_outer",
    ).select(
        F.col("p_user").alias("user_id"),
        "purchase_id",
        F.coalesce("click_id", F.lit(-1).cast("long")).alias("click_id"),
        F.round("p_value", 4).alias("purchase_value"),
    )
    with _stream_state_partitions(spark, source_path=f"{sf_dir}/events.parquet"):
        return _run_to_memory(joined, "append")


@register(
    "streaming_dedup_within_watermark",
    oracle="""
    SELECT user_id, event_type,
           MIN(event_id) AS first_event_id,
           CAST(COUNT(*) AS BIGINT) AS n_duplicates
    FROM events
    GROUP BY user_id, event_type
    """,
    doc="Streaming dedup with BOUNDED state: dropDuplicatesWithinWatermark "
    "keeps a key in the state store only until the watermark passes its "
    "event time plus the delay, then evicts -- the production form of "
    "streaming_dedup_events, whose plain dropDuplicates state grows "
    "forever at 100 TB/day (every key ever seen). The 30-day delay "
    "exceeds the fixture's full time span, so eviction provably cannot "
    "drop a duplicate here and the result must equal the batch "
    "distinct; the min-id/count audit columns come from a parallel "
    "batch aggregate over the same staged source (the dedup itself is "
    "the streaming op under test -- row count equality against the "
    "grouped oracle is what proves exactly-one-survivor-per-key).",
)
def streaming_dedup_within_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = _events_stream(spark, sf_dir)
    deduped = (
        stream.withWatermark("ts", "30 days")
        .select("user_id", "event_type", "ts")
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
        .select("user_id", "event_type")
    )
    survivors = _run_to_memory(deduped, "append")
    # audit columns from the batch table (same rows the stream consumed):
    # first surviving id + duplicate count per key, joined to the stream's
    # survivor set so the row count is the streaming dedup's, not the agg's
    audit = (
        load(spark, sf_dir, "events")
        .groupBy("user_id", "event_type")
        .agg(
            F.min("event_id").alias("first_event_id"),
            F.count("*").alias("n_duplicates"),
        )
    )
    return survivors.join(audit, ["user_id", "event_type"])


def _simdedup_oracle() -> str:
    return f"""
    WITH {_simhash_value_sql()}
    SELECT a.doc_id AS doc_id,
           COALESCE(MIN(b.doc_id), CAST(-1 AS BIGINT)) AS dup_of
    FROM sim a LEFT JOIN sim b
      ON b.doc_id < a.doc_id
     AND bit_count(xor(a.sim, b.sim)) <= {HAMMING_MAX}
    GROUP BY a.doc_id
    """


@register(
    "streaming_simhash_dedup",
    oracle=_simdedup_oracle(),
    doc="ONLINE near-dup detection — the streaming twin of "
    "simhash_near_dup_pairs: documents arrive in 3 real micro-batches "
    "(staged slices, maxFilesPerTrigger=1) and each is checked against "
    "the fingerprints of everything already ingested. Per-row SimHash "
    "(streaming/simdedup.py:fingerprint_col — no aggregation needed to "
    "fingerprint a stream), Manku 4x16 band keys, per-(band, block) "
    "applyInPandasWithState keeping fp-COLLAPSED group state "
    "(fp -> (min_id, count), O(distinct fps) — exact-dup skew adds no "
    "entries); lossless by the same pigeonhole as the batch side. "
    "Emissions are direct rows (dup_id, of_id) plus group corrections "
    "(grp=fp, of_id) that reach a group's larger members by joining "
    "back on the doc fingerprint, so min over both kinds per doc "
    "converges to the batch LEFT-JOIN-min oracle regardless of how the "
    "stream is split into batches: for any qualifying pair, whichever "
    "side arrives later finds the other's group in state. dup_of = -1 "
    "marks a doc with no smaller near-duplicate.",
)
def streaming_simhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    # stage the corpus as 3 slices so state genuinely crosses batches
    # (the pytest's doc_id % 3 != dup_of % 3 assertion relies on it)
    sliced = docs.withColumn("slice", F.pmod("doc_id", F.lit(3)).cast("int"))
    stage_dir = tempfile.mkdtemp(prefix="spark_graft_simdedup_src_")
    try:
        stage_slices(sliced, "slice", 3, stage_dir)
        stream = replay(spark, stage_dir, sliced.schema).drop("slice")
        with _stream_state_partitions(spark, source_path=stage_dir):
            emitted = _run_to_memory(dedup_stream(stream), "update")
    finally:
        shutil.rmtree(stage_dir, ignore_errors=True)
    # direct pair rows: the arriving doc's own best partner per bucket
    direct = (
        emitted.filter(F.col("dup_id").isNotNull())
        .groupBy("dup_id")
        .agg(F.min("of_id").alias("dup_of"))
    )
    # group corrections reach a group's LARGER members (incl. ones that
    # arrived in earlier batches) by joining back on the exact
    # fingerprint; min per group is valid because the per-doc filter
    # of_id < doc_id keeps exactly the partners the group min represents
    corr = (
        emitted.filter(F.col("grp").isNotNull())
        .groupBy("grp")
        .agg(F.min("of_id").alias("corr_of"))
    )
    # (doc_id, fp) — r16: the ~1 ms/doc interpreted fingerprint fold used
    # to re-run per consumer (two joins read base) at the SCAN's
    # parallelism (one small file = one task); repartition to machine
    # width and checkpoint so it runs once, wide (guide §1.2/§2.4 — same
    # fold, same rows, identical fingerprints)
    n_fold = max(
        shuffle_partitions(spark), spark.sparkContext.defaultParallelism
    )
    base = with_fingerprint(docs.repartition(n_fold)).localCheckpoint(
        eager=True
    )
    corrected = (
        base.join(corr, base.fp == corr.grp)
        .where(F.col("corr_of") < F.col("doc_id"))
        .select("doc_id", F.col("corr_of").alias("dup_of"))
    )
    mins = (
        direct.select(F.col("dup_id").alias("doc_id"), "dup_of")
        .unionByName(corrected)
        .groupBy("doc_id")
        .agg(F.min("dup_of").alias("dup_of"))
    )
    # every fingerprinted doc appears in the answer; -1 = no smaller near-dup
    return base.select("doc_id").join(mins, "doc_id", "left").select(
        "doc_id",
        F.coalesce("dup_of", F.lit(-1).cast("long")).alias("dup_of"),
    )
