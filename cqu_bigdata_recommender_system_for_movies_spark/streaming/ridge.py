"""Per-user online ridge regression over an event stream.

Where the interest fold (streaming/interest.py) keeps a feature vector
per user, this fold keeps each user's model: the sufficient statistics
of the ridge regression of event value y on the rated item's profile
vector x,

    A_u += x x^T      b_u += x * y      n_u += 1

and after each micro-batch it re-solves

    theta_u = (A_u + reg * n_u * I)^-1 b_u

for every user seen in the batch, the streaming twin of ml/foldin.py's
closed-form fold-in with the same ALS-WR reg scaling. State is 20
doubles per user (the 15 upper-triangle entries of A and the 5 of b)
plus n, in sharded streaming state (streaming/state.py).

Invariants:
- the statistics are sums, so arrival order, batch boundaries and the
  shard a user hashes to cannot change the final model beyond float
  summation order;
- a user's emitted ``n_events`` is the count of all of the user's
  profiled events folded so far, which the registered query checks
  exactly against its oracle.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
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
)
from cqu_bigdata_recommender_system_for_movies_spark.streaming.queries import (
    _events_stream,
    _run_to_memory,
    _stream_state_partitions,
    item_profiles,
)
from cqu_bigdata_recommender_system_for_movies_spark.streaming.state import sharded_fold

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


def update_ridge(
    batch: pd.DataFrame, table: pd.DataFrame | None
) -> tuple[pd.DataFrame, pd.DataFrame]:
    """Scatter-add one shard's batch slice into its (user_id, n_events,
    stats) table; emits the re-solved theta of the users seen in the
    batch."""
    if table is None:
        users, n_arr, s_arr = [], np.zeros(0, np.int64), np.zeros((0, N_STATS))
    else:
        users = table["user_id"].tolist()
        n_arr = table["n_events"].to_numpy(np.int64, copy=True)
        s_arr = np.stack(table["stats"].to_numpy())
    slot = {u: k for k, u in enumerate(users)}
    batch_users = batch["user_id"].tolist()
    new = [u for u in dict.fromkeys(batch_users) if u not in slot]
    for u in new:
        slot[u] = len(users)
        users.append(u)
    n_arr = np.concatenate([n_arr, np.zeros(len(new), np.int64)])
    s_arr = np.concatenate([s_arr, np.zeros((len(new), N_STATS))])

    X = np.stack(batch["profile"].to_numpy()).astype(np.float64)
    y = batch["value"].to_numpy(dtype=np.float64)
    contrib = np.empty((len(batch), N_STATS))
    for k, (i, j) in enumerate(_TRI):
        contrib[:, k] = X[:, i] * X[:, j]
    contrib[:, len(_TRI) :] = X * y[:, None]
    rows = np.fromiter((slot[u] for u in batch_users), np.int64, len(batch_users))
    np.add.at(s_arr, rows, contrib)
    np.add.at(n_arr, rows, 1)

    table = pd.DataFrame({"user_id": users, "n_events": n_arr, "stats": list(s_arr)})
    sel = np.unique(rows)
    out = pd.DataFrame(
        {
            "user_id": table["user_id"].to_numpy()[sel],
            "n_events": n_arr[sel],
            "theta": list(_solve_many(n_arr[sel], s_arr[sel])),
        }
    )
    return table, out


def ridge_fold_stream(stream_df: DataFrame, profiles: DataFrame) -> DataFrame:
    """The stream-static profile join feeding the sharded ridge fold."""
    joined = (
        stream_df.select(
            "user_id",
            F.get_json_object("props", "$.k").cast("int").alias("item_ref"),
            F.col("value").cast("double").alias("value"),
        )
        .filter(F.col("item_ref").isNotNull())
        .join(profiles, "item_ref")  # stream-static (J1), stateless
    )
    return sharded_fold(joined, ["user_id"], update_ridge, RIDGE_OUTPUT_SCHEMA)


def streaming_online_ridge_detail(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(user_id, n_events, theta): each user's latest emission, the
    cumulative model over all of the user's profiled events. A user's
    n_events grows with every batch that sees the user, so the latest
    row is the one with the largest n_events. Consumed by the registered
    count-anchored query and by pytest's batch twin."""
    profiles = item_profiles(spark, sf_dir).localCheckpoint(eager=True)
    folded = ridge_fold_stream(_events_stream(spark, sf_dir), profiles)
    with _stream_state_partitions(spark, source_path=f"{sf_dir}/events.parquet"):
        rows = _run_to_memory(folded, "update")
    return (
        rows.groupBy("user_id")
        .agg(F.max(F.struct("n_events", "theta")).alias("s"))
        .select("user_id", "s.n_events", "s.theta")
    )


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
