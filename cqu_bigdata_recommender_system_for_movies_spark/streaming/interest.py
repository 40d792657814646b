"""Per-key stateful interest-vector fold (SURVEY.md ST3 / F7 / M8).

The reference maintains a per-user "interest vector" updated per rating
event: ``U := U*(1 - λ·r) + T·(λ·r)`` with λ=0.05, where T is the item's
feature vector (reference src/streaming/streaming_rec.py:77-127, update rule
at line 99). Its implementation had two scale bugs we deliberately fix
(SURVEY.md §3.2): it processed only ``batch_df.first()`` (one event per
micro-batch) and kept state in an external DB with a per-event
read-modify-write.

Here the fold runs as proper distributed streaming state:
``groupBy(shard).applyInPandasWithState`` with users HASH-SHARDED into
STATE_SHARDS state groups, each holding a ``user -> (n_events, vector)``
dict as parallel arrays — the same sharding that took simdedup's
per-bucket state from 74 s of per-group overhead to 6 s at sf0.1
(VERDICT r11 #1). Grouping state by the raw user key costs one Python
invocation + one state (de)serialization PER USER PER BATCH; the r11
100x probe measured ~120 s per 3.3M-row batch over 150k near-singleton
user groups, all machinery. Sharding bounds the invocation count at
STATE_SHARDS while the fold itself stays per-user inside each shard
(dict lookup + the same closed-form numpy fold), so emitted rows — one
per user seen in the batch, cumulative n_events, unrounded vector — are
IDENTICAL to the per-user-keyed form. Each micro-batch folds *all* of a
user's events in event-time order. No external round-trips; state lives
in the engine's state store; per-shard state is users/STATE_SHARDS. At
100 TB, STATE_SHARDS is the state-store parallelism dial — raise it
with the cluster's state partitions.
"""

from __future__ import annotations

from typing import Any, Iterator

import numpy as np
import pandas as pd
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    LongType,
    StructField,
    StructType,
)

LAMBDA = 0.05  # reference streaming_rec.py:99 (docstring says 0.8; code wins)
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
DIM = len(EVENT_TYPES)
RATING_SCALE = 50.0  # maps value (~0..250) into a rating-like magnitude

OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_events", LongType()),
        StructField("interest", ArrayType(DoubleType())),
    ]
)

# State-sharding knob (VERDICT r11 #1, simdedup.py:STATE_SHARDS pattern):
# users hash into this many state GROUPS, each holding its users'
# accumulators as parallel arrays. Bounds per-batch Python invocations
# and state (de)serializations at STATE_SHARDS instead of |users|.
STATE_SHARDS = 256

# per-shard user -> (n_events, interest) dict as parallel arrays
SHARD_STATE_SCHEMA = StructType(
    [
        StructField("users", ArrayType(LongType())),
        StructField("ns", ArrayType(LongType())),
        StructField("vecs", ArrayType(ArrayType(DoubleType()))),
    ]
)


def one_hot(event_type: str) -> np.ndarray:
    t = np.zeros(DIM)
    if event_type in EVENT_TYPES:
        t[EVENT_TYPES.index(event_type)] = 1.0
    return t


def fold_events(interest: np.ndarray, events: pd.DataFrame) -> np.ndarray:
    """Apply the reference's update rule over events sorted by event time.

    The per-event recurrence ``U_k = a_k * U_{k-1} + b_k`` (a_k = 1-λr_k,
    b_k = t_k·λr_k) has the closed form

        U_n = (Π a_k) · U_0  +  Σ_k b_k · (Π_{j>k} a_j)

    so the whole batch folds with vectorized suffix-products instead of a
    per-row Python loop — O(n) numpy, no iterrows. t_k is one-hot, so the
    Σ term reduces to a scatter-add per event-type dimension.
    """
    ordered = events.sort_values(["ts", "event_id"])
    n = len(ordered)
    if n == 0:
        return interest
    r = ordered["value"].to_numpy(dtype=np.float64) / RATING_SCALE
    a = 1.0 - LAMBDA * r
    lr = LAMBDA * r
    suffix = np.ones(n)  # suffix[k] = Π a[k+1:]
    if n > 1:
        suffix[:-1] = np.cumprod(a[::-1])[::-1][1:]
    idx = {t: i for i, t in enumerate(EVENT_TYPES)}
    type_idx = np.fromiter(
        (idx.get(t, -1) for t in ordered["event_type"]), dtype=np.int64, count=n
    )
    contrib = np.zeros(DIM)
    mask = type_idx >= 0
    np.add.at(contrib, type_idx[mask], lr[mask] * suffix[mask])
    return interest * np.prod(a) + contrib


def update_interest_shard(
    key: tuple[Any, ...],
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """applyInPandasWithState callback over a SHARD of users: fold each
    user's batch rows into its accumulator in the shard's
    ``user -> (n_events, vector)`` dict, then emit one row per user seen
    in this batch — the exact rows the per-user-keyed form emitted.

    Chunks are concatenated BEFORE the per-user fold: the recurrence is
    order-dependent, and a user's rows may straddle Arrow chunks in
    arbitrary order, so each user must fold over its complete
    (ts, event_id)-sorted batch slice (fold_events sorts). A shard's
    batch slice is batch_rows/STATE_SHARDS — bounded, not corpus-sized.
    """
    if state.exists:
        users, ns, vecs = state.get
        table: dict[int, tuple[int, list[float]]] = {
            int(u): (int(n), v) for u, n, v in zip(users, ns, vecs)
        }
    else:
        table = {}
    chunks = list(pdfs)
    pdf = chunks[0] if len(chunks) == 1 else pd.concat(chunks, ignore_index=True)
    out_users: list[int] = []
    out_ns: list[int] = []
    out_vecs: list[list[float]] = []
    for uid, events in pdf.groupby("user_id", sort=False):
        uid = int(uid)
        prev = table.get(uid)
        if prev is None:
            n_events, interest = 0, np.zeros(DIM)
        else:
            n_events, interest = prev[0], np.array(prev[1])
        interest = fold_events(interest, events)
        n_events += len(events)
        vec = [float(x) for x in interest]
        table[uid] = (n_events, vec)
        out_users.append(uid)
        out_ns.append(n_events)
        out_vecs.append(vec)
    state.update(
        (
            list(table.keys()),
            [n for n, _ in table.values()],
            [v for _, v in table.values()],
        )
    )
    if out_users:
        yield pd.DataFrame(
            {"user_id": out_users, "n_events": out_ns, "interest": out_vecs}
        )


def interest_fold_stream(stream_df, output_mode: str = "update"):
    """Wire the sharded stateful fold onto a streaming events DataFrame:
    users hash into STATE_SHARDS state groups (module docstring)."""
    from pyspark.sql import functions as F

    from cqu_bigdata_recommender_system_for_movies_spark.shipping import ensure_shipped

    ensure_shipped(stream_df.sparkSession)
    return (
        stream_df.select("user_id", "ts", "event_id", "event_type", "value")
        .withColumn(
            "shard", F.pmod(F.xxhash64(F.col("user_id")), F.lit(STATE_SHARDS))
        )
        .groupBy("shard")
        .applyInPandasWithState(
            update_interest_shard,
            OUTPUT_SCHEMA,
            SHARD_STATE_SCHEMA,
            output_mode,
            GroupStateTimeout.NoTimeout,
        )
    )
