"""The stateful interest fold must equal an independently-computed pandas
reference (the reference's update rule U := U*(1-λr) + T*(λr), λ=0.05,
applied over each user's events in (ts, event_id) order)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from cqu_bigdata_recommender_system_for_movies_spark.streaming.interest import (
    DIM,
    EVENT_TYPES,
    LAMBDA,
    RATING_SCALE,
)
from cqu_bigdata_recommender_system_for_movies_spark.streaming.queries import (
    streaming_interest_fold,
)
from cqu_bigdata_recommender_system_for_movies_spark.tables import load


def _expected_interest(events: pd.DataFrame) -> dict[int, np.ndarray]:
    out: dict[int, np.ndarray] = {}
    for uid, grp in events.sort_values(["ts", "event_id"]).groupby("user_id"):
        u = np.zeros(DIM)
        for _, row in grp.iterrows():
            r = row["value"] / RATING_SCALE
            t = np.zeros(DIM)
            if row["event_type"] in EVENT_TYPES:
                t[EVENT_TYPES.index(row["event_type"])] = 1.0
            u = u * (1 - LAMBDA * r) + t * (LAMBDA * r)
        out[uid] = u
    return out


def test_interest_fold_matches_pandas_reference(spark, sf_dir):
    result = streaming_interest_fold(spark, sf_dir).collect()
    events_pd = load(spark, sf_dir, "events").toPandas()
    expected = _expected_interest(events_pd)

    got: dict[int, dict[int, float]] = {}
    counts: dict[int, int] = {}
    for row in result:
        got.setdefault(row.user_id, {})[row.pos] = row.weight
        counts[row.user_id] = row.n_events

    assert set(got) == set(expected)
    for uid, exp_vec in expected.items():
        assert counts[uid] == (events_pd.user_id == uid).sum()
        vec = np.array([got[uid][i] for i in range(DIM)])
        assert vec == pytest.approx(exp_vec, abs=1e-6)


def test_fold_events_closed_form_equals_iterative():
    """Property test: the vectorized suffix-product fold must equal the
    naive per-event recurrence for arbitrary event frames."""
    from hypothesis import given, settings, strategies as st

    from cqu_bigdata_recommender_system_for_movies_spark.streaming.interest import (
        fold_events,
    )

    types = list(EVENT_TYPES) + ["unknown_type"]

    @settings(max_examples=200, deadline=None)
    @given(
        st.lists(
            st.tuples(
                st.integers(0, 10**6),           # ts (as sortable int)
                st.integers(0, 10**6),           # event_id
                st.sampled_from(types),          # event_type
                st.floats(0.0, 250.0, allow_nan=False),  # value
            ),
            max_size=40,
        ),
        st.lists(
            st.floats(-1.0, 1.0, allow_nan=False), min_size=DIM, max_size=DIM
        ),
    )
    def check(rows, init):
        events = pd.DataFrame(
            rows, columns=["ts", "event_id", "event_type", "value"]
        )
        interest0 = np.array(init)

        expected = interest0.copy()
        for _, row in events.sort_values(["ts", "event_id"]).iterrows():
            r = float(row["value"]) / RATING_SCALE
            t = np.zeros(DIM)
            if row["event_type"] in EVENT_TYPES:
                t[EVENT_TYPES.index(row["event_type"])] = 1.0
            expected = expected * (1.0 - LAMBDA * r) + t * (LAMBDA * r)

        got = fold_events(interest0.copy(), events)
        np.testing.assert_allclose(got, expected, rtol=1e-10, atol=1e-12)

    check()


def test_sharded_fold_split_invariant_randomized(group_state):
    """Property test of the sharded interest fold, driven through the
    state helper's per-group callback (so chunk concatenation and the
    state codec run too): for random event corpora, random user->shard
    mixes, random TIME-ORDERED micro-batch splits (batch boundaries respect the global (ts,
    event_id) order, as the file source's per-slice staging does), and
    random Arrow-chunk sub-splits WITHIN a batch (chunks arrive in
    arbitrary order — the case the concat-before-fold exists for), the
    final per-user (n_events, vector) must equal the naive sequential
    recurrence over each user's full event history — the exact oracle
    the registered query is hashed against."""
    import random

    from cqu_bigdata_recommender_system_for_movies_spark.streaming.interest import (
        update_interest,
    )
    from cqu_bigdata_recommender_system_for_movies_spark.streaming.state import (
        shard_step,
    )

    step = shard_step(update_interest)
    types = list(EVENT_TYPES) + ["unknown_type"]
    for seed in range(5):
        rng = random.Random(seed)
        n_users, n_events = rng.randrange(3, 8), rng.randrange(40, 120)
        rows = [
            (
                rng.randrange(n_users),          # user_id
                rng.randrange(1000),             # ts
                eid,                             # event_id (unique)
                rng.choice(types),               # event_type
                round(rng.uniform(0.0, 250.0), 3),  # value
            )
            for eid in range(n_events)
        ]
        events_pd = pd.DataFrame(
            rows, columns=["user_id", "ts", "event_id", "event_type", "value"]
        )
        expected = _expected_interest(events_pd)

        # time-ordered global order, random batch cuts
        ordered = events_pd.sort_values(["ts", "event_id"]).reset_index(drop=True)
        cuts = sorted(rng.sample(range(1, n_events), min(3, n_events - 1)))
        batches = [
            ordered.iloc[i:j]
            for i, j in zip([0] + cuts, cuts + [n_events])
        ]
        state = group_state()
        last: dict[int, tuple[int, list[float]]] = {}
        for batch in batches:
            # shuffle rows within the batch and sub-split into chunks:
            # the callback must re-establish per-user event-time order
            shuffled = batch.sample(frac=1.0, random_state=seed)
            k = rng.randrange(1, 4)
            chunks = [
                shuffled.iloc[i::k].reset_index(drop=True) for i in range(k)
            ]
            for out in step((0,), iter(chunks), state):
                for uid, n, vec in zip(
                    out["user_id"], out["n_events"], out["interest"]
                ):
                    last[int(uid)] = (int(n), list(vec))
        assert set(last) == set(expected), f"seed {seed}"
        for uid, exp_vec in expected.items():
            n, vec = last[uid]
            assert n == int((events_pd.user_id == uid).sum()), f"seed {seed}"
            assert np.array(vec) == pytest.approx(exp_vec, abs=1e-9), (
                f"seed {seed}, user {uid}"
            )


def test_state_codec_round_trips_bit_exact():
    """The shard-state codec returns every value to the bit: int64
    extremes, float64 signed zeros / subnormals / infinities / NaN
    payload, strings (empty and non-ASCII), list<double> of varying
    length — and an empty shard table keeps its columns and row count."""
    import math

    from cqu_bigdata_recommender_system_for_movies_spark.streaming.state import (
        decode,
        encode,
    )

    floats = [0.0, -0.0, 5e-324, -1.7976931348623157e308, math.inf, 0.1 + 0.2]
    table = pd.DataFrame(
        {
            "k": np.array([-(2**63), 2**63 - 1, 0, 7, -1, 42], dtype=np.int64),
            "x": np.array(floats, dtype=np.float64),
            "s": ["", "a:b", "ünï", "0" * 64, "x", "y"],
            "v": [np.array(v, dtype=np.float64) for v in (
                [], [-0.0], [1 / 3, 2 / 3], [math.nan], [5e-324] * 3, floats
            )],
        }
    )
    got = decode(encode(table))
    assert list(got.columns) == list(table.columns)
    assert got["k"].dtype == np.int64 and got["k"].tolist() == table["k"].tolist()
    assert got["x"].to_numpy().tobytes() == table["x"].to_numpy().tobytes()
    assert got["s"].tolist() == table["s"].tolist()
    for a, b in zip(got["v"], table["v"]):
        assert np.asarray(a, dtype=np.float64).tobytes() == b.tobytes()

    empty = decode(encode(table.iloc[:0]))
    assert list(empty.columns) == list(table.columns) and len(empty) == 0
    assert empty["k"].dtype == np.int64 and empty["x"].dtype == np.float64


def test_stateful_fold_recovers_from_checkpoint(spark, sf_dir):
    """ST3 fault tolerance: applyInPandasWithState's per-key state must
    survive a query RESTART. The earlier half of events (by event time)
    folds under a checkpoint, the query stops, the later half lands in the
    source directory, and the restarted query must resume from the
    checkpointed vectors: every user re-updated after the restart must
    emit the FULL-data fold (n_events counting both halves proves the
    state came from the checkpoint, not a re-read of slice 1)."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from cqu_bigdata_recommender_system_for_movies_spark.shipping import (
        ensure_shipped,
    )
    from cqu_bigdata_recommender_system_for_movies_spark.streaming.interest import (
        interest_fold_stream,
    )

    ensure_shipped(spark)
    events = load(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type", "value"
    )
    cut = events.agg(
        F.percentile_approx("ts", 0.5).alias("m")
    ).collect()[0].m
    base = tempfile.mkdtemp(prefix="spark_graft_state_ckpt_")
    src, ckpt = f"{base}/src", f"{base}/ckpt"
    events.filter(F.col("ts") <= F.lit(cut)).coalesce(1).write.parquet(src)

    captured: dict[int, tuple[int, list[float]]] = {}

    def sink(batch_df, batch_id):
        for row in batch_df.collect():  # test-only materialization
            captured[row.user_id] = (row.n_events, list(row.interest))

    def run_once():
        stream = spark.readStream.schema(events.schema).parquet(src)
        q = (
            interest_fold_stream(stream)
            .writeStream.foreachBatch(sink)
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        try:
            q.awaitTermination()
        finally:
            q.stop()

    run_once()  # fold slice 1, commit offsets + state to the checkpoint
    events.filter(F.col("ts") > F.lit(cut)).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    captured.clear()  # keep only post-restart emissions
    run_once()  # restart: state must come back from the checkpoint

    events_pd = events.toPandas()
    expected = _expected_interest(events_pd)
    late_users = set(
        events_pd[events_pd.ts > cut].user_id.unique().tolist()
    )
    assert late_users  # the split is real
    assert late_users <= set(captured)
    for uid in late_users:
        n_events, vec = captured[uid]
        assert n_events == (events_pd.user_id == uid).sum()  # both halves
        assert np.array(vec) == pytest.approx(expected[uid], abs=1e-6)
    shutil.rmtree(base, ignore_errors=True)


# ---------------------------------------------------------------------------
# Streaming online ridge (streaming/ridge.py)
# ---------------------------------------------------------------------------


def _batch_ridge(rows_pd):
    """Brute-force twin: per user, A = sum x x^T, b = sum x*y over ALL
    rows, theta = (A + reg*n*I)^-1 b."""
    from cqu_bigdata_recommender_system_for_movies_spark.streaming.ridge import (
        DIM,
        REG,
    )

    out = {}
    for uid, grp in rows_pd.groupby("user_id"):
        X = np.array([list(x) for x in grp["profile"]], dtype=np.float64)
        y = grp["value"].to_numpy(dtype=np.float64)
        A = X.T @ X + REG * len(grp) * np.eye(DIM)
        b = X.T @ y
        out[int(uid)] = (len(grp), np.linalg.solve(A, b))
    return out


def test_ridge_shard_split_invariant_randomized(group_state):
    """Sufficient statistics are associative sums, so ANY batch split,
    row order, and chunk sub-split must leave the final (n, theta)
    equal to the all-rows closed form — tighter than the interest
    fold's property (no ordering discipline to respect at all)."""
    import random

    from cqu_bigdata_recommender_system_for_movies_spark.streaming.ridge import (
        DIM,
        update_ridge,
    )
    from cqu_bigdata_recommender_system_for_movies_spark.streaming.state import (
        shard_step,
    )

    step = shard_step(update_ridge)
    for seed in range(5):
        rng = random.Random(1000 + seed)
        n_users, n_rows = rng.randrange(3, 8), rng.randrange(40, 120)
        rows = [
            (
                rng.randrange(n_users),
                [round(rng.uniform(0.0, 1.0), 4) for _ in range(DIM)],
                round(rng.uniform(0.0, 250.0), 3),
            )
            for _ in range(n_rows)
        ]
        rows_pd = pd.DataFrame(rows, columns=["user_id", "profile", "value"])
        expected = _batch_ridge(rows_pd)

        shuffled = rows_pd.sample(frac=1.0, random_state=seed).reset_index(
            drop=True
        )
        cuts = sorted(rng.sample(range(1, n_rows), min(3, n_rows - 1)))
        batches = [
            shuffled.iloc[i:j] for i, j in zip([0] + cuts, cuts + [n_rows])
        ]
        state = group_state()
        last: dict[int, tuple[int, list[float]]] = {}
        for batch in batches:
            k = rng.randrange(1, 4)
            chunks = [
                batch.iloc[i::k].reset_index(drop=True) for i in range(k)
            ]
            for out in step((0,), iter(chunks), state):
                for uid, n, theta in zip(
                    out["user_id"], out["n_events"], out["theta"]
                ):
                    last[int(uid)] = (int(n), list(theta))
        assert set(last) == set(expected), f"seed {seed}"
        for uid, (exp_n, exp_theta) in expected.items():
            n, theta = last[uid]
            assert n == exp_n, f"seed {seed}, user {uid}"
            assert np.array(theta) == pytest.approx(exp_theta, rel=1e-9, abs=1e-9), (
                f"seed {seed}, user {uid}"
            )


def test_streaming_online_ridge_matches_batch_twin(spark, sf_dir):
    """The engine run end to end: each user's final theta must equal the
    all-events closed form (A + reg*n*I) theta = b computed from the raw
    events x profiles join, and carry the exact cumulative event count."""
    from pyspark.sql import functions as F

    from cqu_bigdata_recommender_system_for_movies_spark.streaming.queries import (
        item_profiles,
    )
    from cqu_bigdata_recommender_system_for_movies_spark.streaming.ridge import (
        streaming_online_ridge_detail,
    )

    got = {
        int(r.user_id): (int(r.n_events), list(r.theta))
        for r in streaming_online_ridge_detail(spark, sf_dir).collect()
    }
    joined = (
        load(spark, sf_dir, "events")
        .select(
            "user_id",
            F.get_json_object("props", "$.k").cast("int").alias("item_ref"),
            F.col("value").cast("double").alias("value"),
        )
        .filter(F.col("item_ref").isNotNull())
        .join(item_profiles(spark, sf_dir), "item_ref")
        .select("user_id", F.col("profile"), "value")
    )
    expected = _batch_ridge(joined.toPandas())
    assert set(got) == set(expected)
    for uid, (exp_n, exp_theta) in expected.items():
        n, theta = got[uid]
        assert n == exp_n, f"user {uid}"
        # summation ORDER differs across micro-batches vs the single-pass
        # twin; the reg*n diagonal keeps the systems well-conditioned, so
        # ulp-level stat drift stays ulp-level in theta
        assert np.array(theta) == pytest.approx(exp_theta, rel=1e-6, abs=1e-9), (
            f"user {uid}"
        )
