"""Engine-side scale probe for the stateful streaming families
(VERDICT r10 #5): windowed aggregation and the watermarked
stream-stream join, which until r11 had 10x evidence only.

Like probe_simdedup_scale.py, this avoids the registered queries'
memory sink (the harness bound past ~10x): events are staged as N
slice files, each query runs with a foreachBatch counting sink, and
the per-micro-batch progress — addBatch time, state rows, state bytes
— is what the 100-TB verdict needs: windowed-agg state must stay
bounded by (windows x event types), and join state by the watermark
horizon, regardless of corpus size.

Usage:
    python tools/scale_testdata.py /root/testdata/sf0.1 /tmp/sf10x_events 100 events customer
    python tools/probe_streaming_scale.py /tmp/sf10x_events [n_slices] [query ...]

Queries: window_counts, stream_stream_join (default: both).
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from cqu_bigdata_recommender_system_for_movies_spark.session import get_spark
from cqu_bigdata_recommender_system_for_movies_spark.streaming.candidates import (
    derive_rec_cells,
)
from cqu_bigdata_recommender_system_for_movies_spark.streaming.queries import (
    replay,
    stage_slices,
)

from cqu_bigdata_recommender_system_for_movies_spark.tables import load


def _staged_stream(spark, sf_dir: str, n_slices: int, by_time: bool = False):
    """events staged as n_slices files -> one micro-batch per file.

    by_time=False (default) slices by pmod(event_id): every batch spans
    the full time range, so the watermark pins at global-max - horizon
    after batch 0 and join state accumulates — the worst case.
    by_time=True slices by equal-width time buckets: batches arrive in
    event-time order like a real stream, the watermark advances every
    batch, and stateful operators must show BOUNDED state (eviction
    keeps only the horizon) — the claim that matters at 100 TB/day."""
    events = load(spark, sf_dir, "events")
    stage_dir = tempfile.mkdtemp(prefix="streaming_probe_src_")
    if by_time:
        # the file source orders batches by file MODIFICATION time, so
        # time-ordered arrival needs sequential one-file-per-slice
        # writes, not a single partitionBy job (whose files share mtime)
        lo, hi = events.agg(
            F.min(F.unix_micros("ts")), F.max(F.unix_micros("ts"))
        ).collect()[0]
        span = max(hi - lo + 1, 1)
        staged = events.withColumn(
            "slice",
            F.least(
                F.lit(n_slices - 1),
                ((F.unix_micros("ts") - F.lit(lo)) * n_slices / F.lit(span)).cast(
                    "int"
                ),
            ),
        ).localCheckpoint(eager=True)
        for s in range(n_slices):
            staged.filter(F.col("slice") == s).drop("slice").coalesce(
                1
            ).write.mode("append").parquet(stage_dir)
        return replay(spark, stage_dir, events.schema)
    sliced = events.withColumn("slice", F.pmod("event_id", F.lit(n_slices)).cast("int"))
    stage_slices(sliced, "slice", n_slices, stage_dir)
    return replay(spark, stage_dir, sliced.schema).drop("slice")


def _window_counts(stream):
    # mirror of streaming/queries.py:streaming_window_counts
    return (
        stream.groupBy(F.window("ts", "1 day").alias("w"), "event_type")
        .agg(F.count("*").alias("cnt"))
        .select(
            F.col("w.start").cast("string").alias("window_start"),
            "event_type",
            "cnt",
        )
    ), "complete"


def _stream_stream_join(stream):
    # mirror of streaming/queries.py:streaming_stream_stream_join
    p = (
        stream.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("p_ts"),
            F.col("value").alias("p_value"),
        )
        .withWatermark("p_ts", "2 days")
    )
    c = (
        stream.filter(F.col("event_type") == "click")
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
    return joined, "append"


def _interest_fold(stream):
    # mirror of streaming/queries.py:streaming_interest_fold — sharded
    # per-user interest-vector state (the reference's lambda=0.05 fold)
    # via applyInPandasWithState; state rows = STATE_SHARDS groups
    from cqu_bigdata_recommender_system_for_movies_spark.streaming.interest import (
        interest_fold_stream,
    )

    return interest_fold_stream(stream), "update"


BUILDERS = {
    "window_counts": _window_counts,
    "stream_stream_join": _stream_stream_join,
    "interest_fold": _interest_fold,
}


def _run_recommend_emit(spark, sf_dir: str, n_slices: int, catalog_mult: int = 1) -> None:
    """ST6 at scale: the full real-time recommender loop — sharded fold
    emissions crossJoin'd per batch against the broadcast item-profile
    dim with a per-user top-10 window — engine-side only (the per-batch
    parquet write of the registered query is replaced by a count, so
    the measured cost is fold + score + rank, not sink I/O). Separate
    from BUILDERS because it needs sf_dir for the static dim."""
    from pyspark.sql import Window

    from cqu_bigdata_recommender_system_for_movies_spark.operators.vectors import (
        cosine,
    )
    from cqu_bigdata_recommender_system_for_movies_spark.streaming.interest import (
        interest_fold_stream,
    )
    from cqu_bigdata_recommender_system_for_movies_spark.streaming.queries import (
        _stream_state_partitions,
        item_profiles,
    )

    profiles = _inflate_catalog(
        spark, item_profiles(spark, sf_dir).localCheckpoint(eager=True), catalog_mult
    )
    n_items = profiles.count()
    stream = _staged_stream(spark, sf_dir, n_slices)
    emitted = {"rows": 0}

    def score_and_count(batch_df, batch_id):
        batch_df = batch_df.withColumn(
            "interest", F.transform("interest", lambda x: F.round(x, 6))
        )
        scored = batch_df.crossJoin(F.broadcast(profiles)).select(
            "user_id",
            "item_ref",
            F.round(cosine("interest", "profile"), 6).alias("score"),
        )
        w = Window.partitionBy("user_id").orderBy(
            F.desc("score"), F.asc("item_ref")
        )
        top = scored.withColumn("rnk", F.row_number().over(w)).filter(
            F.col("rnk") <= 10
        )
        emitted["rows"] += top.count()

    t0 = time.perf_counter()
    with _stream_state_partitions(spark, *STATE_PARTITIONS_OVERRIDE[-1:]):
        q = (
            interest_fold_stream(stream)
            .writeStream.foreachBatch(score_and_count)
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        try:
            q.awaitTermination()
            progress = list(q.recentProgress)
        finally:
            q.stop()
    total = round(time.perf_counter() - t0, 1)
    for p in progress:
        state = (p.get("stateOperators") or [{}])[0]
        print(
            json.dumps(
                {
                    "query": "recommend_emit",
                    "batch": p.get("batchId"),
                    "input_rows": p.get("numInputRows"),
                    "add_batch_ms": (p.get("durationMs") or {}).get("addBatch"),
                    "state_rows": state.get("numRowsTotal"),
                    "state_mb": round(
                        (state.get("memoryUsedBytes") or 0) / 1e6, 1
                    ),
                }
            ),
            flush=True,
        )
    print(
        json.dumps(
            {
                "query": "recommend_emit",
                "total_sec": total,
                "emitted_rows": emitted["rows"],
                "n_items": n_items,
                "batches": len(progress),
            }
        ),
        flush=True,
    )


def _inflate_catalog(spark, profiles, mult: int):
    """Deterministically inflate the ~100-item profile dim by `mult`
    (item_ref' = item_ref + 100*rep, per-ELEMENT multiplicative jitter
    so replicas aren't colinear — a whole-vector scale would leave
    cosine unchanged). This is the 100 TB catalog axis the registered
    fixtures can't exercise: the events replica scales USERS/EVENTS,
    this scales the ITEM side the scoring loop fans out over."""
    if mult <= 1:
        return profiles
    reps = spark.range(mult).select(F.col("id").cast("int").alias("rep"))
    return (
        profiles.crossJoin(F.broadcast(reps))
        .select(
            (F.col("item_ref") + 100 * F.col("rep")).cast("int").alias("item_ref"),
            F.transform(
                "profile",
                lambda x, i: x
                * (
                    1.0
                    + F.pmod(
                        F.xxhash64(F.col("item_ref") * 131 + F.col("rep") * 17 + i),
                        F.lit(997),
                    )
                    / 10000.0
                ),
            ).alias("profile"),
        )
        .localCheckpoint(eager=True)
    )


def _run_recommend_candidates(
    spark, sf_dir: str, n_slices: int, catalog_mult: int, n_cells: int
) -> None:
    """The candidate-pruned ST6 loop (streaming/candidates.py) at scale:
    same sharded fold, but each user scores only the items in its
    REC_NPROBE nearest quantizer cells instead of the full catalog —
    per-batch scoring work is users x (catalog/n_cells x nprobe)
    instead of users x catalog. Run beside recommend_emit at the same
    --catalog-mult to measure the pruning win directly."""
    from cqu_bigdata_recommender_system_for_movies_spark.streaming.candidates import (
        REC_BROADCAST_MAX_ITEMS,
        REC_NPROBE,
        build_candidate_index,
        item_cell_assignments,
        score_candidates_batch,
    )
    from cqu_bigdata_recommender_system_for_movies_spark.streaming.interest import (
        interest_fold_stream,
    )
    from cqu_bigdata_recommender_system_for_movies_spark.streaming.queries import (
        _stream_state_partitions,
        item_profiles,
    )

    profiles = _inflate_catalog(
        spark, item_profiles(spark, sf_dir).localCheckpoint(eager=True), catalog_mult
    )
    # the probe's --cells flag pins the width; the registered query
    # derives it from the catalog COUNT (derive_rec_cells). The shared
    # build also picks the regime: a collected index up to
    # REC_BROADCAST_MAX_ITEMS (65536 items), cell-keyed bucketed dim
    # beyond — patch that constant to force the shuffle path at probe
    # catalogs.
    cents, item_dim, n_items = build_candidate_index(profiles, n_cells)
    sizes = sorted(
        (
            r.n
            for r in item_cell_assignments(profiles, cents)
            .groupBy("cell")
            .count()
            .withColumnRenamed("count", "n")
            .collect()
        ),
        reverse=True,
    )
    print(
        json.dumps(
            {
                "query": "recommend_candidates",
                "n_items": n_items,
                "n_cells_used": len(sizes),
                "largest_cells": sizes[:4],
                "worst_candidates_per_user": sum(sizes[:REC_NPROBE]),
                "join_strategy": (
                    "collected"
                    if n_items <= REC_BROADCAST_MAX_ITEMS
                    else "cell-partitioned"
                ),
            }
        ),
        flush=True,
    )

    stream = _staged_stream(spark, sf_dir, n_slices)
    emitted = {"rows": 0}

    def score_and_count(batch_df, batch_id):
        top = score_candidates_batch(batch_df, cents, item_dim)
        emitted["rows"] += top.count()

    t0 = time.perf_counter()
    with _stream_state_partitions(spark, *STATE_PARTITIONS_OVERRIDE[-1:]):
        q = (
            interest_fold_stream(stream)
            .writeStream.foreachBatch(score_and_count)
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        try:
            q.awaitTermination()
            progress = list(q.recentProgress)
        finally:
            q.stop()
    total = round(time.perf_counter() - t0, 1)
    for p in progress:
        state = (p.get("stateOperators") or [{}])[0]
        print(
            json.dumps(
                {
                    "query": "recommend_candidates",
                    "batch": p.get("batchId"),
                    "input_rows": p.get("numInputRows"),
                    "add_batch_ms": (p.get("durationMs") or {}).get("addBatch"),
                    "state_rows": state.get("numRowsTotal"),
                    "state_mb": round(
                        (state.get("memoryUsedBytes") or 0) / 1e6, 1
                    ),
                }
            ),
            flush=True,
        )
    print(
        json.dumps(
            {
                "query": "recommend_candidates",
                "total_sec": total,
                "emitted_rows": emitted["rows"],
                "n_items": n_items,
                "batches": len(progress),
            }
        ),
        flush=True,
    )


def _run_online_ridge(spark, sf_dir: str, n_slices: int) -> None:
    """ST3+M model state at scale: the per-user ridge sufficient-statistics
    fold (streaming/ridge.py — 21 doubles/user sharded into STATE_SHARDS
    groups, vectorized scatter-add + stacked 5x5 solves per batch), with
    a counting sink. State must stay 21 doubles x users regardless of
    event volume; addBatch must track the batch's row count, not the
    accumulated history."""
    from cqu_bigdata_recommender_system_for_movies_spark.streaming.queries import (
        _stream_state_partitions,
        item_profiles,
    )
    from cqu_bigdata_recommender_system_for_movies_spark.streaming.ridge import (
        ridge_fold_stream,
    )

    profiles = item_profiles(spark, sf_dir).localCheckpoint(eager=True)
    stream = _staged_stream(spark, sf_dir, n_slices)
    emitted = {"rows": 0}

    def count_only(batch_df, batch_id):
        emitted["rows"] += batch_df.count()

    t0 = time.perf_counter()
    with _stream_state_partitions(spark, *STATE_PARTITIONS_OVERRIDE[-1:]):
        q = (
            ridge_fold_stream(stream, profiles)
            .writeStream.foreachBatch(count_only)
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        try:
            q.awaitTermination()
            progress = list(q.recentProgress)
        finally:
            q.stop()
    total = round(time.perf_counter() - t0, 1)
    for p in progress:
        state = (p.get("stateOperators") or [{}])[0]
        print(
            json.dumps(
                {
                    "query": "online_ridge",
                    "batch": p.get("batchId"),
                    "input_rows": p.get("numInputRows"),
                    "add_batch_ms": (p.get("durationMs") or {}).get("addBatch"),
                    "state_rows": state.get("numRowsTotal"),
                    "state_mb": round(
                        (state.get("memoryUsedBytes") or 0) / 1e6, 1
                    ),
                }
            ),
            flush=True,
        )
    print(
        json.dumps(
            {
                "query": "online_ridge",
                "total_sec": total,
                "emitted_rows": emitted["rows"],
                "batches": len(progress),
            }
        ),
        flush=True,
    )


def _run_one(spark, stream, name: str) -> None:
    from cqu_bigdata_recommender_system_for_movies_spark.streaming.queries import (
        _stream_state_partitions,
    )

    df, mode = BUILDERS[name](stream)
    emitted = {"rows": 0}

    def count_only(batch_df, batch_id):
        emitted["rows"] += batch_df.count()

    t0 = time.perf_counter()
    with _stream_state_partitions(spark, *STATE_PARTITIONS_OVERRIDE[-1:]):
        q = (
            df.writeStream.foreachBatch(count_only)
            .outputMode(mode)
            .trigger(availableNow=True)
            .start()
        )
        try:
            q.awaitTermination()
            progress = list(q.recentProgress)
        finally:
            q.stop()
    total = round(time.perf_counter() - t0, 1)

    for p in progress:
        state = (p.get("stateOperators") or [{}])[0]
        print(
            json.dumps(
                {
                    "query": name,
                    "batch": p.get("batchId"),
                    "input_rows": p.get("numInputRows"),
                    "add_batch_ms": (p.get("durationMs") or {}).get("addBatch"),
                    "state_rows": state.get("numRowsTotal"),
                    "state_mb": round(
                        (state.get("memoryUsedBytes") or 0) / 1e6, 1
                    ),
                }
            ),
            flush=True,
        )
    print(
        json.dumps(
            {
                "query": name,
                "total_sec": total,
                "emitted_rows": emitted["rows"],
                "batches": len(progress),
            }
        ),
        flush=True,
    )


# --state-partitions=N overrides the suite's STREAM_STATE_PARTITIONS pin for
# this probe run. The pin (8) sizes state-store fixed costs for the sf0.1
# TESTS; at decade scale every shard group lands in one of those 8 tasks and
# a 32-core box runs 8-way - the 1000x interest-fold probe measured exactly
# that starvation. On a cluster this is the state-store parallelism dial the
# module docstrings name; the flag lets the probe demonstrate it.
STATE_PARTITIONS_OVERRIDE: list[int] = []


ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)


def main() -> None:
    catalog_mult, n_cells = 1, 0
    args = []
    for a in sys.argv[1:]:
        if a.startswith("--catalog-mult="):
            catalog_mult = int(a.split("=", 1)[1])
        elif a.startswith("--cells="):
            n_cells = int(a.split("=", 1)[1])
        elif a.startswith("--state-partitions="):
            STATE_PARTITIONS_OVERRIDE.append(int(a.split("=", 1)[1]))
        elif a not in ("--by-time", "--rocksdb"):
            args.append(a)
    by_time = "--by-time" in sys.argv[1:]
    rocksdb = "--rocksdb" in sys.argv[1:]
    sf_dir = args[0] if args else "/tmp/sf10x_events"
    n_slices = int(args[1]) if len(args) > 1 else 10
    names = args[2:] or list(BUILDERS)

    spark = get_spark("streaming-scale-probe")
    if rocksdb:
        # providerClass is read at query START (pinned by
        # tests/test_streaming_extras.py), so a session-level set here
        # governs the probe run — the production state-paging config
        spark.conf.set(
            "spark.sql.streaming.stateStore.providerClass", ROCKSDB_PROVIDER
        )
        print(json.dumps({"state_store": "rocksdb"}), flush=True)
    for name in names:
        if name == "recommend_emit":
            _run_recommend_emit(spark, sf_dir, n_slices, catalog_mult)
            continue
        if name == "online_ridge":
            _run_online_ridge(spark, sf_dir, n_slices)
            continue
        if name == "recommend_candidates":
            _run_recommend_candidates(
                spark,
                sf_dir,
                n_slices,
                catalog_mult,
                # default = the engine's own derivation (next power of two
                # >= sqrt(catalog)): 16 for the fixture's 100 items, 32 at
                # 10x, 128 at 100x; --cells overrides for width curves
                n_cells or derive_rec_cells(100 * catalog_mult),
            )
            continue
        stream = _staged_stream(spark, sf_dir, n_slices, by_time=by_time)
        _run_one(spark, stream, name)


if __name__ == "__main__":
    main()
