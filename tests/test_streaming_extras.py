"""Streaming layer beyond the oracle checks: the integrated foreachBatch
recommender (S6/ST6/M8) against an independent batch twin, the console sink
(S5), the socket source (S4) against a loopback server, and watermark
append semantics (ST4)."""

from __future__ import annotations

import json
import socket
import threading
import time

import numpy as np
import pytest
from pyspark.sql import functions as F

from cqu_bigdata_recommender_system_for_movies_spark.streaming.interest import (
    DIM,
    EVENT_TYPES,
    fold_events,
)
from cqu_bigdata_recommender_system_for_movies_spark.streaming.queries import (
    item_profiles,
    run_console_sink,
    socket_lines_stream,
    streaming_recommend_emit,
    streaming_watermarked_counts,
)
from cqu_bigdata_recommender_system_for_movies_spark.streaming.ann_index import (
    derive_ann_cells,
)
from cqu_bigdata_recommender_system_for_movies_spark.tables import load

EPS = 1e-8


def _fold_sum(vals):
    """Left-to-right fold, matching F.aggregate's evaluation order exactly."""
    acc = 0.0
    for v in vals:
        acc += v
    return acc


def _cosine(a, b):
    d = _fold_sum(x * y for x, y in zip(a, b))
    na = _fold_sum(x * x for x in a) ** 0.5
    nb = _fold_sum(x * x for x in b) ** 0.5
    return d / (na * nb + EPS)


def _expected_recs(events_pd, k=10):
    """Batch twin of the foreachBatch loop: final interest per user (the
    same rounded emission the stateful operator yields), item profiles
    from props.k, cosine top-k with (score desc, item_ref asc) ties."""
    profiles: dict[int, list[float]] = {}
    ev = events_pd.copy()
    ev["item_ref"] = ev["props"].map(
        lambda s: json.loads(s).get("k") if s else None
    )
    typed = ev[ev["item_ref"].notna()]
    for item, grp in typed.groupby("item_ref"):
        n = len(grp)
        profiles[int(item)] = [
            (grp["event_type"] == t).sum() / n for t in EVENT_TYPES
        ]

    out = {}
    for uid, grp in events_pd.groupby("user_id"):
        interest = fold_events(np.zeros(DIM), grp)
        interest = [round(float(x), 6) for x in interest]
        scored = [
            (round(_cosine(interest, prof), 6), item)
            for item, prof in profiles.items()
        ]
        scored.sort(key=lambda t: (-t[0], t[1]))
        out[uid] = [(item, rnk + 1, s) for rnk, (s, item) in enumerate(scored[:k])]
    return out


def test_streaming_recommend_emit_matches_batch_twin(spark, sf_dir):
    got_rows = streaming_recommend_emit(spark, sf_dir).collect()
    events_pd = load(spark, sf_dir, "events").toPandas()
    expected = _expected_recs(events_pd)

    got: dict[int, list] = {}
    for r in got_rows:
        got.setdefault(r.user_id, []).append((r.rnk, r.item_ref, r.score))
    for uid in got:
        got[uid].sort()

    assert set(got) == set(expected)
    for uid, exp in expected.items():
        rows = got[uid]
        assert len(rows) == len(exp)
        for (rnk, item, score), (e_item, e_rnk, e_score) in zip(rows, exp):
            assert rnk == e_rnk
            assert item == e_item, f"user {uid} rank {rnk}: {item} != {e_item}"
            assert score == pytest.approx(e_score, abs=2e-6)


def test_console_sink_smoke(spark, sf_dir):
    """S5 (reference test/streaming_test.py:62-66): console sink drives a
    real streaming query to completion without error."""
    from cqu_bigdata_recommender_system_for_movies_spark.streaming.queries import (
        _events_stream,
    )

    stream = _events_stream(spark, sf_dir).select("event_id", "user_id", "value")
    n = run_console_sink(stream, mode="append")
    from cqu_bigdata_recommender_system_for_movies_spark.tables import table_row_count

    assert n == table_row_count(sf_dir, "events")


def test_socket_source_roundtrip(spark):
    """S4 (reference streaming_rec.py:173-188): real socket source against a
    loopback server emitting reference-format lines."""
    lines = [b"1 101 4.5 1700000000\n", b"2 102 3.0 1700000001\n", b"3 103 5.0 1700000002\n"]
    server = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
    server.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
    server.bind(("127.0.0.1", 0))
    server.listen(1)
    port = server.getsockname()[1]

    def serve():
        conn, _ = server.accept()
        with conn:
            for ln in lines:
                conn.sendall(ln)
            time.sleep(5)  # keep the connection open while Spark reads

    t = threading.Thread(target=serve, daemon=True)
    t.start()

    parsed = socket_lines_stream(spark, "127.0.0.1", port)
    q = (
        parsed.writeStream.format("memory")
        .queryName("socket_sink")
        .outputMode("append")
        .start()
    )
    try:
        deadline = time.time() + 30
        while time.time() < deadline:
            q.processAllAvailable()
            if spark.table("socket_sink").count() >= 3:
                break
            time.sleep(0.3)
        rows = {
            (r.user_id, r.item_id, r.rating, r.timestamp)
            for r in spark.table("socket_sink").collect()
        }
    finally:
        q.stop()
        server.close()
    assert rows == {
        (1, 101, 4.5, 1700000000),
        (2, 102, 3.0, 1700000001),
        (3, 103, 5.0, 1700000002),
    }


def test_watermarked_append_withholds_open_windows(spark, sf_dir):
    """ST4: append mode emits exactly the windows finalized by the
    watermark (end <= max(ts) - delay); the trailing day stays open."""
    got = streaming_watermarked_counts(spark, sf_dir)
    events = load(spark, sf_dir, "events")
    mx = events.agg(F.max("ts")).collect()[0][0]
    allw = (
        events.groupBy(F.window("ts", "1 day").alias("w"), "event_type")
        .agg(F.count("*").alias("cnt"))
    )
    finalized = allw.filter(
        F.col("w.end") <= F.lit(mx) - F.expr("INTERVAL 1 DAY")
    ).count()
    n_all = allw.count()
    n_got = got.count()
    assert n_got == finalized
    assert n_got < n_all  # the open trailing windows really are withheld


def test_item_profiles_normalized(spark, sf_dir):
    rows = item_profiles(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert len(r.profile) == DIM
        assert sum(r.profile) == pytest.approx(1.0, abs=1e-9)


def test_checkpoint_resume_is_exactly_once(spark, sf_dir):
    """Fault-tolerance semantics: a parquet-sink streaming query driven to
    completion, then RESTARTED against the same checkpoint, must not
    re-emit any rows — the source offsets are committed in the checkpoint
    and replay is exactly-once."""
    import shutil
    import tempfile

    from cqu_bigdata_recommender_system_for_movies_spark.streaming.queries import (
        _events_stream,
    )

    base = tempfile.mkdtemp(prefix="spark_graft_ckpt_")
    out, ckpt = f"{base}/out", f"{base}/ckpt"

    def run_once():
        q = (
            _events_stream(spark, sf_dir)
            .select("event_id", "user_id", "value")
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        try:
            q.awaitTermination()
        finally:
            q.stop()

    run_once()
    n_events = spark.read.parquet(f"{sf_dir}/events.parquet").count()
    first = spark.read.parquet(out).count()
    assert first == n_events

    run_once()  # restart from the same checkpoint: no new data, no dupes
    second = spark.read.parquet(out).count()
    assert second == first
    shutil.rmtree(base, ignore_errors=True)


def test_upsert_merge_is_actually_incremental(spark, sf_dir):
    """The exactly-once claim is only meaningful if the snapshot really
    crossed micro-batch boundaries: the staged 3-slice source must yield
    multiple non-empty batches, each merged into the previous version,
    that together hold every event once."""
    from cqu_bigdata_recommender_system_for_movies_spark.streaming.queries import (
        LAST_UPSERT_BATCH_ROWS,
        streaming_upsert_merge,
    )

    out = streaming_upsert_merge(spark, sf_dir)
    assert out.count() > 0
    rows = list(LAST_UPSERT_BATCH_ROWS)
    # availableNow may merge the first staged files into one batch
    assert len(rows) >= 2, f"only {rows} micro-batches — merge path never ran"
    assert all(n > 0 for n in rows), f"an empty micro-batch among {rows}"
    assert sum(rows) == load(spark, sf_dir, "events").count()


def test_stage_slices_one_nonempty_file_per_slice(spark, tmp_path):
    """Bigint slice ids 0..2 hash onto fewer than 3 of the 3 tasks, so a
    plain repartition puts two slices in one file and writes an empty
    one; stage_slices still writes one non-empty file per slice value."""
    import os

    import pyarrow.parquet as pq

    from cqu_bigdata_recommender_system_for_movies_spark.streaming.queries import (
        stage_slices,
    )

    df = spark.range(30).withColumn("slice", F.col("id") % 3)
    tasks = df.repartition(3, "slice").select(F.spark_partition_id()).distinct()
    assert tasks.count() < 3  # the collision this guards against
    stage = str(tmp_path / "stage")
    stage_slices(df, "slice", 3, stage)
    files = {
        os.path.basename(root): [os.path.join(root, f) for f in names if f.endswith(".parquet")]
        for root, _, names in os.walk(stage)
        if os.path.basename(root).startswith("slice=")
    }
    assert sorted(files) == ["slice=0", "slice=1", "slice=2"]
    for paths in files.values():
        assert len(paths) == 1
        assert pq.ParquetFile(paths[0]).metadata.num_rows == 10


def test_file_replayed_streams_leave_no_temp_dirs(spark, sf_dir, tmp_path, monkeypatch):
    """Staging, snapshot and emission directories are removed when the
    query returns, and the emission directory also when the stream
    fails; only the shared stream-symlink and table roots stay."""
    import os
    import tempfile

    from cqu_bigdata_recommender_system_for_movies_spark.shipping import ensure_shipped
    from cqu_bigdata_recommender_system_for_movies_spark.streaming.queries import (
        emissions,
        replay,
        stage_slices,
        streaming_simhash_dedup,
        streaming_upsert_merge,
    )
    from cqu_bigdata_recommender_system_for_movies_spark.streaming.ridge import (
        streaming_online_ridge_detail,
    )

    # the shipped package zip is one per process, not per query
    ensure_shipped(spark)
    tmp = tmp_path / "tmp"
    tmp.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(tmp))
    for query in (
        streaming_upsert_merge,
        streaming_simhash_dedup,
        streaming_online_ridge_detail,
        streaming_recommend_emit,
    ):
        query(spark, sf_dir)

    def fail(batch):
        raise RuntimeError("scoring failed")

    df = spark.range(4).withColumn("slice", F.col("id") % 2)
    stage = str(tmp_path / "stage")
    stage_slices(df, "slice", 2, stage)
    with pytest.raises(Exception, match="scoring failed"):
        emissions(replay(spark, stage, df.schema), fail, "append")
    left = set(os.listdir(tmp))
    assert left <= {"spark_graft_streams", "spark_graft_tables"}, left


# --- round-10: streaming SimHash near-dup detection ------------------------


def test_rowwise_fingerprint_matches_batch(spark, sf_dir):
    """The streaming-safe per-row fingerprint (one aggregate/zip_with fold
    over the distinct token-hash array) must equal the hash-verified batch
    groupBy-majority fingerprint doc for doc — same distinct rule, same
    majority rule (2*p >= n ⇔ sum(±1) >= 0), same bit order."""
    from cqu_bigdata_recommender_system_for_movies_spark.plans.registry import all_queries
    from cqu_bigdata_recommender_system_for_movies_spark.streaming.simdedup import (
        with_fingerprint,
    )

    rowwise = {
        r.doc_id: r.fp for r in with_fingerprint(load(spark, sf_dir, "documents")).collect()
    }
    batch = {
        r.doc_id: r.simhash
        for r in all_queries()["simhash_fingerprint"](spark, sf_dir).collect()
    }
    assert rowwise == batch


def test_streaming_simhash_dedup_crosses_batches(spark, sf_dir):
    """The detector's answer must (a) be non-vacuous, (b) include pairs
    whose two docs arrived in DIFFERENT micro-batches (slices are
    pmod(doc_id, 3), so doc_id % 3 != dup_of % 3 proves the fingerprint
    state genuinely crossed a batch boundary), and (c) agree with the
    independent batch pair enumeration (simhash_near_dup_pairs -> per-doc
    min smaller partner) — a cross-implementation check beyond the shared
    DuckDB oracle."""
    from cqu_bigdata_recommender_system_for_movies_spark.plans.registry import all_queries

    q = all_queries()
    got = {r.doc_id: r.dup_of for r in q["streaming_simhash_dedup"](spark, sf_dir).collect()}
    dups = {d: o for d, o in got.items() if o >= 0}
    assert dups, "no near-dups detected — vacuous at this sf"
    assert any(d % 3 != o % 3 for d, o in dups.items()), (
        "every detected pair arrived in the same micro-batch slice — "
        "cross-batch state was never exercised"
    )
    pairs = q["simhash_near_dup_pairs"](spark, sf_dir).collect()
    expect: dict[int, int] = {}
    for r in pairs:
        a, b = sorted((r.doc_a, r.doc_b))
        expect[b] = min(expect.get(b, a), a)
    assert dups == expect
    # every fingerprinted doc gets exactly one answer row
    assert len(got) == with_fingerprint_count(spark, sf_dir)


def with_fingerprint_count(spark, sf_dir) -> int:
    from cqu_bigdata_recommender_system_for_movies_spark.streaming.simdedup import (
        with_fingerprint,
    )

    return with_fingerprint(load(spark, sf_dir, "documents")).count()


def test_simhash_group_state_split_invariant_randomized(group_state):
    """Property test of the fp-collapsed detector, driven through the
    state helper's per-group callback (chunk concatenation and the state
    codec included): for random fingerprint corpora with heavy exact-dup
    skew, random ARRIVAL ORDER / micro-batch splits (including ids
    arriving out of order — the case the group-correction channel exists
    for) and random Arrow-chunk sub-splits of each batch, the
    min-aggregated answer over direct + correction emissions must equal
    the brute-force all-pairs hamming oracle, for every split."""
    import random

    import pandas as pd

    from cqu_bigdata_recommender_system_for_movies_spark.operators.dedup import (
        HAMMING_MAX,
        SIMHASH_BANDS,
        SIMHASH_BLOCK_BITS,
    )
    from cqu_bigdata_recommender_system_for_movies_spark.streaming.simdedup import (
        detect_bucket_dups,
    )
    from cqu_bigdata_recommender_system_for_movies_spark.streaming.state import (
        shard_step,
    )

    step = shard_step(detect_bucket_dups)

    def fp_str(v: int) -> str:
        return "".join("1" if (v >> b) & 1 else "0" for b in range(64))

    for seed in range(5):
        rng = random.Random(seed)
        # clustered fingerprints: few base patterns, small flips, heavy
        # exact duplication — near-dups guaranteed, skew guaranteed
        bases = [rng.getrandbits(64) for _ in range(4)]
        docs = []
        for doc_id in range(90):
            v = rng.choice(bases)
            for _ in range(rng.randrange(0, 5)):
                v ^= 1 << rng.randrange(64)
            docs.append((doc_id, v))
        # brute-force oracle over the full corpus
        expect = {}
        for d, v in docs:
            below = [
                o
                for o, w in docs
                if o < d and bin(v ^ w).count("1") <= HAMMING_MAX
            ]
            expect[d] = min(below) if below else -1

        # random arrival order, random batch split
        order = docs[:]
        rng.shuffle(order)
        splits = sorted(rng.sample(range(1, len(order)), 3))
        batches = [
            order[i:j]
            for i, j in zip([0] + splits, splits + [len(order)])
        ]
        state = group_state()
        direct: dict[int, int] = {}
        corr: dict[str, int] = {}
        for batch in batches:
            rows = []
            for d, v in batch:
                f = fp_str(v)
                for b in range(SIMHASH_BANDS):
                    rows.append(
                        (f"{b}:{f[b * SIMHASH_BLOCK_BITS:(b + 1) * SIMHASH_BLOCK_BITS]}",
                         d, f)
                    )
            # arbitrary-order Arrow-chunk sub-split of the batch
            pdf = pd.DataFrame(rows, columns=["bk", "doc_id", "fp"])
            k = rng.randrange(1, 4)
            chunks = [pdf.iloc[i::k].reset_index(drop=True) for i in range(k)]
            rng.shuffle(chunks)
            for out in step((0,), iter(chunks), state):
                for dup, of, grp in zip(
                    out["dup_id"].tolist(), out["of_id"].tolist(), out["grp"].tolist()
                ):
                    if grp is None:
                        dup = int(dup)
                        direct[dup] = min(direct.get(dup, of), int(of))
                    else:
                        corr[grp] = min(corr.get(grp, of), int(of))
        got = {}
        for d, v in docs:
            best = direct.get(d)
            c = corr.get(fp_str(v))
            if c is not None and c < d and (best is None or c < best):
                best = c
            got[d] = best if best is not None else -1
        assert got == expect, f"seed {seed}: split {splits} diverged"


def test_streaming_simhash_under_rocksdb_provider(spark, sf_dir):
    """The scale notes name the RocksDB state store as the production
    path (state pages to disk instead of living in the HDFS-backed
    in-memory maps). The provider ships with Spark 4 — so run the
    detector under it and require the exact batch answer: the claim is
    tested, not aspirational. providerClass is read at query START, so
    setting it on the shared session scopes it to this run."""
    from cqu_bigdata_recommender_system_for_movies_spark.plans.registry import (
        all_queries,
    )

    key = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(key, None)
    spark.conf.set(
        key,
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    try:
        got = {
            r.doc_id: r.dup_of
            for r in all_queries()["streaming_simhash_dedup"](spark, sf_dir).collect()
        }
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)
    expect: dict[int, int] = {}
    for r in all_queries()["simhash_near_dup_pairs"](spark, sf_dir).collect():
        a, b = sorted((r.doc_a, r.doc_b))
        expect[b] = min(expect.get(b, a), a)
    assert got and all(
        dup_of == expect.get(d, -1) for d, dup_of in got.items()
    )


def test_streaming_simhash_recovers_from_checkpoint(spark, sf_dir):
    """Fault tolerance for the online dedup index: the first half of the
    corpus (by doc_id) streams under a checkpoint, the query stops, the
    second half lands in the source dir, and the RESTARTED query must
    answer second-half docs against the checkpointed fingerprint groups
    — every second-half doc whose nearest partner is a first-half doc
    proves the index came back from state, not from a re-read."""
    import shutil
    import tempfile

    from cqu_bigdata_recommender_system_for_movies_spark.plans.registry import (
        all_queries,
    )
    from cqu_bigdata_recommender_system_for_movies_spark.streaming.queries import (
        STREAM_STATE_PARTITIONS,
        _stream_state_partitions,
    )
    from cqu_bigdata_recommender_system_for_movies_spark.streaming.simdedup import (
        dedup_stream,
        with_fingerprint,
    )

    docs = load(spark, sf_dir, "documents")
    cut = docs.agg(F.percentile_approx("doc_id", 0.5).alias("m")).collect()[0].m
    base = tempfile.mkdtemp(prefix="spark_graft_simdedup_ckpt_")
    src, ckpt = f"{base}/src", f"{base}/ckpt"
    docs.filter(F.col("doc_id") <= cut).coalesce(1).write.parquet(src)

    direct: dict[int, int] = {}
    corr: dict[str, int] = {}

    def sink(batch_df, batch_id):
        for row in batch_df.collect():  # test-only materialization
            if row.grp is None:
                d = int(row.dup_id)
                direct[d] = min(direct.get(d, row.of_id), int(row.of_id))
            else:
                corr[row.grp] = min(corr.get(row.grp, row.of_id), int(row.of_id))

    def run_once():
        stream = spark.readStream.schema(docs.schema).parquet(src)
        # ADVICE r13: pin explicitly — state partitioning is frozen in the
        # checkpoint at first run, and the helper's no-arg call became
        # scale-aware in r13 (min(256, cores) when size is unknown); the
        # recovery semantics under test are partition-count-independent,
        # but the pin keeps both runs deterministic and cheap.
        with _stream_state_partitions(spark, n=STREAM_STATE_PARTITIONS):
            q = (
                dedup_stream(stream)
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

    run_once()  # index the first half, commit offsets + groups
    docs.filter(F.col("doc_id") > cut).coalesce(1).write.mode("append").parquet(src)
    direct.clear()
    corr.clear()  # keep only post-restart emissions
    run_once()  # restart: groups must come back from the checkpoint

    fps = {r.doc_id: r.fp for r in with_fingerprint(docs).collect()}
    expect: dict[int, int] = {}
    for r in all_queries()["simhash_near_dup_pairs"](spark, sf_dir).collect():
        a, b = sorted((r.doc_a, r.doc_b))
        expect[b] = min(expect.get(b, a), a)
    late = [d for d in fps if d > cut]
    cross = [d for d in late if expect.get(d, -1) >= 0 and expect[d] <= cut]
    assert cross, "no second-half doc pairs back to the first half — vacuous"
    for d in late:
        best = direct.get(d)
        c = corr.get(fps[d])
        if c is not None and c < d and (best is None or c < best):
            best = c
        assert (best if best is not None else -1) == expect.get(d, -1), d
    shutil.rmtree(base, ignore_errors=True)


def test_with_fingerprint_edge_cases(spark):
    """Empty-text docs have no fingerprint in the batch table (no token
    rows survive the explode), so the streaming-safe per-row form must
    exclude them too; identical texts must get identical fingerprints and
    token ORDER/multiplicity must not matter (distinct-set semantics)."""
    from cqu_bigdata_recommender_system_for_movies_spark.streaming.simdedup import (
        with_fingerprint,
    )

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma"),
            (2, "gamma  beta alpha alpha"),  # same token SET, order/dups differ
            (3, ""),
            (4, "   "),
            (5, "alpha"),
        ],
        "doc_id LONG, text STRING",
    )
    got = {r.doc_id: r.fp for r in with_fingerprint(docs).collect()}
    assert set(got) == {1, 2, 5}  # 3 and 4 have no tokens
    assert got[1] == got[2]
    assert got[1] != got[5]
    assert len(got[1]) == 64 and set(got[1]) <= {"0", "1"}


# ---------------------------------------------------------------------------
# Candidate-pruned recommender (streaming/candidates.py)
# ---------------------------------------------------------------------------


def _cosine_exact(a, b):
    """Bit-exact twin of operators.vectors.cosine: left-fold dots (the
    F.aggregate order), correctly-rounded sqrt (math.sqrt = JVM sqrt)."""
    import math

    d = _fold_sum(x * y for x, y in zip(a, b))
    na = math.sqrt(_fold_sum(x * x for x in a))
    nb = math.sqrt(_fold_sum(x * x for x in b))
    return d / (na * nb + EPS)


def _expected_candidate_recs(events_pd, nprobe, k=10, n_cells=None):
    """Python twin of the candidate-pruned loop: quantizer width derived
    from the catalog size exactly as the engine does (derive_rec_cells,
    unless pinned); seeds = the n_cells smallest item_refs; items take
    their single nearest cell, users probe their nprobe nearest (cos
    DESC, cid ASC ties); top-k over the pruned candidate set only."""
    profiles: dict[int, list[float]] = {}
    ev = events_pd.copy()
    ev["item_ref"] = ev["props"].map(
        lambda s: json.loads(s).get("k") if s else None
    )
    typed = ev[ev["item_ref"].notna()]
    for item, grp in typed.groupby("item_ref"):
        n = len(grp)
        profiles[int(item)] = [
            (grp["event_type"] == t).sum() / n for t in EVENT_TYPES
        ]
    if n_cells is None:
        from cqu_bigdata_recommender_system_for_movies_spark.streaming.candidates import (
            derive_rec_cells,
        )

        n_cells = derive_rec_cells(len(profiles))
    seeds = {cid: profiles[cid] for cid in profiles if cid < n_cells}

    def top_cells(vec, m):
        scored = sorted(
            ((_cosine_exact(vec, ce), -cid) for cid, ce in seeds.items()),
            reverse=True,
        )
        return [-negid for _, negid in scored[:m]]

    item_cell = {item: top_cells(prof, 1)[0] for item, prof in profiles.items()}

    out = {}
    for uid, grp in events_pd.groupby("user_id"):
        interest = fold_events(np.zeros(DIM), grp)
        interest = [round(float(x), 6) for x in interest]
        cells = set(top_cells(interest, nprobe))
        cand = [item for item, c in item_cell.items() if c in cells]
        scored = [
            (round(_cosine_exact(interest, profiles[item]), 6), item)
            for item in cand
        ]
        scored.sort(key=lambda t: (-t[0], t[1]))
        out[uid] = [(item, rnk + 1, s) for rnk, (s, item) in enumerate(scored[:k])]
    return out, item_cell


def test_streaming_recommend_candidates_matches_pruned_batch_twin(spark, sf_dir):
    """The pruned loop must equal the python twin EXACTLY on (user, item,
    rank) — i.e. the engine probes precisely the twin's cells — and the
    per-pair score must equal the full loop's cosine for that pair (the
    pruning changes the candidate set, never a surviving pair's score)."""
    from cqu_bigdata_recommender_system_for_movies_spark.streaming.candidates import (
        REC_NPROBE,
        streaming_recommend_candidates,
    )

    got_rows = streaming_recommend_candidates(spark, sf_dir).collect()
    events_pd = load(spark, sf_dir, "events").toPandas()
    expected, item_cell = _expected_candidate_recs(events_pd, REC_NPROBE)

    got: dict[int, list] = {}
    for r in got_rows:
        got.setdefault(r.user_id, []).append((r.rnk, r.item_ref, r.score))
    for uid in got:
        got[uid].sort()

    assert set(got) == set(expected)
    for uid, exp in expected.items():
        rows = got[uid]
        assert len(rows) == len(exp)
        for (rnk, item, score), (e_item, e_rnk, e_score) in zip(rows, exp):
            assert rnk == e_rnk
            assert item == e_item, f"user {uid} rank {rnk}: {item} != {e_item}"
            assert score == pytest.approx(e_score, abs=2e-6)

    # the pruning is structural: no pair of probed cells covers the whole
    # catalog, so every user scored strictly fewer than |catalog| items
    from collections import Counter

    cell_sizes = Counter(item_cell.values())
    two_largest = sum(s for _, s in cell_sizes.most_common(REC_NPROBE))
    assert two_largest < len(item_cell), (
        "probing every cell — the quantizer degenerated to no pruning"
    )


def test_item_cell_assignments_match_twin(spark, sf_dir):
    """The offline half of the candidate index: each catalog item's single
    nearest quantizer cell, engine vs the bit-exact python twin."""
    from cqu_bigdata_recommender_system_for_movies_spark.streaming.candidates import (
        REC_NPROBE,
        item_cell_assignments,
    )

    profiles = item_profiles(spark, sf_dir)
    got = {r.item_ref: r.cell for r in item_cell_assignments(profiles).collect()}
    events_pd = load(spark, sf_dir, "events").toPandas()
    _, item_cell = _expected_candidate_recs(events_pd, REC_NPROBE)
    assert got == item_cell


def test_streaming_ann_index_update_equals_one_pass_rebuild(spark, sf_dir):
    """Incremental index maintenance must converge to the one-pass
    rebuild: the streaming append-per-batch assignment equals
    _ivf_assign_cells over the full corpus (same frozen quantizer, same
    fold, same cos DESC / cid ASC ties) — the engine-side twin of the
    registered query's full-assignment oracle."""
    from pyspark.sql import functions as F

    from cqu_bigdata_recommender_system_for_movies_spark.operators.vectors import (
        _ivf_assign_cells,
    )
    from cqu_bigdata_recommender_system_for_movies_spark.streaming.ann_index import (
        streaming_ann_index_update,
    )

    got = {
        r.vec_id: r.cell
        for r in streaming_ann_index_update(spark, sf_dir).collect()
    }
    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("e")
    )
    expected = {
        r.vec_id: r.cells[0]
        for r in _ivf_assign_cells(emb, 1, n_cells=derive_ann_cells(sf_dir))
            .select("vec_id", "cells")
            .collect()
    }
    assert got == expected
    # the quantizer actually partitions the corpus (no degenerate cell)
    from collections import Counter

    sizes = Counter(got.values())
    assert len(sizes) > 1 and max(sizes.values()) < len(got)


def test_streaming_ann_index_appends_bucketed_files(spark, sf_dir):
    """The maintenance loop's write path: each micro-batch APPENDS its
    own bucketed files into the constant-bucket-spec table — the index
    grows without rewriting prior batches' files, and the final table
    carries the bucket layout the cell-local read path joins against."""
    import os
    import tempfile

    from cqu_bigdata_recommender_system_for_movies_spark.streaming.ann_index import (
        ANN_INDEX_TABLE,
        N_INDEX_SLICES,
        _ann_cents_relation,
        assign_batch,
    )

    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("e"),
    )
    cents = _ann_cents_relation(emb, derive_ann_cells(sf_dir))
    tbl = ANN_INDEX_TABLE + "_test"
    loc = os.path.join(tempfile.gettempdir(), "spark_graft_tables", tbl)
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    import shutil

    shutil.rmtree(loc, ignore_errors=True)
    try:
        # replay the per-batch append exactly as the foreachBatch does
        for s in range(N_INDEX_SLICES):
            batch = emb.filter(F.pmod("vec_id", F.lit(N_INDEX_SLICES)) == s)
            (
                assign_batch(batch, cents)
                .write.mode("append")
                .option("path", loc)
                .bucketBy(16, "cell")
                .sortBy("cell")
                .format("parquet")
                .saveAsTable(tbl)
            )
        # table metadata: constant bucket spec over all appends
        ddl = spark.sql(f"SHOW CREATE TABLE {tbl}").collect()[0][0]
        assert "CLUSTERED BY (cell)" in ddl and "16 BUCKETS" in ddl, ddl
        # every batch contributed its own files (append, not rewrite)
        n_files = len(
            [f for f in os.listdir(loc) if f.startswith("part-")]
        )
        assert n_files >= N_INDEX_SLICES, n_files
        # the union of appends is the full corpus, each vector once
        total = spark.table(tbl).count()
        distinct = spark.table(tbl).select("vec_id").distinct().count()
        assert total == distinct == emb.count()
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")
        shutil.rmtree(loc, ignore_errors=True)


def test_ann_index_batch_replay_is_idempotent(spark, sf_dir):
    """ADVICE r13: foreachBatch is at-least-once, so a replayed
    micro-batch must not double-append. apply_index_batch consults the
    in-table batch_id ledger: the second application of the same batch
    id is a no-op (returns False, row count unchanged), while a new
    batch id still appends."""
    import os
    import shutil
    import tempfile

    from cqu_bigdata_recommender_system_for_movies_spark.streaming.ann_index import (
        ANN_INDEX_TABLE,
        _ann_cents_relation,
        apply_index_batch,
    )

    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("e"),
    )
    cents = _ann_cents_relation(emb, derive_ann_cells(sf_dir))
    tbl = ANN_INDEX_TABLE + "_replay_test"
    loc = os.path.join(tempfile.gettempdir(), "spark_graft_tables", tbl)
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    shutil.rmtree(loc, ignore_errors=True)
    try:
        half = emb.filter(F.pmod("vec_id", F.lit(2)) == 0)
        assert apply_index_batch(spark, tbl, loc, half, cents, 0, 16) is True
        n_after_first = spark.table(tbl).count()
        # the replay: same batch id -> skipped, nothing double-counted
        assert apply_index_batch(spark, tbl, loc, half, cents, 0, 16) is False
        assert spark.table(tbl).count() == n_after_first
        # a genuinely new batch still lands
        rest = emb.filter(F.pmod("vec_id", F.lit(2)) == 1)
        assert apply_index_batch(spark, tbl, loc, rest, cents, 1, 16) is True
        assert spark.table(tbl).count() == emb.count()
        assert spark.table(tbl).select("vec_id").distinct().count() == emb.count()
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")
        shutil.rmtree(loc, ignore_errors=True)


def test_ann_index_compaction_bounds_files(spark, sf_dir):
    """VERDICT r13 #3: a long-lived index must not accumulate
    n_batches x n_buckets files. Run the full lifecycle loop
    (N_COMPACT_SLICES appends, compaction every ANN_COMPACT_EVERY) with
    the audit on and assert (a) the live file count never exceeds the
    documented n_buckets x (ANN_COMPACT_EVERY + 1) bound and drops to
    <= n_buckets right after each compaction, (b) the final contents
    are IDENTICAL to the plain no-compaction maintenance loop (the
    content-invariance half the DuckDB oracle also hash-checks), and
    (c) every audited batch carries the cell-skew staleness signal."""
    from cqu_bigdata_recommender_system_for_movies_spark.streaming.ann_index import (
        ANN_COMPACT_EVERY,
        N_COMPACT_SLICES,
        maintain_index,
        streaming_ann_index_update,
    )

    audit: list = []
    got = maintain_index(
        spark,
        sf_dir,
        "spark_graft_ann_index_lifecycle_test",
        N_COMPACT_SLICES,
        compact_every=ANN_COMPACT_EVERY,
        audit=audit,
    )
    got_map = {r.vec_id: r.cell for r in got.collect()}
    plain = {
        r.vec_id: r.cell
        for r in streaming_ann_index_update(spark, sf_dir).collect()
    }
    assert got_map == plain  # compaction + slicing are content-invariant

    n_buckets = 16
    appends = [a for a in audit if "batch_id" in a]
    compactions = [a for a in audit if "compacted_after" in a]
    # the file-source rate limit can merge the first slices into one
    # micro-batch, so the applied-batch count is <= the staged slices —
    # what's pinned is that MULTIPLE compaction cycles actually ran
    assert ANN_COMPACT_EVERY < len(appends) <= N_COMPACT_SLICES
    assert len(compactions) == len(appends) // ANN_COMPACT_EVERY
    assert len(compactions) >= 2
    assert appends[-1]["rows"] == len(plain)  # every vector landed once
    bound = n_buckets * (ANN_COMPACT_EVERY + 1)
    for a in appends:
        assert 0 < a["files"] <= bound, a
        assert a["cell_skew"] >= 1.0, a  # the staleness signal rides along
    for c in compactions:
        assert 0 < c["files"] <= n_buckets, c
    # no batch was ever double-applied through a replay
    assert not [a for a in audit if "replay_skipped" in a]


def test_ann_index_upsert_last_writer_wins_and_purges(spark, sf_dir):
    """The re-embedding loop: later slices carry NEW versions of
    already-indexed vectors (sign-flip payload). (a) The final index
    must equal the one-pass assignment over each vector's LATEST
    embedding — the engine twin of the registered query's
    latest-version oracle; (b) the purging compaction physically drops
    superseded versions, so a final purge leaves exactly one physical
    row per vector (merge-on-write, not filter-on-read)."""
    import shutil

    from cqu_bigdata_recommender_system_for_movies_spark.streaming.ann_index import (
        N_UPSERT_SLICES,
        UPSERT_COMPACT_EVERY,
        _ann_cents_relation,
        _table_location,
        assign_batch,
        compact_index_table,
        maintain_index,
    )

    tbl = "spark_graft_ann_index_upsert_test"
    audit: list = []
    got = maintain_index(
        spark,
        sf_dir,
        tbl,
        N_UPSERT_SLICES,
        compact_every=UPSERT_COMPACT_EVERY,
        audit=audit,
        upsert=True,
        cleanup=False,
    )
    try:
        got_map = {r.vec_id: r.cell for r in got.collect()}

        emb = load(spark, sf_dir, "embeddings").select(
            "vec_id",
            F.transform("embedding", lambda x: x.cast("double")).alias("e"),
        )
        # latest version per vector: slices 0/1 were re-embedded
        # (sign-flipped), 2/3 keep their originals
        latest = emb.select(
            "vec_id",
            F.when(
                F.pmod("vec_id", F.lit(N_UPSERT_SLICES)) < N_UPSERT_SLICES - 2,
                F.transform("e", lambda x: -x),
            )
            .otherwise(F.col("e"))
            .alias("e"),
        )
        # one-pass batch twin: latest vectors assigned against the
        # quantizer frozen on the ORIGINAL corpus (the engine's own
        # batch primitive, independent of the incremental loop — the
        # loop must converge to it; the DuckDB oracle is the
        # cross-engine check of the same statement)
        cents = _ann_cents_relation(emb, derive_ann_cells(sf_dir))
        expected = {
            r.vec_id: r.cell for r in assign_batch(latest, cents).collect()
        }
        assert got_map == expected
        n_vec = emb.count()
        assert len(got_map) == n_vec
        # updates actually changed assignments for a real share of slices
        # 0/1 (a sign-flipped vector rarely keeps its nearest cell)
        orig = {
            r.vec_id: r.cell for r in assign_batch(emb, cents).collect()
        }
        moved = sum(
            1
            for v, c in got_map.items()
            if v % N_UPSERT_SLICES < N_UPSERT_SLICES - 2 and orig[v] != c
        )
        assert moved > 0

        # (b) a final purge-compaction leaves one physical row per vector
        loc_base = _table_location(spark, tbl)
        compact_index_table(
            spark, tbl, 16, loc_base + "_purgetest", purge_latest_by="ver"
        )
        assert spark.table(tbl).count() == n_vec
        # and the purged table still answers identically
        purged = {
            r.vec_id: r.cell
            for r in spark.table(tbl).select("vec_id", "cell").collect()
        }
        assert purged == expected
    finally:
        final_loc = _table_location(spark, tbl)
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")
        shutil.rmtree(final_loc, ignore_errors=True)
        base = "/tmp/spark_graft_tables/" + tbl
        for gen in range(N_UPSERT_SLICES + 2):
            shutil.rmtree(f"{base}_gen{gen}", ignore_errors=True)
        shutil.rmtree(base + "_gen1_purgetest", ignore_errors=True)


def test_ann_index_delete_tombstones_and_physical_purge(spark, sf_dir):
    """The removal path: a final tombstone slice deletes vec_id%4==2.
    (a) The live index equals the one-pass assignment over the post-CRUD
    corpus (re-embedded 0/1, original 3, DELETED 2); (b) compaction
    applies markers physically — a final tombstone-aware compaction
    leaves exactly the live rows, no filter-on-read debt; (c) the
    delete-marker side table holds exactly the tombstoned keys."""
    import shutil

    from cqu_bigdata_recommender_system_for_movies_spark.streaming.ann_index import (
        N_DELETE_SLICES,
        UPSERT_COMPACT_EVERY,
        _ann_cents_relation,
        _table_location,
        assign_batch,
        compact_index_table,
        maintain_index,
    )

    tbl = "spark_graft_ann_index_delete_test"
    audit: list = []
    got = maintain_index(
        spark,
        sf_dir,
        tbl,
        N_DELETE_SLICES,
        compact_every=UPSERT_COMPACT_EVERY,
        audit=audit,
        upsert=True,
        deletes=True,
        cleanup=False,
    )
    try:
        got_map = {r.vec_id: r.cell for r in got.collect()}

        emb = load(spark, sf_dir, "embeddings").select(
            "vec_id",
            F.transform("embedding", lambda x: x.cast("double")).alias("e"),
        )
        live = emb.filter(F.pmod("vec_id", F.lit(4)) != 2).select(
            "vec_id",
            F.when(
                F.pmod("vec_id", F.lit(4)) < 2,
                F.transform("e", lambda x: -x),
            )
            .otherwise(F.col("e"))
            .alias("e"),
        )
        cents = _ann_cents_relation(emb, derive_ann_cells(sf_dir))
        expected = {
            r.vec_id: r.cell for r in assign_batch(live, cents).collect()
        }
        assert got_map == expected
        n_total = emb.count()
        n_live = live.count()
        assert len(got_map) == n_live < n_total
        assert not any(v % 4 == 2 for v in got_map)  # tombstoned keys gone

        # (c) the marker table holds exactly the deleted keys
        tombs = {r.vec_id for r in spark.table(f"{tbl}_tombs").collect()}
        assert tombs == {
            r.vec_id
            for r in emb.filter(F.pmod("vec_id", F.lit(4)) == 2).collect()
        }

        # (b) a final marker-aware purge leaves exactly the live rows
        marker_agg = (
            spark.table(f"{tbl}_tombs")
            .groupBy("vec_id")
            .agg(F.max("ver").alias("__dver"))
        )
        loc_base = _table_location(spark, tbl)
        compact_index_table(
            spark,
            tbl,
            16,
            loc_base + "_purgetest",
            purge_latest_by="ver",
            tombstones=marker_agg,
        )
        assert spark.table(tbl).count() == n_live
        purged = {
            r.vec_id: r.cell
            for r in spark.table(tbl).select("vec_id", "cell").collect()
        }
        assert purged == expected
    finally:
        final_loc = _table_location(spark, tbl)
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")
        spark.sql(f"DROP TABLE IF EXISTS {tbl}_tombs")
        shutil.rmtree(final_loc, ignore_errors=True)
        base = "/tmp/spark_graft_tables/" + tbl
        shutil.rmtree(base + "_tombs", ignore_errors=True)
        for gen in range(N_DELETE_SLICES + 2):
            shutil.rmtree(f"{base}_gen{gen}", ignore_errors=True)
        shutil.rmtree(base + "_gen1_purgetest", ignore_errors=True)
        shutil.rmtree(base + "_gen2_purgetest", ignore_errors=True)


def _post_crud_rebuild(spark, sf_dir) -> tuple[dict, set]:
    """(vec_id -> cell, deleted keys) of the delete schedule rebuilt in
    one pass: vec_id % 4 < 2 re-embedded (sign flip), % 4 == 3 original,
    % 4 == 2 deleted; assigned under the quantizer of the original
    corpus."""
    from cqu_bigdata_recommender_system_for_movies_spark.streaming.ann_index import (
        _ann_cents_relation,
        _vectors,
        assign_batch,
    )

    emb = _vectors(spark, sf_dir)
    key = F.pmod("vec_id", F.lit(4))
    live = emb.filter(key != 2).select(
        "vec_id",
        F.when(key < 2, F.transform("e", lambda x: -x)).otherwise(F.col("e")).alias("e"),
    )
    cents = _ann_cents_relation(emb, derive_ann_cells(sf_dir))
    expected = {r.vec_id: r.cell for r in assign_batch(live, cents).collect()}
    deleted = {r.vec_id for r in emb.filter(key == 2).select("vec_id").collect()}
    return expected, deleted


def test_ann_index_crud_result_ignores_arrival_order(spark, sf_dir):
    """Results rest on `ver`, not on the order the file source replays
    the slices. Stage the delete schedule and force the reverse order
    through file mtimes: the tombstone slice first, then the update
    slices, then the originals they supersede. The snapshot still equals
    the post-CRUD one-pass rebuild, and the marker table holds exactly
    the deleted keys."""
    import os
    import shutil
    import tempfile
    import time

    import cqu_bigdata_recommender_system_for_movies_spark.streaming.ann_index as ai
    from cqu_bigdata_recommender_system_for_movies_spark.streaming.queries import (
        stage_slices,
    )

    n = ai.N_DELETE_SLICES
    tbl = "spark_graft_ann_order_test"
    emb = ai._vectors(spark, sf_dir)
    n_cells = ai.derive_ann_cells(sf_dir)
    arrivals = ai._crud_arrivals(emb, n, deletes=True)
    audit: list = []
    loop = ai._IndexLoop(
        spark,
        sf_dir,
        tbl,
        n,
        n_cells,
        ai._ann_cents_relation(emb, n_cells),
        versioned=True,
        deletes=True,
        compact_every=ai.UPSERT_COMPACT_EVERY,
        audit=audit,
    )
    stage = tempfile.mkdtemp(prefix="spark_graft_ann_order_stage_")
    try:
        stage_slices(arrivals, "ver", n, stage)
        # the file source replays in mtime order: ver=4 oldest, ver=0 newest
        base = time.time() - 100.0
        for ver in range(n):
            vdir = os.path.join(stage, f"ver={ver}")
            t = base + 2.0 * (n - 1 - ver)
            for f in os.listdir(vdir):
                os.utime(os.path.join(vdir, f), (t, t))
        loop.open(fresh=True)
        loop.drain(stage, arrivals.schema)
        got = {r.vec_id: r.cell for r in loop.snapshot().collect()}

        expected, deleted = _post_crud_rebuild(spark, sf_dir)
        assert got == expected
        spark.catalog.refreshTable(f"{tbl}_tombs")
        markers = spark.table(f"{tbl}_tombs").collect()
        assert {r.vec_id for r in markers} == deleted
        # the forced order took effect: the tombstones rode batch 0
        assert {r.batch_id for r in markers} == {0}
        batches = [a for a in audit if "batch_id" in a]
        assert len(batches) == n and batches[0]["batch_rows"] == 0
    finally:
        loop.cleanup()
        shutil.rmtree(stage, ignore_errors=True)


def test_ann_index_crash_between_markers_and_append(spark, sf_dir, monkeypatch):
    """Crash point: a batch's delete markers are written and its index
    append never runs. Restarting from the checkpoint replays that batch
    under the same id; it writes its markers a second time and appends.
    max(ver) per key absorbs the duplicate markers, and the snapshot
    equals the post-CRUD rebuild."""
    import glob
    import os
    import shutil
    import tempfile

    from pyspark.errors import StreamingQueryException

    import cqu_bigdata_recommender_system_for_movies_spark.streaming.ann_index as ai

    tbl = "spark_graft_ann_crash_test"
    ckpt = tempfile.mkdtemp(prefix="spark_graft_ann_crash_ckpt_")
    stage = tempfile.mkdtemp(prefix="spark_graft_ann_crash_stage_")
    run = dict(
        compact_every=ai.UPSERT_COMPACT_EVERY,
        deletes=True,
        cleanup=False,
        checkpoint_dir=ckpt,
        stage_dir=stage,
    )
    real_apply = ai.apply_index_batch
    crashed: list[int] = []

    def crash_after_markers(spark_, table, loc, batch_df, cents, batch_id, *a, **kw):
        if not crashed and spark_.catalog.tableExists(f"{tbl}_tombs"):
            crashed.append(int(batch_id))
            raise RuntimeError("crash between marker write and append")
        return real_apply(spark_, table, loc, batch_df, cents, batch_id, *a, **kw)

    monkeypatch.setattr(ai, "apply_index_batch", crash_after_markers)
    try:
        with pytest.raises(StreamingQueryException, match="crash between marker"):
            ai.maintain_index(spark, sf_dir, tbl, ai.N_DELETE_SLICES, **run)
        assert crashed
        expected, deleted = _post_crud_rebuild(spark, sf_dir)
        spark.catalog.refreshTable(f"{tbl}_tombs")
        assert spark.table(f"{tbl}_tombs").count() == len(deleted)

        audit: list = []
        got = ai.maintain_index(
            spark, sf_dir, tbl, ai.N_DELETE_SLICES, audit=audit, fresh=False, **run
        )
        assert {r.vec_id: r.cell for r in got.collect()} == expected
        # the crashed batch was replayed under its own id and applied
        assert crashed[0] in [a["batch_id"] for a in audit if "batch_id" in a]
        spark.catalog.refreshTable(f"{tbl}_tombs")
        markers = spark.table(f"{tbl}_tombs")
        assert markers.count() == 2 * len(deleted)
        assert {r.batch_id for r in markers.select("batch_id").distinct().collect()} == {
            crashed[0]
        }
        newest = markers.groupBy("vec_id").agg(F.max("ver").alias("v")).collect()
        assert {r.vec_id for r in newest} == deleted
        assert {r.v for r in newest} == {ai.N_DELETE_SLICES - 1}
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")
        spark.sql(f"DROP TABLE IF EXISTS {tbl}_tombs")
        base = os.path.join(tempfile.gettempdir(), "spark_graft_tables", tbl)
        for path in glob.glob(f"{base}_*"):
            shutil.rmtree(path, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)
        shutil.rmtree(stage, ignore_errors=True)


def test_ann_index_crash_between_compaction_write_and_swap(spark, sf_dir, monkeypatch):
    """Crash point: compaction has written the new generation under its
    temp name and the swap never runs. The old generation still serves.
    Restarting from the checkpoint replays the crashed batch, compacts
    again at a later due batch over the leftover temp table, and the
    snapshot equals the post-CRUD rebuild.

    The file source orders the staged slices by modification time, so
    the crashed batch may be any slice. When its append left index rows
    the ledger skips the replay; the tombstone-only slice appends none,
    leaves no ledger row, and is applied again (its markers a second
    time, which max(ver) per key absorbs)."""
    import glob
    import os
    import shutil
    import tempfile

    from pyspark.errors import StreamingQueryException

    import cqu_bigdata_recommender_system_for_movies_spark.streaming.ann_index as ai

    tbl = "spark_graft_ann_swap_crash_test"
    ckpt = tempfile.mkdtemp(prefix="spark_graft_ann_swap_crash_ckpt_")
    stage = tempfile.mkdtemp(prefix="spark_graft_ann_swap_crash_stage_")
    run = dict(
        compact_every=ai.UPSERT_COMPACT_EVERY,
        deletes=True,
        cleanup=False,
        checkpoint_dir=ckpt,
        stage_dir=stage,
    )
    real_swap = ai._swap_generations
    crashed: list[str] = []

    def crash_before_swap(spark_, table, tmp, old_loc):
        if not crashed:
            crashed.append(old_loc)
            raise RuntimeError("crash between compaction write and swap")
        return real_swap(spark_, table, tmp, old_loc)

    monkeypatch.setattr(ai, "_swap_generations", crash_before_swap)
    try:
        first: list = []
        with pytest.raises(StreamingQueryException, match="crash between compaction"):
            ai.maintain_index(
                spark, sf_dir, tbl, ai.N_DELETE_SLICES, audit=first, **run
            )
        assert crashed
        # compaction runs after the batch's audit row: the last one is
        # the crashed batch's
        last = [a for a in first if "batch_id" in a][-1]
        # the rewrite is complete under the temp name; the old generation serves
        assert spark.catalog.tableExists(f"{tbl}_compacting")
        assert ai._table_location(spark, tbl) == crashed[0]

        audit: list = []
        got = ai.maintain_index(
            spark, sf_dir, tbl, ai.N_DELETE_SLICES, audit=audit, fresh=False, **run
        )
        expected, _ = _post_crud_rebuild(spark, sf_dir)
        rows = got.collect()
        assert len(rows) == len(expected)
        assert {r.vec_id: r.cell for r in rows} == expected
        assert [a for a in audit if "compacted_after" in a]
        applied = [a["batch_id"] for a in audit if "batch_id" in a]
        if last["batch_rows"]:
            assert {"replay_skipped": last["batch_id"]} in audit
            assert last["batch_id"] not in applied
        else:
            assert last["batch_id"] in applied
        assert not spark.catalog.tableExists(f"{tbl}_compacting")
        assert ai._table_location(spark, tbl) != crashed[0]
    finally:
        for name in ("", "_tombs", "_compacting", "_retiring"):
            spark.sql(f"DROP TABLE IF EXISTS {tbl}{name}")
        base = os.path.join(tempfile.gettempdir(), "spark_graft_tables", tbl)
        for path in glob.glob(f"{base}_*"):
            shutil.rmtree(path, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)
        shutil.rmtree(stage, ignore_errors=True)


def test_ann_index_resume_floor_skips_replays_only(spark, sf_dir):
    """The restart path's guard arithmetic: after a restart the loop
    reads the table's max committed batch_id ONCE (the resume floor);
    a replayed batch at or below the floor probes the ledger and skips,
    a genuinely new batch above the floor appends WITHOUT probing.
    Replays the exact derivation maintain_index runs at startup."""
    import shutil

    from cqu_bigdata_recommender_system_for_movies_spark.streaming.ann_index import (
        _ann_cents_relation,
        apply_index_batch,
    )

    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("e"),
    )
    cents = _ann_cents_relation(emb, derive_ann_cells(sf_dir))
    tbl = "spark_graft_ann_index_resume_test"
    loc = "/tmp/spark_graft_tables/" + tbl
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    shutil.rmtree(loc, ignore_errors=True)
    try:
        thirds = [emb.filter(F.pmod("vec_id", F.lit(3)) == s) for s in range(3)]
        # pre-restart run: batches 0 and 1 committed
        assert apply_index_batch(spark, tbl, loc, thirds[0], cents, 0, 16)
        assert apply_index_batch(spark, tbl, loc, thirds[1], cents, 1, 16)

        # restart: derive the floor exactly as maintain_index does
        spark.catalog.refreshTable(tbl)
        row = spark.table(tbl).agg(F.max("batch_id")).collect()[0]
        resume_floor = -1 if row[0] is None else int(row[0])
        assert resume_floor == 1

        # the source replays batch 1 (<= floor: probe -> skip) then
        # delivers the new batch 2 (> floor: append, no probe)
        assert (
            apply_index_batch(
                spark, tbl, loc, thirds[1], cents, 1, 16,
                check_ledger=1 <= resume_floor,
            )
            is False
        )
        assert (
            apply_index_batch(
                spark, tbl, loc, thirds[2], cents, 2, 16,
                check_ledger=2 <= resume_floor,
            )
            is True
        )
        assert spark.table(tbl).count() == emb.count()
        assert (
            spark.table(tbl).select("vec_id").distinct().count() == emb.count()
        )
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")
        shutil.rmtree(loc, ignore_errors=True)


def test_ann_index_delete_then_reinsert_revives(spark, sf_dir):
    """A delete marker kills versions up to its own; a NEWER version
    (a re-insert after the delete) must revive the key — in both the
    snapshot filter and the marker-aware compaction."""
    import shutil

    from cqu_bigdata_recommender_system_for_movies_spark.streaming.ann_index import (
        _ann_cents_relation,
        _table_location,
        apply_index_batch,
        compact_index_table,
    )

    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("e"),
    )
    cents = _ann_cents_relation(emb, derive_ann_cells(sf_dir))
    tbl = "spark_graft_ann_index_revive_test"
    loc = "/tmp/spark_graft_tables/" + tbl
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    shutil.rmtree(loc, ignore_errors=True)
    shutil.rmtree(loc + "_compacted", ignore_errors=True)
    try:
        # ver 0: insert everything; markers at ver 1 delete evens;
        # ver 2: re-insert HALF the evens (vec_id % 4 == 0) — those
        # must revive, vec_id % 4 == 2 must stay dead
        v0 = emb.withColumn("ver", F.lit(0).cast("int"))
        apply_index_batch(spark, tbl, loc, v0, cents, 0, 16, carry=("ver",))
        v2 = emb.filter(F.pmod("vec_id", F.lit(4)) == 0).withColumn(
            "ver", F.lit(2).cast("int")
        )
        apply_index_batch(spark, tbl, loc, v2, cents, 2, 16, carry=("ver",))
        markers = (
            emb.filter(F.pmod("vec_id", F.lit(2)) == 0)
            .select("vec_id", F.lit(1).cast("int").alias("__dver"))
        )
        compact_index_table(
            spark,
            tbl,
            16,
            loc + "_compacted",
            purge_latest_by="ver",
            tombstones=markers,
        )
        live = {r.vec_id for r in spark.table(tbl).select("vec_id").collect()}
        all_ids = {r.vec_id for r in emb.collect()}
        expected = {
            v for v in all_ids if v % 2 == 1 or v % 4 == 0
        }  # odds never deleted; %4==0 revived; %4==2 dead
        assert live == expected
        # exactly one physical row per live key (winners only)
        assert spark.table(tbl).count() == len(expected)
    finally:
        final_loc = _table_location(spark, tbl)
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")
        shutil.rmtree(final_loc, ignore_errors=True)
        shutil.rmtree(loc, ignore_errors=True)
        shutil.rmtree(loc + "_compacted", ignore_errors=True)


def test_ann_search_plan_and_pruning(spark, sf_dir):
    """The serving path's per-batch scoring plan: (a) at fixture scale
    the index is broadcast-sized, so the batch is one narrow stage (one
    Arrow UDF; no exchange, join, cartesian product or window); (b) the
    pruned candidate set is a strict subset of the corpus for every
    query; (c) self-matches excluded and exactly top-k rows per
    query."""
    import shutil

    from cqu_bigdata_recommender_system_for_movies_spark.streaming.ann_index import (
        _ann_cents_relation,
        apply_index_batch,
    )
    from cqu_bigdata_recommender_system_for_movies_spark.streaming.ann_search import (
        SEARCH_TOPK,
        score_query_batch,
    )

    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("e"),
    )
    cents = _ann_cents_relation(emb, derive_ann_cells(sf_dir))
    tbl = "spark_graft_ann_search_plan_test"
    loc = "/tmp/spark_graft_tables/" + tbl
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    shutil.rmtree(loc, ignore_errors=True)
    try:
        apply_index_batch(spark, tbl, loc, emb, cents, 0, 16, carry=("e",))
        index_df = spark.table(tbl).select(
            F.col("vec_id").alias("neighbor_id"), "cell", F.col("e").alias("ne")
        )
        queries = emb.filter(F.col("vec_id") % 50 == 7)
        scored = score_query_batch(queries, cents, index_df)
        physical = scored._jdf.queryExecution().executedPlan().toString()
        for node in ("Exchange", "Join", "CartesianProduct", "Window"):
            assert node not in physical, physical[:2000]
        assert physical.count("ArrowEvalPython") == 1, physical[:2000]

        rows = scored.collect()
        per_query: dict[int, list[int]] = {}
        for r in rows:
            per_query.setdefault(int(r.query_id), []).append(int(r.neighbor_id))
            assert r.neighbor_id != r.query_id
        assert per_query and all(
            len(v) == SEARCH_TOPK for v in per_query.values()
        )
        # ranks are 1..k, dense, per query
        ranks = {}
        for r in rows:
            ranks.setdefault(int(r.query_id), set()).add(int(r.rank))
        assert all(v == set(range(1, SEARCH_TOPK + 1)) for v in ranks.values())
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")
        shutil.rmtree(loc, ignore_errors=True)


def test_ann_index_read_after_appends(spark, sf_dir):
    """VERDICT r13 #5: the maintained index's READ path. Build the index
    through >= 3 incremental appends (multiple files per bucket — the
    state a long-lived index is actually in), then run the cell-probe
    join with both broadcast thresholds zeroed (simulating a
    past-broadcast catalog): the plan must be a sort-merge join whose
    index side reads the bucketed files with NO exchange — appends never
    cost the read path its co-located layout — while only the probe side
    exchanges onto the bucket layout. Never a cartesian product."""
    import os
    import re
    import shutil
    import tempfile

    from cqu_bigdata_recommender_system_for_movies_spark.streaming.ann_index import (
        ANN_INDEX_TABLE,
        _ann_cents_relation,
        apply_index_batch,
    )

    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("e"),
    )
    cents = _ann_cents_relation(emb, derive_ann_cells(sf_dir))
    tbl = ANN_INDEX_TABLE + "_read_test"
    loc = os.path.join(tempfile.gettempdir(), "spark_graft_tables", tbl)
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    shutil.rmtree(loc, ignore_errors=True)
    prev_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        prev_aqe_thresh = spark.conf.get(
            "spark.sql.adaptive.autoBroadcastJoinThreshold"
        )
    except Exception:
        prev_aqe_thresh = None
    try:
        for s in range(3):
            batch = emb.filter(F.pmod("vec_id", F.lit(3)) == s)
            apply_index_batch(spark, tbl, loc, batch, cents, s, 16)
        # multiple files per bucket: the multi-append state under test
        n_files = len([f for f in os.listdir(loc) if f.startswith("part-")])
        assert n_files > 16, n_files
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        probes = spark.range(40).select(
            F.col("id").alias("query_id"),
            (F.col("id") % 16).cast("int").alias("cell"),
        )
        fetched = probes.join(
            spark.table(tbl).select("vec_id", "cell"), "cell"
        )
        physical = fetched._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in physical
        assert "SortMergeJoin" in physical, physical[:2000]
        cell_exchanges = len(
            re.findall(r"Exchange hashpartitioning\(cell", physical)
        )
        assert cell_exchanges == 1, (
            f"{cell_exchanges} cell-key exchanges — the multi-append "
            "bucketed index side is reshuffling on read:\n" + physical[:2000]
        )
        assert fetched.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_thresh)
        if prev_aqe_thresh is not None:
            spark.conf.set(
                "spark.sql.adaptive.autoBroadcastJoinThreshold", prev_aqe_thresh
            )
        else:
            spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")
        shutil.rmtree(loc, ignore_errors=True)


def test_candidate_pruning_recall_floor(spark, sf_dir):
    """The quantizer must carry SIGNAL, not just structure: the pruned
    top-10's overlap with the exhaustive users x catalog top-10 has to
    clear a floor that random cell assignment cannot. At the fixture
    (~100 items, derived width 16, nprobe 2) a user's candidate set is
    ~12 items, so RANDOM cells would expect recall ~0.12; the working
    quantizer measures 0.52-0.59 across sfs
    (tools/probe_candidates_recall.py). Floor at 0.30 — far above
    random, far below the measured plateau, so only a degenerated
    assignment (broken tie order, wrong norm, shuffled seeds) fails."""
    from cqu_bigdata_recommender_system_for_movies_spark.streaming.candidates import (
        REC_NPROBE,
    )

    events_pd = load(spark, sf_dir, "events").toPandas()
    pruned, _ = _expected_candidate_recs(events_pd, REC_NPROBE)

    # exhaustive top-10 from the same profiles/vectors (python twin)
    profiles: dict[int, list[float]] = {}
    ev = events_pd.copy()
    ev["item_ref"] = ev["props"].map(
        lambda s: json.loads(s).get("k") if s else None
    )
    typed = ev[ev["item_ref"].notna()]
    for item, grp in typed.groupby("item_ref"):
        n = len(grp)
        profiles[int(item)] = [
            (grp["event_type"] == t).sum() / n for t in EVENT_TYPES
        ]
    hits = denom = 0
    for uid, grp in events_pd.groupby("user_id"):
        interest = fold_events(np.zeros(DIM), grp)
        interest = [round(float(x), 6) for x in interest]
        scored = [
            (round(_cosine_exact(interest, prof), 6), item)
            for item, prof in profiles.items()
        ]
        scored.sort(key=lambda t: (-t[0], t[1]))
        exhaustive = {item for _, item in scored[:10]}
        got = {item for item, _, _ in pruned.get(uid, [])}
        hits += len(exhaustive & got)
        denom += len(exhaustive)
    recall = hits / denom
    assert recall >= 0.30, (
        f"pruned recall@10 {recall:.3f} below the degeneration floor — "
        "the quantizer is no better than random cells"
    )


def test_ann_index_resume_skips_replayed_batch(spark, sf_dir):
    """ADVICE r14: the resume-floor/ledger guard must be reachable in
    the STREAMING path, not just via apply_index_batch unit calls.
    Construct the at-least-once replay Spark actually produces: run the
    maintenance loop under a persistent checkpoint, then delete the
    newest checkpoint COMMIT (a crash after the batch's work but before
    the commit marker) and restart with fresh=False — the source
    re-delivers the same batch from its offset log, the resume floor
    marks it as a possible replay, the in-table ledger detects it, and
    the append is skipped: the final index is unchanged, no vec_id
    duplicated."""
    import os
    import shutil
    import tempfile

    from cqu_bigdata_recommender_system_for_movies_spark.streaming.ann_index import (
        N_INDEX_SLICES,
        maintain_index,
    )

    tbl = "spark_graft_ann_index_resume_stream_test"
    ckpt = tempfile.mkdtemp(prefix="spark_graft_ann_resume_ckpt_")
    stage = tempfile.mkdtemp(prefix="spark_graft_ann_resume_stage_")
    loc_base = os.path.join(tempfile.gettempdir(), "spark_graft_tables", tbl)
    try:
        first = maintain_index(
            spark,
            sf_dir,
            tbl,
            N_INDEX_SLICES,
            cleanup=False,
            checkpoint_dir=ckpt,
            stage_dir=stage,
        )
        want = {r.vec_id: r.cell for r in first.collect()}
        assert want  # the run actually indexed something

        # simulate the crash-before-commit: drop the newest commit
        # marker so the restart re-executes that batch with the same
        # offsets (the textbook at-least-once replay)
        commits = sorted(
            f
            for f in os.listdir(os.path.join(ckpt, "commits"))
            if not f.startswith(".")
        )
        os.remove(os.path.join(ckpt, "commits", commits[-1]))
        # the local-FS checkpoint manager writes a sibling CRC; leaving
        # it behind makes the restart's commit rewrite fail on rename
        crc = os.path.join(ckpt, "commits", f".{commits[-1]}.crc")
        if os.path.exists(crc):
            os.remove(crc)

        audit: list = []
        second = maintain_index(
            spark,
            sf_dir,
            tbl,
            N_INDEX_SLICES,
            audit=audit,
            cleanup=False,
            fresh=False,
            checkpoint_dir=ckpt,
            stage_dir=stage,
        )
        got = {r.vec_id: r.cell for r in second.collect()}
        assert got == want  # replay changed nothing
        # the guard engaged: the replayed batch was detected and skipped
        assert [a for a in audit if "replay_skipped" in a]
        assert not [a for a in audit if "batch_id" in a]  # nothing re-applied
        # and the table holds each vector exactly once
        spark.catalog.refreshTable(tbl)
        total = spark.table(tbl).count()
        distinct = spark.table(tbl).select("vec_id").distinct().count()
        assert total == distinct == len(want)
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")
        shutil.rmtree(ckpt, ignore_errors=True)
        shutil.rmtree(stage, ignore_errors=True)
        for gen in range(N_INDEX_SLICES + 2):
            shutil.rmtree(f"{loc_base}_gen{gen}", ignore_errors=True)


def test_ann_search_serves_crud_maintained_index(spark, sf_dir):
    """VERDICT r14 #6: the end-to-end serving claim — queries answered
    from an index that LIVED through the full CRUD history (appends,
    re-embedding upserts, tombstoned deletes, purging compactions), not
    a fresh single-append build. Run the delete-scenario maintenance
    loop with the vector payload carried, serve the standard query set
    from its final artifact, and check the served top-k against an
    independent DuckDB replay of the pruned pipeline over the post-CRUD
    live set."""
    import shutil

    import duckdb
    from pyspark.sql import Window

    from cqu_bigdata_recommender_system_for_movies_spark.streaming.ann_index import (
        ANN_CELLS_SQL,
        N_DELETE_SLICES,
        UPSERT_COMPACT_EVERY,
        _ann_cents_relation,
        _table_location,
        maintain_index,
    )
    from cqu_bigdata_recommender_system_for_movies_spark.streaming.ann_search import (
        QUERY_MOD,
        QUERY_REM,
        SEARCH_NPROBE,
        SEARCH_TOPK,
        score_query_batch,
    )

    tbl = "spark_graft_ann_crud_serve_test"
    got = maintain_index(
        spark,
        sf_dir,
        tbl,
        N_DELETE_SLICES,
        compact_every=UPSERT_COMPACT_EVERY,
        upsert=True,
        deletes=True,
        cleanup=False,
        carry_vectors=True,
    )
    final_loc = _table_location(spark, tbl)
    try:
        assert got.count() > 0
        emb = load(spark, sf_dir, "embeddings").select(
            "vec_id",
            F.transform("embedding", lambda x: x.cast("double")).alias("e"),
        )
        cents = _ann_cents_relation(emb, derive_ann_cells(sf_dir))

        # the LIVE index rows, vectors included, straight off the
        # maintained artifact: winner per key (max ver), minus keys
        # whose newest delete marker is at or above the winning version
        spark.catalog.refreshTable(tbl)
        w = Window.partitionBy("vec_id").orderBy(F.desc("ver"))
        winners = (
            spark.table(tbl)
            .withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )
        tombs = (
            spark.table(f"{tbl}_tombs")
            .groupBy("vec_id")
            .agg(F.max("ver").alias("__dver"))
        )
        live = (
            winners.join(tombs, "vec_id", "left")
            .filter(F.col("__dver").isNull() | (F.col("__dver") < F.col("ver")))
            .select(
                F.col("vec_id").alias("neighbor_id"),
                "cell",
                F.col("e").alias("ne"),
            )
        )
        queries = emb.filter(F.pmod("vec_id", F.lit(QUERY_MOD)) == QUERY_REM)
        served = {
            (int(r.query_id), int(r.rank), int(r.neighbor_id))
            for r in score_query_batch(queries, cents, live).collect()
        }
        assert served

        con = duckdb.connect()
        con.execute(
            "CREATE VIEW embeddings AS SELECT * FROM "
            f"read_parquet('{sf_dir}/embeddings.parquet')"
        )
        expected = {
            (int(q), int(rk), int(n))
            for q, rk, n in con.execute(
                f"""
    WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    versions AS (
        SELECT vec_id, e, CAST(vec_id % 4 AS INTEGER) AS ver FROM base
        UNION ALL
        SELECT vec_id, list_transform(e, x -> -x) AS e,
               CAST(vec_id % 4 + 2 AS INTEGER) AS ver
        FROM base WHERE vec_id % 4 < 2
    ),
    tombs AS (
        SELECT vec_id, CAST(4 AS INTEGER) AS dver FROM base WHERE vec_id % 4 = 2
    ),
    latest AS (
        SELECT vec_id, e, ver FROM (
            SELECT vec_id, e, ver,
                   ROW_NUMBER() OVER (
                       PARTITION BY vec_id ORDER BY ver DESC
                   ) AS vrn
            FROM versions
        ) WHERE vrn = 1
    ),
    live AS (
        SELECT l.vec_id, l.e FROM latest l
        LEFT JOIN tombs t ON l.vec_id = t.vec_id
        WHERE t.vec_id IS NULL OR t.dver < l.ver
    ),
    cent AS (SELECT vec_id AS cid, e AS ce FROM base WHERE vec_id < {ANN_CELLS_SQL}),
    corpus AS (
        SELECT vec_id AS neighbor_id, e AS ne, cid AS cell FROM (
            SELECT l.vec_id, l.e, c.cid,
                   ROW_NUMBER() OVER (
                       PARTITION BY l.vec_id
                       ORDER BY list_dot_product(l.e, c.ce) /
                                (sqrt(list_dot_product(l.e, l.e)) *
                                 sqrt(list_dot_product(c.ce, c.ce)) + 1e-8) DESC,
                                c.cid
                   ) AS rn
            FROM live l CROSS JOIN cent c
        ) WHERE rn = 1
    ),
    queries AS (
        SELECT vec_id AS query_id, e AS qe FROM base
        WHERE vec_id % {QUERY_MOD} = {QUERY_REM}
    ),
    qcells AS (
        SELECT query_id, qe, cid AS cell FROM (
            SELECT q.query_id, q.qe, c.cid,
                   ROW_NUMBER() OVER (
                       PARTITION BY q.query_id
                       ORDER BY list_dot_product(q.qe, c.ce) /
                                (sqrt(list_dot_product(q.qe, q.qe)) *
                                 sqrt(list_dot_product(c.ce, c.ce)) + 1e-8) DESC,
                                c.cid
                   ) AS rn
            FROM queries q CROSS JOIN cent c
        ) WHERE rn <= {SEARCH_NPROBE}
    ),
    ranked AS (
        SELECT qc.query_id, co.neighbor_id,
               ROW_NUMBER() OVER (
                   PARTITION BY qc.query_id
                   ORDER BY list_dot_product(qc.qe, co.ne) /
                            (sqrt(list_dot_product(qc.qe, qc.qe)) *
                             sqrt(list_dot_product(co.ne, co.ne)) + 1e-8) DESC,
                            co.neighbor_id
               ) AS rank
        FROM qcells qc JOIN corpus co USING (cell)
        WHERE co.neighbor_id != qc.query_id
    )
    SELECT query_id, CAST(rank AS INTEGER) AS rank, neighbor_id
    FROM ranked WHERE rank <= {SEARCH_TOPK}
                """
            ).fetchall()
        }
        con.close()
        assert served == expected
        # the CRUD history actually bit: some deleted key is absent from
        # every served answer
        deleted = {
            int(r.vec_id)
            for r in emb.filter(F.pmod("vec_id", F.lit(4)) == 2)
            .select("vec_id")
            .collect()
        }
        assert deleted and not {n for _, _, n in served} & deleted
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")
        spark.sql(f"DROP TABLE IF EXISTS {tbl}_tombs")
        shutil.rmtree(final_loc, ignore_errors=True)
        import os as _os
        import tempfile as _tempfile

        base = _os.path.join(_tempfile.gettempdir(), "spark_graft_tables", tbl)
        shutil.rmtree(f"{base}_tombs", ignore_errors=True)
        for gen in range(N_DELETE_SLICES + 2):
            shutil.rmtree(f"{base}_gen{gen}", ignore_errors=True)


def test_requantize_alarm_and_control(spark, sf_dir):
    """The staleness actuator's two arms (VERDICT r14 #4): with a
    drifted final slice the per-batch skew alarm fires ON A DRIFT-
    CARRYING BATCH ONLY and the migration runs; with organic arrivals
    only (the control) the alarm stays silent, no migration happens,
    and the index remains the frozen-quantizer assignment."""
    from cqu_bigdata_recommender_system_for_movies_spark.operators.vectors import (
        _ivf_assign_cells,
    )
    from cqu_bigdata_recommender_system_for_movies_spark.streaming.ann_requantize import (
        ANN_SKEW_REFRESH,
        requantize_loop,
    )

    # drift arm: alarm + migration
    audit: list = []
    requantize_loop(
        spark, sf_dir, "spark_graft_ann_requant_drift_test", audit=audit
    )
    alarms = [a for a in audit if a.get("alarm")]
    quiet = [a for a in audit if "alarm" in a and not a["alarm"]]
    assert alarms, audit  # the drifted slice tripped the detector
    assert any(a.get("migrated") for a in audit)  # the actuator ran
    # organic batches sit well under the threshold; alarm batches well over
    assert all(a["cell_skew"] <= ANN_SKEW_REFRESH / 1.5 for a in quiet), audit
    assert all(a["cell_skew"] >= ANN_SKEW_REFRESH * 1.5 for a in alarms), audit

    # control arm: organic-only arrivals — silent detector, no
    # migration, frozen-quantizer assignment preserved
    audit2: list = []
    got = requantize_loop(
        spark,
        sf_dir,
        "spark_graft_ann_requant_control_test",
        audit=audit2,
        drift=False,
    )
    assert not [a for a in audit2 if a.get("alarm")]
    assert not [a for a in audit2 if a.get("migrated")]
    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("e"),
    )
    expected = {
        r.vec_id: r.cells[0]
        for r in _ivf_assign_cells(emb, 1, n_cells=derive_ann_cells(sf_dir))
        .select("vec_id", "cells")
        .collect()
    }
    assert {r.vec_id: r.cell for r in got.collect()} == expected


def test_two_level_assign_agreement(spark, sf_dir):
    """The hierarchical quantizer's approximation dial: two-level
    assignment must agree with the flat argmax on a healthy share of
    vectors (measured curve at the shipped ANN_GROUP_PROBE: 0.58 at
    sf0.001, 0.71 at sf0.1 on near-random synthetic embeddings — real
    clustered embeddings route better). Floor at 0.45: a broken
    grouping (the cid-block variant measured 0.24) or a degenerate
    level-1 ranking fails loudly, while ambient data variation does
    not. Also pins the structural invariants: every vector assigned,
    every assignment a real cell, and the level-2 candidate set is the
    probed groups only."""
    from cqu_bigdata_recommender_system_for_movies_spark.streaming.ann_index import (
        _ann_cents_relation,
        assign_batch,
        derive_ann_cells,
        ivf_two_level_assign,
    )

    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("e"),
    )
    n_cells = derive_ann_cells(sf_dir)
    two = {r.vec_id: r.cell for r in ivf_two_level_assign(spark, sf_dir).collect()}
    cents = _ann_cents_relation(emb, n_cells)
    flat = {r.vec_id: r.cell for r in assign_batch(emb, cents).collect()}
    assert set(two) == set(flat)  # every vector assigned exactly once
    assert all(0 <= c < n_cells for c in two.values())
    agreement = sum(1 for k in flat if two[k] == flat[k]) / len(flat)
    assert agreement >= 0.45, (
        f"two-level/flat agreement {agreement:.3f} below the degeneration "
        "floor — the geometry-aware grouping or level-1 ranking broke"
    )


def test_maintain_index_honors_pinned_width(spark, sf_dir, monkeypatch):
    """ADVICE r15 (high): maintain_index's ``n_cells`` override — the
    documented PROBE-ONLY width pin — was silently ignored: the body
    unconditionally reassigned the derived width, so a "pinned 16-cell"
    decade run actually executed at the derived/capped width. Pin a
    width narrower than the derivation and assert it REACHES the
    quantizer relation (and the written assignment); then assert the
    default path still derives."""
    import cqu_bigdata_recommender_system_for_movies_spark.streaming.ann_index as ai

    pinned = 4
    assert ai.derive_ann_cells(sf_dir) > pinned  # the pin is observable
    seen: list[int] = []
    real = ai._ann_cents_relation

    def spy(emb, n_cells):
        seen.append(int(n_cells))
        return real(emb, n_cells)

    monkeypatch.setattr(ai, "_ann_cents_relation", spy)
    tbl = "spark_graft_ann_pin_test"
    got = ai.maintain_index(spark, sf_dir, tbl, 2, n_cells=pinned)
    assert seen == [pinned]
    cells = {r.cell for r in got.collect()}
    assert cells and cells <= set(range(pinned))
    seen.clear()
    got2 = ai.maintain_index(spark, sf_dir, tbl, 2)
    assert seen == [ai.derive_ann_cells(sf_dir)]
    assert {r.cell for r in got2.collect()} - set(range(pinned))


def test_recover_swap_completes_interrupted_promotion(spark, sf_dir):
    """ADVICE r15 (low): a crash between _swap_generations' two renames
    leaves the COMPLETE new generation under the temp name and no entry
    named ``table`` — a resume that only checked tableExists(table)
    would start a fresh gen0 while the finished generation sat aside.
    Simulate both crash instants and assert recover_swap (run by every
    fresh=False resume) completes the promotion / reclaims the retired
    entry, then is a steady-state no-op."""
    import shutil

    from cqu_bigdata_recommender_system_for_movies_spark.streaming.ann_index import (
        _table_location,
        maintain_index,
        recover_swap,
    )

    tbl = "spark_graft_ann_swap_test"
    got = maintain_index(spark, sf_dir, tbl, 2, cleanup=False)
    want = {r.vec_id: r.cell for r in got.collect()}
    old_loc = _table_location(spark, tbl)
    new_loc = f"{old_loc}_recovered"
    try:
        # crash instant 1: new generation complete under the temp name,
        # live table renamed aside, promotion rename never ran
        shutil.rmtree(new_loc, ignore_errors=True)
        spark.sql(f"DROP TABLE IF EXISTS {tbl}_compacting")
        spark.sql(f"DROP TABLE IF EXISTS {tbl}_retiring")
        (
            spark.table(tbl)
            .write.option("path", new_loc)
            .format("parquet")
            .saveAsTable(f"{tbl}_compacting")
        )
        spark.sql(f"ALTER TABLE {tbl} RENAME TO {tbl}_retiring")
        assert not spark.catalog.tableExists(tbl)

        assert recover_swap(spark, tbl)  # promotion completed
        assert spark.catalog.tableExists(tbl)
        assert not spark.catalog.tableExists(f"{tbl}_compacting")
        assert not spark.catalog.tableExists(f"{tbl}_retiring")
        spark.catalog.refreshTable(tbl)
        assert {r.vec_id: r.cell for r in spark.table(tbl).select("vec_id", "cell").collect()} == want
        import os

        assert not os.path.exists(old_loc)  # retired generation reclaimed

        # crash instant 2: promotion rename ran, retire drop didn't
        stale_loc = f"{new_loc}_stale"
        shutil.rmtree(stale_loc, ignore_errors=True)
        (
            spark.table(tbl)
            .limit(1)
            .write.option("path", stale_loc)
            .format("parquet")
            .saveAsTable(f"{tbl}_retiring")
        )
        assert not recover_swap(spark, tbl)  # nothing to promote...
        assert not spark.catalog.tableExists(f"{tbl}_retiring")  # ...but reclaimed
        assert not os.path.exists(stale_loc)

        # steady state: a pure no-op
        assert not recover_swap(spark, tbl)
        assert spark.catalog.tableExists(tbl)
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")
        spark.sql(f"DROP TABLE IF EXISTS {tbl}_compacting")
        spark.sql(f"DROP TABLE IF EXISTS {tbl}_retiring")
        shutil.rmtree(old_loc, ignore_errors=True)
        shutil.rmtree(new_loc, ignore_errors=True)


def test_requantize_two_level_alarm_and_control(spark, sf_dir):
    """The WIDE lifecycle's two arms (r16 — VERDICT r15 #2): with
    two_level=True the appends, the skew detector, the refresh and the
    migration all run through the hierarchical quantizer at the
    uncapped width. Drift arm: the alarm fires on the drifted batch
    only, and the actuator migrates. Control arm: silent detector, no
    migration, and the final index equals the one-pass two-level
    assignment under the frozen initial quantizer."""
    from cqu_bigdata_recommender_system_for_movies_spark.streaming.ann_index import (
        assign_batch,
        derive_ann_cells_wide,
        two_level_quantizer,
    )
    from cqu_bigdata_recommender_system_for_movies_spark.streaming.ann_requantize import (
        ANN_SKEW_REFRESH,
        requantize_loop,
    )

    audit: list = []
    requantize_loop(
        spark,
        sf_dir,
        "spark_graft_ann_requant2_drift_test",
        audit=audit,
        two_level=True,
    )
    alarms = [a for a in audit if a.get("alarm")]
    quiet = [a for a in audit if "alarm" in a and not a["alarm"]]
    assert alarms, audit
    assert any(a.get("migrated") for a in audit)
    # measured two-level organic band 1.79-2.56 (r16) vs n_cells on the
    # drifted batch — both sides clear the threshold with >= 1.5x margin
    assert all(a["cell_skew"] <= ANN_SKEW_REFRESH / 1.5 for a in quiet), audit
    assert all(a["cell_skew"] >= ANN_SKEW_REFRESH * 1.5 for a in alarms), audit

    audit2: list = []
    got = requantize_loop(
        spark,
        sf_dir,
        "spark_graft_ann_requant2_control_test",
        audit=audit2,
        drift=False,
        two_level=True,
    )
    assert not [a for a in audit2 if a.get("alarm")]
    assert not [a for a in audit2 if a.get("migrated")]
    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("e"),
    )
    quant = two_level_quantizer(emb, derive_ann_cells_wide(sf_dir))
    expected = {r.vec_id: r.cell for r in assign_batch(emb, quant).collect()}
    assert {r.vec_id: r.cell for r in got.collect()} == expected


def _two_level_assign_sql(rel: str, cent_src: str, cells_sql: str, probe: int) -> str:
    """CTE block: two-level assignment of relation ``rel`` (vec_id, e)
    under the quantizer seeded from ``cent_src`` (vec_id, e) — the
    registered oracles' grouped/l1/l2 pipeline, parameterized so tests
    can replay the hierarchical selection over any corpus/seed pair."""
    from cqu_bigdata_recommender_system_for_movies_spark.streaming.ann_index import (
        _group_sql,
    )

    return f"""width AS (SELECT {cells_sql} AS n),
    gw AS (SELECT {_group_sql(cells_sql)} AS g),
    cent AS (
        SELECT vec_id AS cid, e AS ce FROM {cent_src}
        WHERE vec_id < (SELECT n FROM width)
    ),
    reps AS (SELECT cid AS rid, ce AS re FROM cent WHERE cid < (SELECT g FROM gw)),
    grouped AS (
        SELECT cid, ce, rid AS gid FROM (
            SELECT c.cid, c.ce, r.rid,
                   ROW_NUMBER() OVER (
                       PARTITION BY c.cid
                       ORDER BY list_dot_product(c.ce, r.re) /
                                (sqrt(list_dot_product(c.ce, c.ce)) *
                                 sqrt(list_dot_product(r.re, r.re)) + 1e-8) DESC,
                                r.rid
                   ) AS rn
            FROM cent c CROSS JOIN reps r
        ) WHERE rn = 1
    ),
    l1 AS (
        SELECT vec_id, rid AS gid FROM (
            SELECT a.vec_id, r.rid,
                   ROW_NUMBER() OVER (
                       PARTITION BY a.vec_id
                       ORDER BY list_dot_product(a.e, r.re) /
                                (sqrt(list_dot_product(a.e, a.e)) *
                                 sqrt(list_dot_product(r.re, r.re)) + 1e-8) DESC,
                                r.rid
                   ) AS rn
            FROM {rel} a CROSS JOIN reps r
        ) WHERE rn <= {probe}
    ),
    assigned AS (
        SELECT vec_id, cid AS cell, e FROM (
            SELECT a.vec_id, c.cid, a.e,
                   ROW_NUMBER() OVER (
                       PARTITION BY a.vec_id
                       ORDER BY list_dot_product(a.e, c.ce) /
                                (sqrt(list_dot_product(a.e, a.e)) *
                                 sqrt(list_dot_product(c.ce, c.ce)) + 1e-8) DESC,
                                c.cid
                   ) AS rn
            FROM l1 w
            JOIN {rel} a ON a.vec_id = w.vec_id
            JOIN grouped c ON c.gid = w.gid
        ) WHERE rn = 1
    )"""


def test_two_level_serve_of_crud_maintained_index(spark, sf_dir):
    """VERDICT r15 #3: wide-width serving against an index that LIVED
    through the full CRUD history — the WIDE maintenance loop
    (two-level assignment, re-embedding upserts, tombstoned deletes,
    purging compactions, vectors carried) produces the artifact, and
    score_query_batch answers the standard query set from it. Checked
    against an independent DuckDB replay of the post-CRUD live set
    assigned and probed through the hierarchical quantizer."""
    import shutil

    import duckdb
    from pyspark.sql import Window

    from cqu_bigdata_recommender_system_for_movies_spark.streaming.ann_index import (
        ANN_CELLS_WIDE_SQL,
        ANN_GROUP_PROBE,
        N_DELETE_SLICES,
        QUERY_MOD,
        QUERY_REM,
        SEARCH_NPROBE,
        SEARCH_TOPK,
        UPSERT_COMPACT_EVERY,
        _table_location,
        derive_ann_cells_wide,
        maintain_index,
        two_level_quantizer,
    )
    from cqu_bigdata_recommender_system_for_movies_spark.streaming.ann_search import (
        score_query_batch,
    )

    tbl = "spark_graft_ann_crud_serve2_test"
    got = maintain_index(
        spark,
        sf_dir,
        tbl,
        N_DELETE_SLICES,
        compact_every=UPSERT_COMPACT_EVERY,
        upsert=True,
        deletes=True,
        cleanup=False,
        carry_vectors=True,
        two_level=True,
    )
    final_loc = _table_location(spark, tbl)
    try:
        assert got.count() > 0
        emb = load(spark, sf_dir, "embeddings").select(
            "vec_id",
            F.transform("embedding", lambda x: x.cast("double")).alias("e"),
        )
        quant = two_level_quantizer(emb, derive_ann_cells_wide(sf_dir))

        spark.catalog.refreshTable(tbl)
        w = Window.partitionBy("vec_id").orderBy(F.desc("ver"))
        winners = (
            spark.table(tbl)
            .withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )
        tombs = (
            spark.table(f"{tbl}_tombs")
            .groupBy("vec_id")
            .agg(F.max("ver").alias("__dver"))
        )
        live = (
            winners.join(tombs, "vec_id", "left")
            .filter(F.col("__dver").isNull() | (F.col("__dver") < F.col("ver")))
            .select(
                F.col("vec_id").alias("neighbor_id"),
                "cell",
                F.col("e").alias("ne"),
            )
        )
        queries = emb.filter(F.pmod("vec_id", F.lit(QUERY_MOD)) == QUERY_REM)
        served = {
            (int(r.query_id), int(r.rank), int(r.neighbor_id))
            for r in score_query_batch(queries, quant, live).collect()
        }
        assert served

        con = duckdb.connect()
        con.execute(
            "CREATE VIEW embeddings AS SELECT * FROM "
            f"read_parquet('{sf_dir}/embeddings.parquet')"
        )
        # live post-CRUD corpus assigned two-level under the initial
        # quantizer (seeds = the ORIGINAL embedding prefix — the loop
        # froze it before any upsert arrived), then the query-side
        # hierarchical probe and the exact cosine top-k
        expected = {
            (int(q), int(rk), int(n))
            for q, rk, n in con.execute(
                f"""
    WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    versions AS (
        SELECT vec_id, e, CAST(vec_id % 4 AS INTEGER) AS ver FROM base
        UNION ALL
        SELECT vec_id, list_transform(e, x -> -x) AS e,
               CAST(vec_id % 4 + 2 AS INTEGER) AS ver
        FROM base WHERE vec_id % 4 < 2
    ),
    tombs AS (
        SELECT vec_id, CAST(4 AS INTEGER) AS dver FROM base WHERE vec_id % 4 = 2
    ),
    latest AS (
        SELECT vec_id, e, ver FROM (
            SELECT vec_id, e, ver,
                   ROW_NUMBER() OVER (
                       PARTITION BY vec_id ORDER BY ver DESC
                   ) AS vrn
            FROM versions
        ) WHERE vrn = 1
    ),
    live AS (
        SELECT l.vec_id, l.e FROM latest l
        LEFT JOIN tombs t ON l.vec_id = t.vec_id
        WHERE t.vec_id IS NULL OR t.dver < l.ver
    ),
    {_two_level_assign_sql("live", "base", ANN_CELLS_WIDE_SQL, ANN_GROUP_PROBE)},
    corpus AS (
        SELECT vec_id AS neighbor_id, e AS ne, cell FROM assigned
    ),
    queries AS (
        SELECT vec_id AS query_id, e AS qe FROM base
        WHERE vec_id % {QUERY_MOD} = {QUERY_REM}
    ),
    query_l1 AS (
        SELECT query_id, qe, rid AS gid FROM (
            SELECT q.query_id, q.qe, r.rid,
                   ROW_NUMBER() OVER (
                       PARTITION BY q.query_id
                       ORDER BY list_dot_product(q.qe, r.re) /
                                (sqrt(list_dot_product(q.qe, q.qe)) *
                                 sqrt(list_dot_product(r.re, r.re)) + 1e-8) DESC,
                                r.rid
                   ) AS rn
            FROM queries q CROSS JOIN reps r
        ) WHERE rn <= {ANN_GROUP_PROBE}
    ),
    qcells AS (
        SELECT query_id, qe, cid AS cell FROM (
            SELECT w.query_id, w.qe, c.cid,
                   ROW_NUMBER() OVER (
                       PARTITION BY w.query_id
                       ORDER BY list_dot_product(w.qe, c.ce) /
                                (sqrt(list_dot_product(w.qe, w.qe)) *
                                 sqrt(list_dot_product(c.ce, c.ce)) + 1e-8) DESC,
                                c.cid
                   ) AS rn
            FROM query_l1 w
            JOIN grouped c ON c.gid = w.gid
        ) WHERE rn <= {SEARCH_NPROBE}
    ),
    ranked AS (
        SELECT qc.query_id, co.neighbor_id,
               ROW_NUMBER() OVER (
                   PARTITION BY qc.query_id
                   ORDER BY list_dot_product(qc.qe, co.ne) /
                            (sqrt(list_dot_product(qc.qe, qc.qe)) *
                             sqrt(list_dot_product(co.ne, co.ne)) + 1e-8) DESC,
                            co.neighbor_id
               ) AS rank
        FROM qcells qc JOIN corpus co USING (cell)
        WHERE co.neighbor_id != qc.query_id
    )
    SELECT query_id, CAST(rank AS INTEGER) AS rank, neighbor_id
    FROM ranked WHERE rank <= {SEARCH_TOPK}
                """
            ).fetchall()
        }
        con.close()
        assert served == expected
        deleted = {
            int(r.vec_id)
            for r in emb.filter(F.pmod("vec_id", F.lit(4)) == 2)
            .select("vec_id")
            .collect()
        }
        assert deleted and not {n for _, _, n in served} & deleted
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")
        spark.sql(f"DROP TABLE IF EXISTS {tbl}_tombs")
        shutil.rmtree(final_loc, ignore_errors=True)


def test_derive_fold_parts_never_one(spark):
    """VERDICT r16 #4: derive_fold_parts must never return 1 — a
    repartition(1) pays a full exchange to SERIALIZE the assignment,
    strictly worse than skipping it. 25k rows (inside the old 20k-40k
    ==1 band) now skips; small batches skip; big batches still fan out
    capped at machine width; unknown stays None."""
    from cqu_bigdata_recommender_system_for_movies_spark.streaming.ann_index import (
        ASSIGN_ROWS_PER_TASK,
        derive_fold_parts,
    )

    assert derive_fold_parts(spark, None) is None
    assert derive_fold_parts(spark, 100) == 0
    assert derive_fold_parts(spark, 25_000) == 0  # the old ==1 band
    assert derive_fold_parts(spark, ASSIGN_ROWS_PER_TASK * 2) == 2
    big = derive_fold_parts(spark, 10_000_000)
    width = max(
        int(spark.conf.get("spark.sql.shuffle.partitions")),
        spark.sparkContext.defaultParallelism,
    )
    assert big == width
    for rows in (0, 1, 19_999, 25_000, 39_999, 40_000, 10_000_000):
        assert derive_fold_parts(spark, rows) != 1, rows
