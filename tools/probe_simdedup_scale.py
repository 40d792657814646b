"""State-growth probe for streaming_simhash_dedup (VERDICT r10 #2).

The registered query's memory sink collects the full emission stream, so
past ~10x the harness — not the engine — is the bound. This probe runs
ONLY the engine side: it stages a documents replica as N slice files,
runs the fingerprint -> banding -> sharded stateful detector with a
foreachBatch counting sink (nothing collected), and records per
micro-batch what actually matters for the 100-TB verdict on this
component:

- addBatch wall time        (does per-batch cost grow with corpus?)
- state rows / state bytes  (does state grow with DISTINCT fps or with
                             members? fp-collapse means the former)
- emission rows             (direct pairs + group corrections)

Usage:
    python tools/scale_testdata.py /root/testdata/sf0.1 /tmp/sf100x_docs 1000 documents
    python tools/probe_simdedup_scale.py /tmp/sf100x_docs [n_slices]

Prints one JSON line per micro-batch and a summary line.
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
from cqu_bigdata_recommender_system_for_movies_spark.tables import load


ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)


def main() -> None:
    args = [a for a in sys.argv[1:] if a != "--rocksdb"]
    rocksdb = "--rocksdb" in sys.argv[1:]
    sf_dir = args[0] if args else "/tmp/sf100x_docs"
    n_slices = int(args[1]) if len(args) > 1 else 10

    spark = get_spark("simdedup-scale-probe")
    if rocksdb:
        # providerClass is read at query START (pinned by
        # tests/test_streaming_extras.py), so a session-level set here
        # governs the probe run — the production state-paging config
        spark.conf.set(
            "spark.sql.streaming.stateStore.providerClass", ROCKSDB_PROVIDER
        )
        print(json.dumps({"state_store": "rocksdb"}), flush=True)
    from cqu_bigdata_recommender_system_for_movies_spark.streaming.queries import (
        STREAM_STATE_PARTITIONS,
        _stream_state_partitions,
        replay,
        stage_slices,
    )
    from cqu_bigdata_recommender_system_for_movies_spark.streaming.simdedup import (
        dedup_stream,
    )

    sliced = load(spark, sf_dir, "documents").withColumn(
        "slice", F.pmod("doc_id", F.lit(n_slices)).cast("int")
    )
    stage_dir = tempfile.mkdtemp(prefix="simdedup_probe_src_")
    t0 = time.perf_counter()
    stage_slices(sliced, "slice", n_slices, stage_dir)
    print(
        json.dumps({"staged_sec": round(time.perf_counter() - t0, 1)}), flush=True
    )

    stream = replay(spark, stage_dir, sliced.schema).drop("slice")

    emitted = {"rows": 0, "per_batch": {}}

    def count_only(batch_df, batch_id):
        n = batch_df.count()
        emitted["rows"] += n
        emitted["per_batch"][int(batch_id)] = n

    t0 = time.perf_counter()
    # ADVICE r13: pin the pre-r13 default (8) explicitly — the helper's
    # no-arg call became scale-aware in r13 and would fan out to
    # min(256, cores) here, breaking comparability with the recorded
    # baselines (SCALE_r11/r12 simdedup rows, all taken at 8).
    # SPARK_GRAFT_STATE_PARTITIONS still overrides for fan-out probes.
    n_state = int(
        os.environ.get("SPARK_GRAFT_STATE_PARTITIONS", STREAM_STATE_PARTITIONS)
    )
    with _stream_state_partitions(spark, n=n_state):
        q = (
            dedup_stream(stream)
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

    curve = []
    for p in progress:
        state = (p.get("stateOperators") or [{}])[0]
        row = {
            "batch": p.get("batchId"),
            "input_rows": p.get("numInputRows"),
            "add_batch_ms": (p.get("durationMs") or {}).get("addBatch"),
            "state_rows": state.get("numRowsTotal"),
            "state_mb": round((state.get("memoryUsedBytes") or 0) / 1e6, 1),
            "updates_ms": state.get("allUpdatesTimeMs"),
            "commit_ms": state.get("commitTimeMs"),
            "emitted": emitted["per_batch"].get(p.get("batchId")),
        }
        curve.append(row)
        print(json.dumps(row), flush=True)
    print(
        json.dumps(
            {
                "sf_dir": sf_dir,
                "n_slices": n_slices,
                "total_sec": total,
                "emitted_rows": emitted["rows"],
                "batches": len(curve),
            }
        )
    )


if __name__ == "__main__":
    main()
