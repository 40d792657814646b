"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload analytics_mix --seed 1 --seconds 15 --trace 0

Run from the repository root. The last line of stdout is one JSON object
with `correct`, `attempted`, `failed` and `metrics`; the line before it
holds the details (every metric under the names README.md lists, tail
quantiles with their sample counts, host load). `--trace 0` reports the
end-to-end metrics, `--trace 1` the per-layer ones. See README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import signal
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import harness  # noqa: E402

WORKLOADS = ("analytics_mix", "recommender_lifecycle", "stream_ingest")
# The input tables: byte-for-byte copies of the engine's seed-42 reference
# tables, one directory per scale factor (README.md, "Data"). Each run
# starts its own JVM and has about a minute with set-up, which rules out
# sf0.1 (one cold lifecycle alone takes about 58 s there; README.md,
# "Sizing").
DATA = os.path.join(HERE, "data")
SCALES = ("0.01", "0.001")
DEFAULT_SF = "0.01"
WARM_SF = "0.001"
# Set-up: start a session and run SETUP_QUERY, a registered query outside
# every mix, on WARM_SF data; it is repeated SETUPS times in one JVM
# (README.md, "End-to-end metrics"). The untimed warm-up then runs
# WARM_QUERY, a grouped pandas UDF, which starts the Python workers.
SETUP_QUERY = "global_stats"
WARM_QUERY = "grouped_map_zscore"
SETUPS = 4
# The engine's get_spark defaults to an 8 GB driver heap; the benchmark
# runs 2 GB, which holds sf0.01 many times over, so that a run fits on a
# host whose memory is shared. harness.RunDir also pins -Xms to it.
DRIVER_MEM = "2g"


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


class Context:
    """What a workload needs: the session, its inputs and the observers."""

    def __init__(self, spark, data_dir: str, scratch: str, listener):
        self.spark = spark
        self.data_dir = data_dir
        self.scratch = scratch
        self.listener = listener
        self.counters = None
        self.tracer = harness.Tracer(False)
        self.log = log


def make_workload(name: str, ctx):
    if name == "analytics_mix":
        from analytics import AnalyticsMix as cls
    elif name == "recommender_lifecycle":
        from lifecycle import RecommenderLifecycle as cls
    else:
        from ingest import StreamIngest as cls
    return cls(ctx)


def set_up(app_name: str, data_dir: str):
    """Set up SETUPS times: start a session through the engine's factory
    and run SETUP_QUERY. Every set-up but the last stops its session
    again; the JVM stays, so the first set-up alone pays its launch.
    Returns the last session and each set-up's time."""
    from cqu_bigdata_recommender_system_for_movies_spark.plans.registry import all_queries

    setup_s = []
    for i in range(SETUPS):
        t0 = time.perf_counter()
        spark = harness.start_session(app_name)
        all_queries()[SETUP_QUERY](spark, data_dir).collect()
        setup_s.append(time.perf_counter() - t0)
        if i < SETUPS - 1:
            spark.stop()
    return spark, setup_s


def warm_up(spark, data_dir: str) -> float:
    """Run WARM_QUERY once and bring its rows back as Arrow, which starts
    the Python workers and the Arrow result path; returns the time
    taken."""
    from cqu_bigdata_recommender_system_for_movies_spark.plans.registry import all_queries

    t0 = time.perf_counter()
    all_queries()[WARM_QUERY](spark, data_dir).toArrow()
    return time.perf_counter() - t0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", choices=SCALES, default=DEFAULT_SF,
                    help="scale factor of the input tables")
    args = ap.parse_args(argv)

    # The engine under test lives beside this directory; without it there
    # is nothing to measure.
    sys.path.insert(0, ROOT)
    try:
        import cqu_bigdata_recommender_system_for_movies_spark.session  # noqa: F401
    except ImportError as e:
        log(f"engine package not importable from {ROOT}: {e}")
        return 2

    import metrics

    os.environ["TZ"] = "UTC"
    time.tzset()
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(harness.cpu_count()))
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", DRIVER_MEM)
    host = {"nproc": harness.cpu_count(), "load1_start": harness.load_1min(),
            "spark_cpus": os.environ["SPARK_GRAFT_CPUS"]}
    ticks_start = harness.cpu_ticks()

    with harness.RunDir(os.path.join(ROOT, ".perfbench"), os.environ["SPARK_GRAFT_DRIVER_MEM"]) as rd:
        # private copies: nothing a run writes can reach the committed tables
        t0 = time.perf_counter()
        data_dir = shutil.copytree(os.path.join(DATA, f"sf{args.sf}"), os.path.join(rd.data, "main"))
        warm_dir = shutil.copytree(os.path.join(DATA, f"sf{WARM_SF}"), os.path.join(rd.data, "warm"))
        data_s = time.perf_counter() - t0

        with harness.RssSampler() as rss:
            spark = None
            try:
                spark, setup_reps = set_up(f"perfbench-{args.workload}", warm_dir)
                listener = harness.make_stream_listener()
                spark.streams.addListener(listener)
                ctx = Context(spark, data_dir, rd.tmp, listener)
                t0 = time.perf_counter()
                workload = make_workload(args.workload, ctx)  # oracles: untimed
                prep_s = time.perf_counter() - t0
                warm_s = warm_up(spark, warm_dir)
                # untimed passes of the workload itself: an op's first call in
                # a session compiles its generated code and JIT-compiles the
                # engine paths it takes, which the measured passes then find
                # done
                t0 = time.perf_counter()
                warm_rng = random.Random(f"warm-{args.seed}")
                warm_ops = [op for _ in range(workload.warm_passes)
                            for op in workload.run_pass(warm_rng)["ops"]]
                warm_pass_s = time.perf_counter() - t0

                if args.trace:
                    ctx.counters = harness.SparkCounters(spark)
                    ctx.tracer = harness.Tracer(True)
                rng = random.Random(args.seed)
                passes = []
                t_window = time.perf_counter()
                while (len(passes) < workload.min_passes
                       or time.perf_counter() - t_window < args.seconds):
                    passes.append(workload.run_pass(rng))
            finally:
                t0 = time.perf_counter()
                harness.stop_session(spark)
                stop_s = time.perf_counter() - t0
        host["load1_end"] = harness.load_1min()
        host["steal_frac"] = harness.steal_frac(ticks_start, harness.cpu_ticks())

        ops = [op for p in passes for op in p["ops"]]
        # a wrong answer in a warm-up pass is a wrong answer too
        failed = sum(not op["ok"] for op in ops + warm_ops)
        e2e, named = metrics.end_to_end(args.workload, passes)
        e2e["setup_s"] = harness.median(setup_reps)
        details = {
            "workload": args.workload, "seed": args.seed, "sf": args.sf,
            "passes": len(passes), "host": host,
            "untimed_s": {"data": data_s, "prepare": prep_s, "stop": stop_s},
            "setup_reps_s": setup_reps,
            "warm_s": warm_s,
            "warm_passes": workload.warm_passes,
            "warm_pass_s": warm_pass_s,
            "peak_rss_mb": rss.peak_mb,
            "named": named | {"ops_attempted": len(ops) + len(warm_ops),
                              "ops_failed_frac": failed / (len(ops) + len(warm_ops))},
            "ops": [[op["name"], op["s"], op["cpu_s"], op["jit_s"], op["steal"], op["ok"]] for op in ops],
        }
        if args.trace:
            layer = metrics.per_layer(args.workload, passes, ctx.tracer)
            layer["session.start_s"] = setup_reps[0]  # the one that launched the JVM
            layer["session.warm_s"] = warm_s
            layer["driver.peak_rss_mb"] = rss.peak_mb
            # what recording spans and reading counters cost, against the pass
            layer["trace_overhead_frac"] = (
                (ctx.tracer.overhead_s + ctx.counters.overhead_s)
                / sum(p["pass_s"] for p in passes))
            trace_path = os.path.join(
                ROOT, ".perfbench", "traces", f"{args.workload}-{args.seed}-{ctx.tracer.run_id}.json")
            ctx.tracer.dump(trace_path)
            details["trace_file"] = os.path.relpath(trace_path, ROOT)
            values = layer
            units = metrics.LAYER_UNITS
        else:
            values = e2e
            units = metrics.E2E_UNITS
    print(json.dumps(details))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(ops) + len(warm_ops),
        "failed": failed,
        "metrics": {k: {"value": values[k], "unit": units[k]} for k in units},
    }))
    return 0


if __name__ == "__main__":
    # a terminated run still stops its JVM and removes its run directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        sys.exit(main())
    except Exception:
        traceback.print_exc()
        sys.exit(1)
