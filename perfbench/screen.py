"""Cache screen for analytics_mix candidates.

A query whose repeat call is served by an in-process cache (a
module-level dict, a checkpoint kept from the first call) would measure
the cache, not the work, when the benchmark repeats it. This tool runs
each candidate three times in one fresh session and prints first and
repeat times, the result size, and whether the result matches the
query's DuckDB oracle. A query is flagged when its first call grows one
of the engine's module-level `*_CACHE` dicts, or when a repeat is faster
than CACHED_RATIO of the first call.

    python3 perfbench/screen.py [--data DIR] [query ...]

DIR holds the engine's parquet tables (default: the benchmark's own
sf0.01 copy). With no query names it screens the current mix
(analytics.QUERIES).
"""

from __future__ import annotations

import argparse
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
sys.path.insert(0, HERE)

import analytics  # noqa: E402
import harness  # noqa: E402

# First-call JIT and codegen warm-up alone measured repeat/first ratios
# of 0.45-0.9 on warm sessions; cache-served repeats measured below 0.05.
CACHED_RATIO = 0.25


def cache_sizes() -> dict[str, int]:
    """Size of every module-level `*_CACHE` dict in the engine package."""
    out = {}
    for name, mod in list(sys.modules.items()):
        if name.startswith("cqu_bigdata_recommender_system_for_movies_spark"):
            for attr, val in vars(mod).items():
                if attr.endswith("_CACHE") and isinstance(val, dict):
                    out[f"{name.rsplit('.', 1)[-1]}.{attr}"] = len(val)
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--data", default=os.path.join(HERE, "data", "sf0.01"))
    ap.add_argument("queries", nargs="*")
    args = ap.parse_args()
    names = args.queries or list(analytics.QUERIES)

    from cqu_bigdata_recommender_system_for_movies_spark.plans.registry import all_queries

    registry = all_queries()
    root = os.path.join(os.path.dirname(HERE), ".perfbench")
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(harness.cpu_count()))
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    with harness.RunDir(root, os.environ["SPARK_GRAFT_DRIVER_MEM"]) as rd:
        data = os.path.abspath(args.data)
        spark = harness.start_session("perfbench-screen")
        try:
            # one throwaway query so JVM start-up is not charged to the first name
            registry["global_stats"](spark, data).collect()
            for name in names:
                t0 = time.perf_counter()
                expected = analytics.expected_results(data, [name])[name]
                oracle_s = time.perf_counter() - t0
                times, match, n_rows = [], True, 0
                before = cache_sizes()
                for i in range(3):
                    t0 = time.perf_counter()
                    result = registry[name](spark, data).toArrow()
                    times.append(time.perf_counter() - t0)
                    n_rows = result.num_rows
                    match &= analytics.canonical(result).equals(expected)
                    if i == 0:
                        grown = [k for k, n in cache_sizes().items() if n > before.get(k, 0)]
                repeat = min(times[1:])
                cached = grown or repeat < CACHED_RATIO * times[0]
                flag = f"CACHED {','.join(grown)}" if cached else "ok"
                print(
                    f"{name:32s} {analytics.family(registry[name]):10s} "
                    f"first {times[0]:6.2f}s repeats {times[1]:6.2f}s {times[2]:6.2f}s "
                    f"ratio {repeat / times[0]:4.2f} rows {n_rows:6d} "
                    f"oracle {'match' if match else 'MISMATCH'} ({oracle_s:.2f}s) {flag}",
                    flush=True,
                )
        finally:
            harness.stop_session(spark)
    return 0


if __name__ == "__main__":
    sys.exit(main())
