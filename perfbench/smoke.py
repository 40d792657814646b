"""The benchmark's own test: every workload once on tiny data.

    python3 perfbench/smoke.py

Runs each workload (stream_ingest too) at sf0.001 with `--trace 0` and `--trace 1` and fails
(exit 1) if a run fails, an output check fails, or a metric named in
BENCHMARK.json or a per-workload name in README.md is missing. About
six minutes on four cores.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# the per-workload names each run's details line must carry
NAMED = {
    "analytics_mix": ("analytics_qpm", "analytics_query_p50_s", "analytics_query_tail_s"),
    "recommender_lifecycle": ("lifecycle_s", "serve_batch_p50_s", "serve_batch_tail_s"),
    "stream_ingest": ("ingest_events_per_s", "ingest_batch_p50_s", "ingest_batch_tail_s"),
}
COMMON = ("ops_attempted", "ops_failed_frac")


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    wanted = {0: [m["name"] for m in bench["end_to_end"]],
              1: [m["name"] for m in bench["per_layer"]]}
    problems = []
    # every workload run.py offers, stream_ingest included, though
    # BENCHMARK.json times only some of them (README.md, "Sizing")
    for w in NAMED:
        for trace in (0, 1):
            cmd = bench["command"] + ["--workload", w, "--seed", "1", "--seconds", "0",
                                      "--trace", str(trace), "--sf", "0.001"]
            p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
            lines = p.stdout.strip().splitlines()
            if p.returncode != 0 or len(lines) < 2:
                problems.append(f"{w} trace={trace}: exit {p.returncode}\n{p.stderr[-3000:]}")
                continue
            details, result = json.loads(lines[-2]), json.loads(lines[-1])
            if set(result) != {"correct", "attempted", "failed", "metrics"}:
                problems.append(f"{w} trace={trace}: result keys {sorted(result)}")
            if not result["correct"] or result["failed"]:
                problems.append(f"{w} trace={trace}: {result['failed']} of "
                                f"{result['attempted']} ops failed")
            missing = [m for m in wanted[trace] if m not in result["metrics"]]
            missing += [m for m in NAMED[w] + COMMON if m not in details["named"]]
            if missing:
                problems.append(f"{w} trace={trace}: missing {missing}")
            print(f"{w} trace={trace}: ok={not missing and result['correct']}", flush=True)
    for p in problems:
        print(p, file=sys.stderr)
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
