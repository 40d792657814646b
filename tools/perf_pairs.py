"""Run alternating parent/change pairs of the benchmark for one workload.

    python3 tools/perf_pairs.py --workload recommender_lifecycle \\
        --pairs 10 --seed 301 [--parent HEAD] [--trace 0]

The change is this checkout's working tree (tracked and untracked files
that are not ignored); the parent is the committed tree of ``--parent``.
Each side runs from its own ``git archive`` extraction in a temporary
directory, removed afterwards, so neither side reuses the checkout's
build or run leftovers. Pair i runs seed + i on both sides
with the same ``--seconds`` (BENCHMARK.json's ``run_seconds``) and trace
setting, and alternates which side runs first. For every metric in the
runs' result lines it prints each side's median and quartiles and the
share of pairs the change won (ties count for neither), then applies the
claim rule: the change wins at least 9 of 10 pairs and the medians
differ by more than the parent's interquartile range. A run that exits
non-zero is recorded with the tail of its stderr and the pairs go on;
its pair drops out of the statistics, the "failed ops per run" line
shows its exit status, no claim is reported as met and the tool exits 1.
The benchmark is only run, never modified.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run_once(cwd: str, workload: str, seed: int, seconds: float, trace: int) -> dict:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    proc = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True)
    if proc.returncode != 0:
        return {"exit": proc.returncode, "stderr": proc.stderr[-3000:]}
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    return {"failed": result["failed"], "correct": result["correct"],
            **{k: m["value"] for k, m in result["metrics"].items()}}


def failed_ops(r: dict):
    """The run's failed-op count, or its exit status if the run failed."""
    return f"exit {r['exit']}" if "exit" in r else r["failed"]


def extract(tree: str, dest: str) -> None:
    archive = subprocess.run(["git", "archive", tree], cwd=ROOT,
                             capture_output=True, check=True).stdout
    subprocess.run(["tar", "-x", "-C", dest], input=archive, check=True)


def worktree_tree(tmp_dir: str) -> str:
    """Tree id of the working tree, staged through a private index file."""
    env = dict(os.environ, GIT_INDEX_FILE=os.path.join(tmp_dir, "index"))
    subprocess.run(["git", "add", "-A"], cwd=ROOT, env=env, check=True)
    return subprocess.run(["git", "write-tree"], cwd=ROOT, env=env, check=True,
                          capture_output=True, text=True).stdout.strip()


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed", type=int, required=True, help="seed of the first pair")
    ap.add_argument("--parent", default="HEAD", help="git revision of the parent")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    better = {m["name"]: m["better"] for m in bench["end_to_end"] + bench.get("per_layer", [])}

    runs: dict[str, list[dict]] = {"parent": [], "change": []}
    with tempfile.TemporaryDirectory(prefix="perf_pairs_") as tmp:
        dirs = {side: os.path.join(tmp, side) for side in runs}
        for d in dirs.values():
            os.mkdir(d)
        extract(args.parent, dirs["parent"])
        extract(worktree_tree(tmp), dirs["change"])
        for i in range(args.pairs):
            seed = args.seed + i
            order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
            for side in order:
                r = run_once(dirs[side], args.workload, seed, bench["run_seconds"], args.trace)
                runs[side].append(r)
                if "exit" in r:
                    print(f"pair {i + 1} seed {seed} {side}: run failed, exit {r['exit']}:\n"
                          f"{r['stderr']}", file=sys.stderr, flush=True)
                    continue
                print(f"pair {i + 1} seed {seed} {side}: failed={r['failed']} "
                      + " ".join(f"{k}={r[k]:.4g}" for k in sorted(r)
                                 if k in better), file=sys.stderr, flush=True)

    n = args.pairs
    done = [(p, c) for p, c in zip(runs["parent"], runs["change"])
            if "exit" not in p and "exit" not in c]
    print(f"{args.workload}: {n} pairs ({len(done)} complete), seeds "
          f"{args.seed}-{args.seed + n - 1}, parent {args.parent}, trace {args.trace}")
    print("failed ops per run: parent", [failed_ops(r) for r in runs["parent"]],
          "change", [failed_ops(r) for r in runs["change"]])
    if not done:
        return 1
    print(f"{'metric':36} {'parent q1/med/q3':>28} {'change q1/med/q3':>28} "
          f"{'delta':>8} {'won':>6}  claim")
    for name in sorted(k for k in done[0][0] if k in better):
        p = [pr[name] for pr, _ in done]
        c = [cr[name] for _, cr in done]
        sign = 1 if better[name] == "lower" else -1
        won = sum(sign * (pv - cv) > 0 for pv, cv in zip(p, c))
        (p1, pm, p3), (c1, cm, c3) = quartiles(p), quartiles(c)
        delta = (cm - pm) / pm if pm else float("nan")
        claim = len(done) == n and won >= 0.9 * n and sign * (pm - cm) > (p3 - p1)
        print(f"{name:36} {p1:9.4g}/{pm:9.4g}/{p3:9.4g} {c1:9.4g}/{cm:9.4g}/{c3:9.4g} "
              f"{delta:+8.1%} {won:>2}/{len(done):<3}  {'yes' if claim else 'no'}")
    return 0 if len(done) == n else 1


if __name__ == "__main__":
    sys.exit(main())
