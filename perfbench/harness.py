"""Run isolation, session lifetime and measurement helpers.

Everything here observes the engine from outside: it calls the engine's
public session factory, tags jobs with `setJobGroup`, reads Spark's
`statusTracker()` and registers a `StreamingQueryListener`. Nothing in
the engine is patched.
"""

from __future__ import annotations

import math
import os
import shutil
import statistics
import tempfile
import threading
import time
import uuid
from contextlib import contextmanager

# A tail is the highest whole percentile with at least TAIL_BEYOND samples
# above it.
TAIL_BEYOND = 10


def cpu_count() -> int:
    return len(os.sched_getaffinity(0))


def load_1min() -> float:
    return os.getloadavg()[0]


def cpu_ticks() -> list[int]:
    """The host's cumulative CPU time per state (user, nice, system, idle,
    iowait, irq, softirq, steal, ...), in clock ticks, from /proc/stat."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_frac(start: list[int], end: list[int]) -> float:
    """The share of CPU time between two `cpu_ticks` readings that the
    hypervisor gave to other guests. The load average cannot show a noisy
    neighbour while the run itself keeps every core busy; steal can."""
    delta = [b - a for a, b in zip(start, end)]
    return delta[7] / sum(delta[:8]) if sum(delta[:8]) else 0.0


def _read_stat(path: str) -> tuple[str, list[str]] | None:
    """(comm, the fields after it) of a /proc stat file; None once the
    process or thread has gone."""
    try:
        with open(path) as f:
            s = f.read()
    except OSError:
        return None
    head, _, rest = s.rpartition(")")
    return head.partition("(")[2], rest.split()


def _ticks(fields: list[str], children: bool) -> int:
    # utime, stime and, for a process, cutime and cstime: the time of
    # children it has waited for (a Python worker that exited)
    return sum(int(x) for x in fields[11:15 if children else 13])


# HotSpot's JIT compiler threads ("C1 CompilerThread0", "C2 Compiler...")
JIT_THREAD = "CompilerThre"


def tree_cpu() -> tuple[float, float]:
    """CPU seconds used so far by this process and every process under it
    (the PySpark client, the driver JVM, its Python workers), split into
    (all but the JIT compiler threads, the JIT compiler threads).

    Time the hypervisor gave to other guests is steal, not CPU time of
    these processes, so the first figure does not grow with a noisy
    neighbour the way wall time does. JIT compilation is kept apart: it is
    warm-up work that runs on background threads and lands on whichever
    op happens to be running. The JVM must keep its compiler threads alive
    (RunDir's -XX:-UseDynamicNumberOfCompilerThreads): the time of a
    thread that exited stays in its process's total but leaves the JIT
    sum."""
    parent: dict[int, int] = {}
    ticks: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            st = _read_stat(f"/proc/{d}/stat")
            if st is not None:
                parent[int(d)] = int(st[1][1])
                ticks[int(d)] = _ticks(st[1], children=True)
    kids: dict[int, list[int]] = {}
    for pid, ppid in parent.items():
        kids.setdefault(ppid, []).append(pid)
    total = jit = 0
    stack = [os.getpid()]
    while stack:
        pid = stack.pop()
        total += ticks.get(pid, 0)
        stack.extend(kids.get(pid, ()))
        try:
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue
        for tid in tids:
            st = _read_stat(f"/proc/{pid}/task/{tid}/stat")
            if st is not None and JIT_THREAD in st[0]:
                jit += _ticks(st[1], children=False)
    hz = os.sysconf("SC_CLK_TCK")
    return (total - jit) / hz, jit / hz


class OpClock:
    """Over one op: wall time `s`, CPU time `cpu_s` and JIT compile time
    `jit_s` of the process tree (see `tree_cpu`), and the host's `steal`
    share. The readings are taken outside the wall-clock window."""

    def __enter__(self) -> "OpClock":
        self._ticks = cpu_ticks()
        self._cpu = tree_cpu()
        self._t0 = time.perf_counter()
        return self

    def __exit__(self, *exc) -> None:
        self.s = time.perf_counter() - self._t0
        cpu, jit = tree_cpu()
        self.cpu_s, self.jit_s = cpu - self._cpu[0], jit - self._cpu[1]
        self.steal = steal_frac(self._ticks, cpu_ticks())


def median(values) -> float:
    return statistics.median(values) if values else float("nan")


def tail(values) -> dict:
    """The highest whole percentile with at least TAIL_BEYOND samples
    beyond it, with the quantile used and the sample count. With too few
    samples for that percentile to reach the median: the maximum, flagged
    with quantile 1.0."""
    xs = sorted(values)
    n = len(xs)
    pct = math.floor(100 * (n - TAIL_BEYOND) / n) if n else 0
    if pct < 50:
        return {"value": xs[-1] if xs else float("nan"), "quantile": 1.0, "n": n}
    # nearest-rank percentile
    return {"value": xs[math.ceil(pct * n / 100) - 1], "quantile": pct / 100, "n": n}


class RunDir:
    """A private scratch tree for one run, removed when the run ends.

    The engine stages streams, tables and checkpoints under
    `tempfile.gettempdir()` and Spark writes under its warehouse and local
    dirs; pointing all of them here keeps concurrent or successive runs
    from seeing each other's files."""

    def __init__(self, root: str, heap: str):
        os.makedirs(root, exist_ok=True)
        self.heap = heap
        self.path = tempfile.mkdtemp(prefix=f"run-{os.getpid()}-", dir=root)
        self.tmp = os.path.join(self.path, "tmp")
        self.warehouse = os.path.join(self.path, "warehouse")
        self.local = os.path.join(self.path, "local")
        self.data = os.path.join(self.path, "data")
        for d in (self.tmp, self.warehouse, self.local, self.data):
            os.makedirs(d)
        self._saved_env: dict[str, str | None] = {}

    def __enter__(self) -> "RunDir":
        env = {
            "TMPDIR": self.tmp,
            "SPARK_LOCAL_DIRS": self.local,
            # split with shlex by PySpark
            "PYSPARK_SUBMIT_ARGS": " ".join(
                [
                    f"--conf spark.sql.warehouse.dir={self.warehouse}",
                    f"--conf spark.local.dir={self.local}",
                    # the heap starts at its maximum size, so resident memory
                    # does not depend on when the collector grows it; the JIT
                    # compiler threads all start with the JVM and none exits,
                    # so `tree_cpu` can read their time from the live threads
                    f"--conf 'spark.driver.extraJavaOptions=-Djava.io.tmpdir={self.tmp} "
                    f"-Xms{self.heap} -XX:-UseDynamicNumberOfCompilerThreads'",
                    "--conf spark.ui.showConsoleProgress=false",
                    "pyspark-shell",
                ]
            ),
        }
        for k, v in env.items():
            self._saved_env[k] = os.environ.get(k)
            os.environ[k] = v
        tempfile.tempdir = self.tmp
        return self

    def __exit__(self, *exc) -> None:
        tempfile.tempdir = None
        for k, v in self._saved_env.items():
            if v is None:
                os.environ.pop(k, None)
            else:
                os.environ[k] = v
        shutil.rmtree(self.path, ignore_errors=True)


def start_session(app_name: str):
    """The engine's own session factory, quiet logs."""
    from cqu_bigdata_recommender_system_for_movies_spark.session import get_spark

    spark = get_spark(app_name)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop every stream, the context, and the JVM; wait for the JVM.
    `spark` is None when set-up failed before a session was returned."""
    from pyspark import SparkContext

    if spark is not None:
        for q in spark.streams.active:
            q.stop()
        spark.stop()
    elif SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        # the JVM exits when its stdin pipe closes
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


class RssSampler:
    """Peak resident memory of this process and all its descendants (the
    driver JVM and the Python workers it forks), sampled from /proc.

    Each process counts its proportional share (Pss) of resident pages:
    the Python workers are forked from one daemon and share most of their
    pages with it, and summing plain RSS would count those pages once per
    worker."""

    # each sample reads every process's smaps, CPU time the op clocks
    # count, so it is taken once a second
    def __init__(self, interval: float = 1.0):
        self.interval = interval
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    @staticmethod
    def _children(pid: int) -> list[int]:
        out: list[int] = []
        try:
            for tid in os.listdir(f"/proc/{pid}/task"):
                with open(f"/proc/{pid}/task/{tid}/children") as f:
                    out.extend(int(c) for c in f.read().split())
        except OSError:
            pass
        return out

    @staticmethod
    def _rss_kb(pid: int) -> int:
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        return int(line.split()[1])
        except OSError:
            pass
        return 0

    def sample(self) -> int:
        total, stack = 0, [os.getpid()]
        while stack:
            pid = stack.pop()
            total += self._rss_kb(pid)
            stack.extend(self._children(pid))
        self.peak_kb = max(self.peak_kb, total)
        return total

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


def make_stream_listener():
    """A StreamingQueryListener that keeps every progress event, so trigger
    phases and state-operator metrics can be read after a stream ends."""
    from pyspark.sql.streaming import StreamingQueryListener

    class Collector(StreamingQueryListener):
        def __init__(self):
            self.lock = threading.Lock()
            self.progress: list[dict] = []
            self.started: list[str] = []
            self.terminated: set[str] = set()

        def onQueryStarted(self, event):
            with self.lock:
                self.started.append(str(event.runId))

        def onQueryProgress(self, event):
            p = event.progress
            state = [
                {
                    "rows": s.numRowsTotal,
                    "bytes": s.memoryUsedBytes,
                    "commit_ms": s.commitTimeMs,
                }
                for s in p.stateOperators
            ]
            with self.lock:
                self.progress.append(
                    {
                        "run_id": str(p.runId),
                        "rows": int(p.numInputRows),
                        "ms": dict(p.durationMs),
                        "state": state,
                    }
                )

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            with self.lock:
                self.terminated.add(str(event.runId))

        def mark(self) -> tuple[int, int]:
            with self.lock:
                return len(self.progress), len(self.started)

        def since(self, mark: tuple[int, int], timeout: float = 30.0):
            """Progress events and run ids of streams started after `mark`,
            once every such stream has reported its termination (listener
            events arrive asynchronously)."""
            deadline = time.monotonic() + timeout
            while True:
                with self.lock:
                    runs = self.started[mark[1]:]
                    done = all(r in self.terminated for r in runs)
                    events = [e for e in self.progress[mark[0]:] if e["run_id"] in runs]
                if done or time.monotonic() > deadline:
                    return events, runs
                time.sleep(0.05)

    return Collector()


class SparkCounters:
    """Job, stage and task counts of one op, read from statusTracker()
    under a job group this benchmark sets. Streams run their jobs under
    their own run id as group, so those groups are counted too."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()
        self.overhead_s = 0.0  # time spent tagging and reading counters

    def new_group(self, label: str) -> str:
        t0 = time.perf_counter()
        group = f"perfbench-{label}-{uuid.uuid4().hex[:8]}"
        self.sc.setJobGroup(group, label)
        self.overhead_s += time.perf_counter() - t0
        return group

    def count(self, groups) -> dict:
        t0 = time.perf_counter()
        jobs = stages = tasks = 0
        for g in groups:
            for jid in self.tracker.getJobIdsForGroup(g):
                info = self.tracker.getJobInfo(jid)
                if info is None:
                    continue
                jobs += 1
                for sid in info.stageIds:
                    st = self.tracker.getStageInfo(sid)
                    if st is not None:
                        stages += 1
                        tasks += st.numTasks
        self.overhead_s += time.perf_counter() - t0
        return {"jobs": jobs, "stages": stages, "tasks": tasks}


class Tracer:
    """In-memory spans around the benchmark's calls into engine layers.

    Disabled, `span` costs one attribute check. Spans are written out once,
    by `dump`, after the measured window."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.overhead_s = 0.0  # time spent recording spans

    @contextmanager
    def span(self, name: str, layer: str):
        if not self.enabled:
            yield
            return
        t0 = time.perf_counter()
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        rec = {"name": name, "layer": layer, "parent": parent, "run": self.run_id,
               "start": 0.0, "end": 0.0}
        self.spans.append(rec)
        self._stack.append(idx)
        rec["start"] = t1 = time.perf_counter()
        self.overhead_s += t1 - t0
        try:
            yield
        finally:
            rec["end"] = t2 = time.perf_counter()
            self._stack.pop()
            self.overhead_s += time.perf_counter() - t2

    def top_level_s(self) -> float:
        return sum(s["end"] - s["start"] for s in self.spans if s["parent"] is None)

    def self_times(self) -> dict[str, float]:
        """Per layer: span time minus the time its child spans cover."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = {}
        for i, s in enumerate(self.spans):
            out[s["layer"]] = out.get(s["layer"], 0.0) + (s["end"] - s["start"]) - child[i]
        return out

    def dump(self, path: str) -> None:
        import json

        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(self.spans, f)
