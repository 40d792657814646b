"""stream_ingest: the write side of the interest stream.

Events are staged into INGEST_SLICES files, the seed deciding which
events share a file, and drained with availableNow and
maxFilesPerTrigger=1 through the interest fold: many small triggers, so
the fixed per-trigger and state-commit cost dominates. The input size is
fixed: all events of the dataset. (The ANN index's write path runs as a
phase of recommender_lifecycle.)
"""

from __future__ import annotations

import os
import random
import shutil

import numpy as np
import pyarrow.parquet as pq

import harness
from lifecycle import run_interest_stream, stage_event_slices

INGEST_SLICES = 3
# the interest fold's constants, restated so the reference fold is
# independent of the engine's closed-form implementation
LAMBDA = 0.05
RATING_SCALE = 50.0
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")


def reference_interest(events_path: str) -> dict[int, tuple[int, np.ndarray]]:
    """user -> (events, interest vector), folding each user's events one
    at a time in (ts, event_id) order: U := U*(1 - l*r) + onehot*(l*r)."""
    t = pq.read_table(events_path, columns=["event_id", "ts", "user_id", "event_type", "value"])
    pdf = t.to_pandas().sort_values(["ts", "event_id"])
    out: dict[int, tuple[int, np.ndarray]] = {}
    index = {e: i for i, e in enumerate(EVENT_TYPES)}
    for uid, etype, value in zip(pdf["user_id"], pdf["event_type"], pdf["value"]):
        n, u = out.get(int(uid), (0, np.zeros(len(EVENT_TYPES))))
        lr = LAMBDA * (float(value) / RATING_SCALE)
        u = u * (1.0 - lr)
        if etype in index:
            u[index[etype]] += lr
        out[int(uid)] = (n + 1, u)
    return out


class StreamIngest:
    name = "stream_ingest"
    warm_passes = 0
    min_passes = 1

    def __init__(self, ctx):
        self.ctx = ctx
        self.reference = reference_interest(os.path.join(ctx.data_dir, "events.parquet"))
        self.n_events = pq.ParquetFile(os.path.join(ctx.data_dir, "events.parquet")).metadata.num_rows
        self.passes = 0

    def run_pass(self, rng: random.Random) -> dict:
        ctx, spark, data_dir = self.ctx, self.ctx.spark, self.ctx.data_dir
        self.passes += 1
        tag = f"p{self.passes}_{os.getpid()}"
        ops: list[dict] = []

        stage = os.path.join(ctx.scratch, f"ingest_{tag}")
        stage_event_slices(os.path.join(data_dir, "events.parquet"), stage, INGEST_SLICES, rng)

        mark = ctx.listener.mark()
        group = ctx.counters.new_group("interest_ingest") if ctx.counters else None
        with harness.OpClock() as clock, ctx.tracer.span("interest_ingest", "streaming.interest"):
            state = run_interest_stream(spark, stage, f"ingest_{tag}").collect()
        drain_s = clock.s
        interest_progress, interest_runs = ctx.listener.since(mark)
        why = self.check_interest(state)
        if why:
            ctx.log(f"interest: {why}")
        ops.append({"name": "interest_drain", "s": drain_s, "cpu_s": clock.cpu_s,
                    "jit_s": clock.jit_s, "steal": clock.steal, "ok": why is None})

        counts = ctx.counters.count([group] + interest_runs) if group else {}
        spark.catalog.dropTempView(f"ingest_{tag}")
        shutil.rmtree(stage, ignore_errors=True)
        return {
            "pass_s": drain_s,  # the check is not the engine's time
            "pass_cpu_s": clock.cpu_s,
            "pass_jit_s": clock.jit_s,
            "ops": ops,
            "drain_s": drain_s,
            "events": self.n_events,
            "interest_progress": interest_progress,
            "counts": counts,
        }

    def check_interest(self, state) -> str | None:
        """The drained state equals the one-event-at-a-time fold."""
        if len(state) != len(self.reference):
            return f"{len(state)} users in state, {len(self.reference)} expected"
        for r in state:
            n, ref = self.reference.get(int(r.user_id), (None, None))
            if n != r.n_events or not np.allclose(r.interest, ref, rtol=1e-9, atol=1e-12):
                return f"user {r.user_id}: state differs from the batch fold"
        return None
