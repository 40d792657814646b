"""Metric names, units and how each is computed from a run's passes.

End-to-end metrics are the same four on every workload; what a pass and
an op are differs per workload (README.md). The bounded ones are CPU
time of the program's processes, not wall time: on a shared host a
neighbour moves wall time by 20-50% and CPU time far less (README.md,
"Why CPU time"). Wall-time figures are printed in the details line
under the per-workload names. Per-layer metrics are the same list on
every workload too; a layer a workload does not exercise reads 0 there.
"""

from __future__ import annotations

from harness import median, tail

E2E_UNITS = {
    "setup_s": "s",
    "pass_cpu_s": "s",
    "op_cpu_p50_s": "s",
    "op_cpu_tail_s": "s",
}

FAMILIES = ("relational", "olap", "windows", "topk", "text", "dedup", "sketches",
            "vectors", "graph", "stattests", "sampling", "io_sinks", "features")
SPAN_LAYERS = ("benchmark", "tables", "operators", "ml.als", "ml.foldin",
               "streaming.interest", "streaming.candidates", "streaming.ann_search",
               "streaming.ann_index")
# recommender_lifecycle phase -> the per-layer name of its CPU time
PHASE_CPU = {
    "ratings": "tables.ratings_cpu_s",
    "als_fit": "ml.als_fit_cpu_s",
    "foldin": "ml.foldin_cpu_s",
    "interest": "interest.fold_cpu_s",
    "candidates_build": "candidates.index_build_cpu_s",
    "ann_build": "ann_search.index_build_cpu_s",
    "ann_maintain": "ann_index.maintain_cpu_s",
}

LAYER_UNITS = {
    "session.start_s": "s",
    "session.warm_s": "s",
    "driver.peak_rss_mb": "MB",
    "tables.ratings_s": "s",
    "tables.ratings_rows": "count",
    **{f"operators.{f}.busy_s": "s" for f in FAMILIES},
    **{f"operators.{f}.cpu_s": "s" for f in FAMILIES},
    **{f"operators.{f}.jobs": "count" for f in FAMILIES},
    "ml.als_fit_s": "s",
    "ml.als_eval_s": "s",
    "ml.foldin_s": "s",
    "ml.als_fit_jobs": "count",
    "interest.fold_s": "s",
    "interest.batches": "count",
    "interest.state_rows": "count",
    "interest.state_bytes": "bytes",
    "interest.state_commit_ms": "ms",
    "candidates.index_build_s": "s",
    "candidates.score_batch_p50_s": "s",
    "candidates.score_batch_cpu_p50_s": "s",
    "ann_search.index_build_s": "s",
    "ann_search.batch_p50_s": "s",
    "ann_search.batch_cpu_p50_s": "s",
    "ann_index.append_p50_s": "s",
    "ann_index.compact_s": "s",
    "ann_index.max_files": "count",
    "ann_index.live_over_written": "ratio",
    **{name: "s" for name in PHASE_CPU.values()},
    "stream.trigger_p50_ms": "ms",
    "stream.add_batch_ms": "ms",
    "stream.commit_ms": "ms",
    "stream.planning_ms": "ms",
    "stream.latest_offset_ms": "ms",
    "stream.empty_batch_frac": "ratio",
    "jvm.jit_cpu_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    **{f"self.{layer}_s": "s" for layer in SPAN_LAYERS},
    "trace_overhead_frac": "ratio",
}


def op_samples(workload: str, p: dict, key: str) -> list[float]:
    """The workload's unit of service, wall seconds (`key` "s") or CPU
    seconds ("cpu_s"): a query, a serving request batch, or a non-empty
    micro-batch trigger. A trigger cannot be bracketed from outside the
    stream, so its CPU time is the drain's, shared out in proportion to
    the triggers' wall times."""
    if workload == "stream_ingest":
        ms = [e["ms"].get("triggerExecution", 0) for e in p["interest_progress"] if e["rows"] > 0]
        if key == "s":
            return [m / 1000.0 for m in ms]
        return [p["pass_cpu_s"] * m / sum(ms) for m in ms] if sum(ms) else []
    if workload == "recommender_lifecycle":
        return [op[key] for op in p["ops"] if op["name"] == "serve_batch"]
    return [op[key] for op in p["ops"]]


def end_to_end(workload: str, passes: list[dict]) -> tuple[dict, dict]:
    """(the end_to_end metrics but setup, the wall-time figures under
    their per-workload names plus the workload's own throughput)."""
    cpu, wall = ([s for p in passes for s in op_samples(workload, p, key)]
                 for key in ("cpu_s", "s"))
    e2e = {"pass_cpu_s": median([p["pass_cpu_s"] for p in passes]),
           "op_cpu_p50_s": median(cpu), "op_cpu_tail_s": tail(cpu)["value"]}
    pass_s = median([p["pass_s"] for p in passes])
    t = tail(wall)
    p50, tail_info = median(wall), {"quantile": t["quantile"], "samples": t["n"], "values": wall}
    if workload == "analytics_mix":
        n = len(passes[0]["ops"])
        named = {"analytics_qpm": 60.0 * n / pass_s,
                 "analytics_query_p50_s": p50,
                 "analytics_query_tail_s": t["value"],
                 "analytics_query_tail": tail_info}
    elif workload == "recommender_lifecycle":
        named = {"lifecycle_s": pass_s,
                 "serve_batch_p50_s": p50,
                 "serve_batch_tail_s": t["value"],
                 "serve_batch_tail": tail_info,
                 "phase_s": {k: median([p["phase_s"][k] for p in passes])
                             for k in passes[0]["phase_s"]},
                 "als_rmse": passes[-1]["rmse"]}
    else:
        named = {"ingest_events_per_s": median([p["events"] / p["drain_s"] for p in passes]),
                 "ingest_batch_p50_s": p50,
                 "ingest_batch_tail_s": t["value"],
                 "ingest_batch_tail": tail_info}
    named["op_cpu_tail"] = {k: v for k, v in tail(cpu).items() if k != "value"}
    return e2e, named


def _stream_layers(progress: list[dict]) -> dict:
    busy = [e for e in progress if e["rows"] > 0]
    ms = lambda key: median([e["ms"].get(key, 0) for e in busy]) if busy else 0.0  # noqa: E731
    return {
        "stream.trigger_p50_ms": ms("triggerExecution"),
        "stream.add_batch_ms": ms("addBatch"),
        "stream.commit_ms": median([e["ms"].get("walCommit", 0) + e["ms"].get("commitOffsets", 0)
                                    for e in busy]) if busy else 0.0,
        "stream.planning_ms": ms("queryPlanning"),
        "stream.latest_offset_ms": ms("latestOffset"),
        "stream.empty_batch_frac": (len(progress) - len(busy)) / len(progress) if progress else 0.0,
    }


def _interest_layers(progress: list[dict], fold_s: float) -> dict:
    busy = [e for e in progress if e["rows"] > 0]
    last = busy[-1]["state"] if busy else []
    return {
        "interest.fold_s": fold_s,
        "interest.batches": len(busy),
        "interest.state_rows": sum(s["rows"] for s in last),
        "interest.state_bytes": sum(s["bytes"] for s in last),
        "interest.state_commit_ms": sum(s["commit_ms"] for e in busy for s in e["state"]),
    }


def _ann_index_layers(p: dict) -> dict:
    audit = p["audit"]
    compacted = {a["compacted_after"] for a in audit if "compacted_after" in a}
    batches = [a for a in audit if "batch_id" in a]
    busy = [e for e in p["ann_progress"] if e["rows"] > 0]
    # progress events and audit rows follow the same batch order
    plain = [e["ms"]["addBatch"] / 1000.0 for e, a in zip(busy, batches)
             if a["batch_id"] not in compacted]
    with_compaction = [e["ms"]["addBatch"] / 1000.0 for e, a in zip(busy, batches)
                       if a["batch_id"] in compacted]
    base = median(plain) if plain else 0.0
    written = sum(a["batch_rows"] for a in batches)
    return {
        "ann_index.append_p50_s": median([e["ms"]["triggerExecution"] / 1000.0 for e in busy]),
        # a compacting batch's time beyond a plain append's
        "ann_index.compact_s": sum(max(0.0, s - base) for s in with_compaction),
        "ann_index.max_files": max((a["files"] for a in audit if "files" in a), default=0),
        "ann_index.live_over_written": p["live_rows"] / written if written else 0.0,
    }


def per_layer(workload: str, passes: list[dict], tracer) -> dict:
    out = {name: 0.0 for name in LAYER_UNITS}
    mid = lambda key: median([p[key] for p in passes])  # noqa: E731
    if workload == "analytics_mix":
        for f in FAMILIES:
            ops = [[o for o in p["ops"] if o["family"] == f] for p in passes]
            out[f"operators.{f}.busy_s"] = median([sum(o["s"] for o in x) for x in ops])
            out[f"operators.{f}.cpu_s"] = median([sum(o["cpu_s"] for o in x) for x in ops])
            out[f"operators.{f}.jobs"] = median([sum(o["jobs"] for o in x) for x in ops])
        for k in ("jobs", "stages", "tasks"):
            out[f"spark.{k}"] = median([sum(o[k] for o in p["ops"]) for p in passes])
    elif workload == "recommender_lifecycle":
        ph = lambda k: median([p["phase_s"][k] for p in passes])  # noqa: E731
        p = passes[-1]
        out.update({
            "tables.ratings_s": ph("ratings"),
            "tables.ratings_rows": p["layer"]["ratings_rows"],
            "ml.als_fit_s": ph("als_fit"),
            "ml.als_eval_s": ph("als_eval"),
            "ml.foldin_s": ph("foldin"),
            "ml.als_fit_jobs": p["layer"]["als_fit_jobs"],
            "candidates.index_build_s": ph("candidates_build"),
            "candidates.score_batch_p50_s": median([s for q in passes for s in q["cand_s"]]),
            "candidates.score_batch_cpu_p50_s": median([s for q in passes for s in q["cand_cpu_s"]]),
            "ann_search.index_build_s": ph("ann_build"),
            "ann_search.batch_p50_s": median([s for q in passes for s in q["ann_s"]]),
            "ann_search.batch_cpu_p50_s": median([s for q in passes for s in q["ann_cpu_s"]]),
            **{name: median([q["phase_cpu_s"][ph] for q in passes]) for ph, name in PHASE_CPU.items()},
            **_interest_layers(p["stream_progress"], ph("interest")),
            **_stream_layers(p["stream_progress"]),
            **_ann_index_layers(p),
        })
        for k in ("jobs", "stages", "tasks"):
            out[f"spark.{k}"] = p["counts"][k]
    else:
        p = passes[-1]
        out.update({
            **_interest_layers(p["interest_progress"], mid("drain_s")),
            **_stream_layers(p["interest_progress"]),
        })
        for k in ("jobs", "stages", "tasks"):
            out[f"spark.{k}"] = p["counts"][k]
    out["jvm.jit_cpu_s"] = mid("pass_jit_s")
    self_times = tracer.self_times()
    n = len(passes)
    # the benchmark's own share of a pass: time outside every layer call
    self_times["benchmark"] = max(0.0, sum(p["pass_s"] for p in passes) - tracer.top_level_s())
    for layer in SPAN_LAYERS:
        # operator families fold into one layer here; their split is busy_s
        secs = sum(v for k, v in self_times.items()
                   if k == layer or (layer == "operators" and k.startswith("operators.")))
        out[f"self.{layer}_s"] = secs / n
    return out
