"""Per-layer measurement of traced passes: one record per row from the
span tracer, ``/proc``, the status store and the streaming listener,
summed into per-pass layer metrics."""

from __future__ import annotations

import statistics
import time

PROC_KEYS = (
    "driver.cpu_s", "jvm.cpu_s", "jvm.jit_s", "pyworker.cpu_s", "jvm.write_mb",
)


def row(run, name: str, tag: str) -> dict:
    """Run one row and return its record with a ``layers`` map.  The
    probes' own time is returned as ``probe_s``."""
    tr, counters = run.tracer, run.counters
    t0 = time.perf_counter()
    counters.drain_events()
    run.phases.take()  # progress of streams from untraced passes
    before = run.proc.sample()
    first_span, calls0 = len(tr.spans), tr.py4j_calls
    t1 = time.perf_counter()
    rec = run.run_row(name, tag)
    t2 = time.perf_counter()
    after = run.proc.sample()
    m = {k: after[k] - before[k] for k in PROC_KEYS}
    m["py4j.calls"] = tr.py4j_calls - calls0
    m.update(counters.materialized())
    counters.drain_events()
    runs = run.phases.take()
    build = counters.jobs([f"{tag}:{name}:build"])
    drain = counters.jobs([f"{tag}:{name}:drain"])
    # Micro-batch jobs run under their stream's runId job group.
    stream = counters.jobs(runs)
    m["catalog.build_jobs"] = len(build)
    m["exec.drain_jobs"] = len(drain)
    m["stream.jobs"] = len(stream)
    m.update(counters.totals(build + drain + stream))
    for layer, v in tr.layer_self(first_span).items():
        m[f"{layer}.self_s"] = v["self_s"]
        m[f"{layer}.calls"] = v["calls"]
    if runs:
        batches = [b for bs in runs.values() for b in bs]
        trigger_s = sum(b["trigger_ms"] for b in batches) / 1e3
        m["stream.batches"] = len(batches)
        m["stream.work_s"] = sum(b["add_ms"] for b in batches) / 1e3
        m["stream.lifecycle_s"] = trigger_s - m["stream.work_s"]
        m["stream.outside_s"] = rec.get("query_s", 0.0) - trigger_s
        m["stream.state_commit_s"] = sum(b["commit_ms"] for b in batches) / 1e3
        m["stream.state_rows"] = sum(
            bs[-1]["state_rows"] for bs in runs.values() if bs
        )
        m["stream.row_s"] = rec.get("query_s", 0.0)
    rec["layers"] = m
    rec["probe_s"] = t1 - t0 + time.perf_counter() - t2
    return rec


def summary(traced_passes, untraced_pass_s, session_s, load_s) -> dict:
    """Per-pass layer metrics: each row metric summed over a pass, then
    averaged over the traced passes."""
    tot: dict[str, float] = {}
    for p in traced_passes:
        for r in p["rows"]:
            for k, v in r.get("layers", {}).items():
                tot[k] = tot.get(k, 0.0) + v
            for k, src in (("catalog.build_s", "build_s"), ("exec.drain_s", "drain_s")):
                tot[k] = tot.get(k, 0.0) + r.get(src, 0.0)
    out = {k: v / len(traced_passes) for k, v in tot.items()}
    busy = out["catalog.build_s"] + out["exec.drain_s"]
    out["catalog.build_share"] = out["catalog.build_s"] / busy if busy else 0.0
    row_s = out.pop("stream.row_s", 0.0)
    out["stream.work_frac"] = out.get("stream.work_s", 0.0) / row_s if row_s else 0.0
    out["session.start_s"] = session_s
    out["catalog.load_s"] = load_s
    traced_s = statistics.median(p["pass_s"] for p in traced_passes)
    out["trace.overhead_frac"] = traced_s / untraced_pass_s - 1.0
    return out
