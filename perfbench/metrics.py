"""Every metric the benchmark prints, with its unit and which direction
is better.  ``BENCHMARK.json`` at the repository root lists the same
names, units and directions; the benchmark's tests keep the two equal.
The comments over each group of per-layer metrics name the figure the
layer should move and the workload where the layer is heavy.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Metric:
    name: str
    unit: str
    better: str = "lower"
    bound: float | None = None  # end-to-end only


# The CPU seconds of a pass (driver, JVM less its JIT compiler threads,
# Python workers) vary least with what the host's other tenants do.
# Wall-clock figures on a shared 4-vCPU host moved 15-60% (IQR/median)
# between runs of the same code, so they are reported below without a
# bound.
END_TO_END = (
    Metric("setup_s", "s", bound=0.25),
    Metric("pass_cpu_s", "s", bound=0.24),
)

# Layers whose public functions get spans, with one ``.self_s`` and one
# ``.calls`` metric each.  Operator modules are listed when a workload
# reaches them; an unreached module would read 0 on every run.
SPAN_LAYERS = (
    # query_p50_s and pass_s on relational
    "plans", "modelling", "keypath", "udf_registry", "sinks",
    "operators.filtering", "operators.joins", "operators.transform",
    # pass_s on both workloads
    "sources",
    # pass_s and pass_cpu_s on corpus
    "streaming", "operators.dedup", "operators.similarity",
    "operators.text", "operators.curation", "operators.bpe",
    "operators.sketches", "operators.inference",
)

PER_LAYER = (
    # What a user sees, without a bound: wall clock and memory.
    Metric("pass_s", "s"),
    Metric("query_p50_s", "s"),
    Metric("query_tail_s", "s"),
    Metric("peak_rss_mb", "MB"),
    # setup_s, every workload.
    Metric("session.start_s", "s"),
    Metric("catalog.load_s", "s"),
    Metric("jvm.jit_s", "s"),
    # Driver plan construction, eager jobs inside build included:
    # pass_s and query_p50_s, heavy on relational.
    Metric("catalog.build_s", "s"),
    Metric("catalog.build_share", "ratio"),
    Metric("catalog.build_jobs", "count"),
    Metric("py4j.calls", "count"),
    Metric("driver.cpu_s", "s"),
    # Spark execution of the drain: pass_s and pass_cpu_s, both
    # workloads (task count on relational, executor CPU on corpus).
    Metric("exec.drain_s", "s"),
    Metric("exec.drain_jobs", "count"),
    Metric("spark.stages", "count"),
    Metric("spark.tasks", "count"),
    Metric("spark.failed_tasks", "count"),
    Metric("spark.executor_run_s", "s"),
    Metric("spark.executor_cpu_s", "s"),
    Metric("spark.gc_s", "s"),
    Metric("jvm.cpu_s", "s"),
    # Shuffle: pass_s, heavy on corpus.
    Metric("spark.shuffle_write_mb", "MB"),
    Metric("spark.shuffle_read_mb", "MB"),
    Metric("spark.spill_mb", "MB"),
    # Checkpoints and persists inside operators: peak_rss_mb and
    # pass_s, corpus.
    Metric("materialize.persisted_rdds", "count"),
    Metric("materialize.cached_mb", "MB"),
    # Python workers: pass_cpu_s and query_tail_s, corpus.
    Metric("pyworker.cpu_s", "s"),
    # Streaming rows and sinks: pass_s, corpus.
    Metric("stream.jobs", "count"),
    Metric("stream.batches", "count"),
    Metric("stream.work_s", "s"),
    Metric("stream.lifecycle_s", "s"),
    Metric("stream.outside_s", "s"),
    Metric("stream.work_frac", "ratio", better="higher"),
    Metric("stream.state_commit_s", "s"),
    Metric("stream.state_rows", "count"),
    Metric("jvm.write_mb", "MB"),
    # The tracer's own cost; moves nothing.
    Metric("trace.overhead_frac", "ratio"),
    *(
        Metric(f"{layer}.{kind}", unit)
        for layer in SPAN_LAYERS
        for kind, unit in (("self_s", "s"), ("calls", "count"))
    ),
)


def benchmark_entries() -> dict:
    """The ``end_to_end`` and ``per_layer`` lists of BENCHMARK.json."""
    return {
        "end_to_end": [
            {"name": m.name, "unit": m.unit, "better": m.better, "bound": m.bound}
            for m in END_TO_END
        ],
        "per_layer": [
            {"name": m.name, "unit": m.unit, "better": m.better}
            for m in PER_LAYER
        ],
    }
