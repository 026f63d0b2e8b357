"""Run one benchmark workload against the engine and print its metrics.

    python3 perfbench/run.py --workload relational --seed 1 --seconds 6 --trace 0

Run from the repository root.  The run

1. draws the workload's input tables from ``--seed`` into a scratch
   directory under ``.perfbench/`` (removed at exit), in a child
   process;
2. sets up: starts a Spark session with ``session.get_spark``,
   imports the catalog with ``catalog.load_all()`` and runs
   ``WARM_PASSES`` untimed warm-up passes; the outputs of the first one
   are checked against their DuckDB oracles in a child process
   (``perfbench/oracle.py``), so that neither the generator nor DuckDB
   adds to the driver's CPU or memory.
   ``setup_s`` is the time from process start to the end of set-up,
   less the benchmark's own input generation and oracle checks;
3. runs timed passes for ``--seconds`` (at least ``MIN_PASSES``).  A
   pass runs every row of the workload once, in an order drawn from the
   seed: ``registry[q].build(spark, data)`` and then a row-count plus
   xxhash64 checksum drain.  Each row starts from a clean cache and no
   shared dedup stages, so its time does not depend on the order;
4. fails the run when a row raises, when its (rows, checksum) differs
   between passes or from the warm-up's row count, or when its output
   differs from the oracle.

The last stdout line is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``; the line before it carries the details
(wall-clock figures, per-row medians, oracle results, error fraction,
host-noise stamps).  ``--trace 0`` reports the end-to-end metrics of
``perfbench/metrics.py``.  ``--trace 1`` wraps the engine's public
functions in spans (``perfbench/spans.py``), alternates traced and
untraced passes, reports the per-layer metrics per traced pass and
writes the spans and per-row layer records to
``.perfbench/{spans,rows}-<workload>-<seed>.jsonl``.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import importlib.util  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# Import the benchmark as the ``perfbench`` package, never its modules
# as top-level names that could shadow the standard library.
if __name__ == "__main__":
    here = os.path.dirname(os.path.abspath(__file__))
    sys.path[:] = [ROOT] + [p for p in sys.path if os.path.abspath(p or ".") != here]
# Per-pass CPU falls for about ten passes while the JVM's JIT compiles
# the engine's hot code, steepest over the first two: the first two
# passes are warm-up, and a timed pass costs 4-10 s on a 4-vCPU host.
WARM_PASSES = 2
MIN_PASSES = 2
DRIVER_MEM = "4g"


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _host_env(work: str) -> None:
    """Fit Spark to this host through the engine's own variables."""
    for d in ("spark-local", "tmp"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    tmp = os.path.join(work, "tmp")
    os.environ.update(
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        TMPDIR=tmp,
        # Python workers import the engine whatever their working dir.
        PYTHONPATH=os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        ),
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp}",
    )


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def tail(samples: list[float]) -> tuple[float, float, int]:
    """(value, percentile, n) of the highest percentile that still has
    at least ten samples above it; the maximum when there are fewer
    than eleven samples."""
    s = sorted(samples)
    n = len(s)
    if n <= 10:
        return (s[-1] if s else 0.0), 100.0, n
    k = n - 11
    return s[k], 100.0 * (k + 1) / n, n


class Run:
    """The set-up and passes of one process over one workload."""

    def __init__(self, workload, data_dir: str, seed: int, tracer) -> None:
        self.w = workload
        self.data = data_dir
        self.seed = seed
        self.tracer = tracer
        self.results: dict[str, set] = {q: set() for q in workload.rows}
        self.errors: dict[str, list[str]] = {q: [] for q in workload.rows}
        self.attempted = 0
        self.oracle: dict[str, str] = {}
        self.warm_rows: dict[str, int] = {}
        self.registry: dict = {}
        self.spark = None
        self.proc = None

    # -- session -------------------------------------------------------
    def start_session(self) -> float:
        from metalpipe_spark.session import get_spark

        t = time.perf_counter()
        self.spark = get_spark(app_name="perfbench")
        self.spark.sparkContext.setLogLevel("ERROR")
        took = time.perf_counter() - t
        from perfbench.probes import ProcCounters, jvm_pid

        self.proc = ProcCounters(jvm_pid())
        if self.tracer is not None:
            from perfbench.probes import SparkCounters, StreamPhases

            self.counters = SparkCounters(self.spark)
            self.phases = StreamPhases()
            self.spark.streams.addListener(self.phases)
        return took

    # -- one row -------------------------------------------------------
    def _phase(self, name: str):
        if self.tracer is None:
            return contextlib.nullcontext()
        return self.tracer.phase(name)

    def run_row(self, name: str, tag: str, keep: str | None = None) -> dict:
        """Build and drain one row.  With ``keep``, the drain collects
        the output and pickles it there for the oracle check."""
        from pyspark.sql import functions as F

        from metalpipe_spark.catalog.dedup import clear_shared_stages

        spark, sc = self.spark, self.spark.sparkContext
        spark.catalog.clearCache()
        clear_shared_stages(None)
        self.attempted += 1
        if self.tracer is not None:
            self.tracer.query = name
        rec = {"row": name}
        sc.setJobGroup(f"{tag}:{name}:build", name)
        t0 = time.perf_counter()
        try:
            with self._phase("catalog.build"):
                df = self.registry[name].build(spark, self.data)
            t1 = time.perf_counter()
            sc.setJobGroup(f"{tag}:{name}:drain", name)
            t2 = time.perf_counter()
            with self._phase("exec.drain"):
                if keep is not None:
                    got = df.toPandas()  # the oracle's input is the drain
                    n, h = len(got), None
                else:
                    n, h = df.agg(
                        F.count(F.lit(1)), F.bit_xor(F.xxhash64(*df.columns))
                    ).collect()[0]
            t3 = time.perf_counter()
        except Exception as e:  # a failing row is counted, never dropped
            self.errors[name].append(
                "".join(traceback.format_exception_only(e)).strip()[:500]
            )
            rec["error"] = True
            return rec
        rec.update(build_s=t1 - t0, drain_s=t3 - t2, query_s=t1 - t0 + t3 - t2)
        if keep is None:
            self.results[name].add((int(n), int(h or 0)))
        else:
            self.warm_rows[name] = n
            got.to_pickle(os.path.join(keep, f"{name}.pkl"))
            rec["oracle_s"] = time.perf_counter() - t3
        return rec

    def run_pass(self, index: int, warm=False, keep=None, traced=False) -> dict:
        import numpy as np

        order = np.random.default_rng([self.seed, warm, index]).permutation(
            len(self.w.rows)
        )
        tag = f"{'w' if warm else 'p'}{index}"
        recs = []
        # CPU is sampled at the pass's ends only: a sample walks /proc.
        cpu0 = self.proc.cpu_s()
        t = time.perf_counter()
        for i in order:
            name = self.w.rows[i]
            if traced:
                from perfbench import layers

                recs.append(layers.row(self, name, tag))
            else:
                recs.append(self.run_row(name, tag, keep))
        t_end = time.perf_counter()
        cpu_s = self.proc.cpu_s() - cpu0
        # Pickling outputs for the oracle and probing layers is the
        # benchmark's own work, not the pass's.
        oracle_s = sum(r.get("oracle_s", 0.0) for r in recs)
        probe_s = sum(r.get("probe_s", 0.0) for r in recs)
        return {
            "index": index,
            "traced": traced,
            "pass_s": t_end - t - oracle_s - probe_s,
            "cpu_s": cpu_s,
            "oracle_s": oracle_s,
            "rows": recs,
        }

    # -- correctness ---------------------------------------------------
    def check_oracles(self, keep: str) -> None:
        """Compare the outputs pickled in ``keep`` with their DuckDB
        oracles in a child process."""
        oracles = {
            q: self.registry[q].oracle for q in self.w.rows if q in self.warm_rows
        }
        with open(os.path.join(keep, "oracles.json"), "w") as f:
            json.dump(oracles, f)
        p = subprocess.run(
            [sys.executable, "-m", "perfbench.oracle", self.data, keep],
            cwd=ROOT, capture_output=True, text=True,
        )
        if p.returncode != 0:
            err = f"oracle check failed: {p.stderr.strip()[-500:]}"
            self.oracle = {q: err for q in oracles}
        else:
            self.oracle = json.loads(p.stdout.strip().splitlines()[-1])

    def failures(self) -> dict[str, str]:
        bad: dict[str, str] = {}
        for q in self.w.rows:
            if self.errors[q]:
                bad[q] = self.errors[q][0]
            elif len(self.results[q]) > 1 or any(
                n != self.warm_rows.get(q, n) for n, _ in self.results[q]
            ):
                bad[q] = (
                    f"(rows, checksum) differs between passes: "
                    f"{sorted(self.results[q])}, warm-up rows "
                    f"{self.warm_rows.get(q)}"
                )
            elif self.oracle.get(q, "not checked") not in ("match", "rows only"):
                bad[q] = self.oracle.get(q, "not checked against its oracle")
        return bad



def _generate(out_dir: str, seed: int, scale) -> None:
    """Draw the inputs in a child process."""
    subprocess.run(
        [sys.executable, "-m", "perfbench.inputs", out_dir, str(seed),
         repr(scale.sf), str(scale.n_docs), str(scale.n_embeddings)],
        cwd=ROOT, check=True,
    )


def _stop_engine() -> None:
    """Stop Spark, close the py4j gateway and wait for the JVM and its
    Python workers to exit."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    from perfbench.probes import python_workers

    s = SparkSession.getActiveSession()
    if s is not None:
        s.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    workers = python_workers(proc.pid) if proc is not None else []
    gw.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is None:
        return
    proc.stdin.close()  # the gateway JVM exits on EOF
    try:
        proc.wait(timeout=30)
    except Exception:
        proc.kill()
        proc.wait(timeout=30)
    deadline = time.time() + 20
    while workers and time.time() < deadline:
        workers = [p for p in workers if os.path.exists(f"/proc/{p}")]
        time.sleep(0.05)


def execute(args) -> dict:
    if importlib.util.find_spec("metalpipe_spark") is None:
        raise SystemExit(
            "perfbench: metalpipe_spark is not importable; run from the "
            "repository root"
        )
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        raise SystemExit(f"perfbench: unknown workload {args.workload!r}")
    w = WORKLOADS[args.workload]
    if args.seconds <= 0:
        raise SystemExit("perfbench: --seconds must be positive")

    import bench  # host-noise stamps shared with the catalog bench

    fp0 = bench._env_fingerprint()
    t_wall = time.perf_counter()
    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, f"run-{os.getpid()}")
    _host_env(work)
    try:
        return _execute(args, w, base, work, fp0, t_wall, bench)
    finally:
        _stop_engine()
        shutil.rmtree(work, ignore_errors=True)


def _execute(args, w, base, work, fp0, t_wall, bench) -> dict:
    from perfbench.metrics import END_TO_END, PER_LAYER

    t = time.perf_counter()
    data = os.path.join(work, "data")
    _generate(data, args.seed, w.scale)
    gen_s = time.perf_counter() - t

    tracer = None
    if args.trace:
        from perfbench.spans import Tracer

        tracer = Tracer()
        tracer.install()
    run = Run(w, data, args.seed, tracer)

    from metalpipe_spark.catalog import load_all

    session_s = run.start_session()
    t = time.perf_counter()
    run.registry = load_all()
    load_s = time.perf_counter() - t
    keep = os.path.join(work, "outputs")
    os.makedirs(keep)
    warm = run.run_pass(0, warm=True, keep=keep)
    t = time.perf_counter()
    run.check_oracles(keep)
    oracle_s = warm["oracle_s"] + time.perf_counter() - t
    for i in range(1, WARM_PASSES):
        run.run_pass(i, warm=True)
    setup_s = time.perf_counter() - T_PROCESS - gen_s - oracle_s

    timed = []
    t_timed = time.perf_counter()
    while True:
        # Traced and untraced passes go T U U T, so that the earlier,
        # less warm passes fall on both sides of trace.overhead_frac.
        traced = tracer is not None and len(timed) % 4 in (0, 3)
        timed.append(run.run_pass(len(timed), traced=traced))
        if (
            time.perf_counter() - t_timed >= args.seconds
            and len(timed) >= MIN_PASSES + 2 * (tracer is not None)
        ):
            break
    t_timed = time.perf_counter() - t_timed

    bad = run.failures()
    failed = sum(
        len(run.errors[q]) + (q in bad and not run.errors[q]) for q in w.rows
    )
    plain = [p for p in timed if not p["traced"]]
    done = [r for p in plain for r in p["rows"] if "query_s" in r]
    tail_v, tail_p, tail_n = tail([r["query_s"] for r in done])
    seen = {
        "setup_s": setup_s,
        "pass_cpu_s": _median([p["cpu_s"] for p in plain]),
        "pass_s": _median([p["pass_s"] for p in plain]),
        "query_p50_s": _median([r["query_s"] for r in done]),
        "query_tail_s": tail_v,
        "peak_rss_mb": run.proc.peak_rss_mb(),
    }
    if tracer is not None:
        from perfbench import layers

        metrics = layers.summary(
            [p for p in timed if p["traced"]], seen["pass_s"],
            session_s, load_s,
        )
        metrics.update(seen)
        os.makedirs(base, exist_ok=True)
        stem = f"{w.name}-{args.seed}.jsonl"
        tracer.write(os.path.join(base, f"spans-{stem}"))
        with open(os.path.join(base, f"rows-{stem}"), "w") as f:
            for p in timed:
                for r in p["rows"] if p["traced"] else ():
                    f.write(json.dumps({"pass": p["index"], **r}) + "\n")
        listed = PER_LAYER
    else:
        metrics, listed = seen, END_TO_END
    fp1 = bench._env_fingerprint()
    steal = bench._steal_verdict(
        fp0, fp1, time.perf_counter() - t_wall, None, None
    )
    per_row = {
        q: {
            "median_s": _median(
                [r["query_s"] for p in plain for r in p["rows"]
                 if r["row"] == q and "query_s" in r]
            ),
            "rows_checksum": sorted(run.results[q]),
            "oracle": run.oracle.get(q),
        }
        for q in w.rows
    }
    detail = {
        "workload": w.name,
        "seed": args.seed,
        "trace": args.trace,
        "timed_passes": len(timed),
        "passes": [
            {k: p[k] for k in ("traced", "pass_s", "cpu_s")}
            for p in timed
        ],
        "seen": seen,
        "session_start_s": session_s,
        "catalog_load_s": load_s,
        "input_gen_s": gen_s,
        "oracle_s": oracle_s,
        "timed_s": t_timed,
        "elapsed_s": time.perf_counter() - T_PROCESS,
        "query_tail": {"percentile": tail_p, "samples": tail_n},
        "error_frac": failed / max(run.attempted, 1),
        "failures": bad,
        "rows": per_row,
        "steal": steal,
        "steal_suspect": steal["suspect"],
        "env": {"before": fp0, "after": fp1},
    }
    return {
        "detail": detail,
        "result": {
            "correct": not bad,
            "attempted": run.attempted,
            "failed": failed,
            "metrics": {
                m.name: {"value": float(metrics.get(m.name, 0.0)), "unit": m.unit}
                for m in listed
            },
        },
    }


def main(argv=None) -> int:
    args = _parse(argv)
    out = execute(args)
    print(json.dumps({"perfbench_detail": out["detail"]}))
    print(json.dumps(out["result"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
