"""Layer counters read from outside the engine: ``/proc`` for the
driver, the JVM and the Python workers, Spark's status store for jobs,
stages and tasks, and a StreamingQueryListener for micro-batch phases.
"""

from __future__ import annotations

import os
import threading

from pyspark.sql.streaming import StreamingQueryListener

_TICK = os.sysconf("SC_CLK_TCK")


# -- /proc ---------------------------------------------------------------
def _stat(base: str) -> list[str] | None:
    """Fields of ``<base>/stat`` after the command name, for a process
    (``/proc/<pid>``) or a thread (``/proc/<pid>/task/<tid>``)."""
    try:
        with open(f"{base}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # comm may hold spaces; fields resume after the closing paren.
    return raw[raw.rindex(")") + 2:].split()


def _comm(base: str) -> str:
    try:
        with open(f"{base}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


def _field(path: str, key: str) -> int:
    """The number after ``key:`` in a ``/proc`` key-value file such as
    ``status`` or ``io``; 0 when the file or the key is missing."""
    try:
        with open(path) as f:
            for line in f:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def cpu_s(pid: int) -> float:
    """utime + stime of ``pid`` plus that of its reaped children."""
    st = _stat(f"/proc/{pid}")
    if st is None:
        return 0.0
    return sum(int(x) for x in st[11:15]) / _TICK


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            st = _stat(f"/proc/{d}")
            if st is not None:
                kids.setdefault(int(st[1]), []).append(int(d))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        p = todo.pop()
        for c in kids.get(p, ()):
            out.append(c)
            todo.append(c)
    return out


def jvm_pid() -> int | None:
    """The Java process behind the py4j gateway, when this process
    launched it."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    return proc.pid if proc is not None else None


def jit_threads_cpu(pid: int) -> dict[str, float]:
    """CPU seconds of each live JIT compiler thread of the JVM."""
    out: dict[str, float] = {}
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return out
    for tid in tids:
        base = f"/proc/{pid}/task/{tid}"
        if _comm(base).startswith(("C1 Compiler", "C2 Compiler")):
            st = _stat(base)
            if st is not None:
                out[tid] = (int(st[11]) + int(st[12])) / _TICK
    return out


def python_workers(jvm: int | None) -> list[int]:
    if jvm is None:
        return []
    return [p for p in descendants(jvm) if _comm(f"/proc/{p}").startswith("python")]


class ProcCounters:
    """CPU seconds and JVM write bytes of the driver, the JVM and the
    Python workers, read as one sample."""

    def __init__(self, jvm: int | None) -> None:
        self.jvm = jvm
        # The JVM starts and stops compiler threads with the JIT's load;
        # a stopped thread keeps the CPU it was last seen with.
        self._jit: dict[str, float] = {}

    def cpu_s(self) -> float:
        """CPU seconds of the driver, the JVM and the Python workers,
        less the JVM's JIT compilation: the JIT is still compiling in
        the timed passes, and how much it compiles per pass swings with
        the host's load."""
        s = self.sample()
        return (
            s["driver.cpu_s"] + s["jvm.cpu_s"] - s["jvm.jit_s"]
            + s["pyworker.cpu_s"]
        )

    def sample(self) -> dict[str, float]:
        return {
            "driver.cpu_s": cpu_s(os.getpid()),
            "jvm.cpu_s": cpu_s(self.jvm) if self.jvm else 0.0,
            "jvm.jit_s": self._jit_s(),
            "pyworker.cpu_s": sum(cpu_s(p) for p in python_workers(self.jvm)),
            "jvm.write_mb": (
                _field(f"/proc/{self.jvm}/io", "write_bytes") / 1e6 if self.jvm else 0.0
            ),
        }

    def _jit_s(self) -> float:
        if self.jvm:
            self._jit.update(jit_threads_cpu(self.jvm))
        return sum(self._jit.values())

    def peak_rss_mb(self) -> float:
        pids = [os.getpid()] + ([self.jvm] if self.jvm else [])
        return sum(_field(f"/proc/{p}/status", "VmHWM") for p in pids) / 1024


# -- Spark status store --------------------------------------------------
STAGE_FIELDS = {
    "spark.tasks": ("numTasks", 1),
    "spark.failed_tasks": ("numFailedTasks", 1),
    "spark.executor_run_s": ("executorRunTime", 1e-3),
    "spark.executor_cpu_s": ("executorCpuTime", 1e-9),
    "spark.gc_s": ("jvmGcTime", 1e-3),
    "spark.shuffle_write_mb": ("shuffleWriteBytes", 1e-6),
    "spark.shuffle_read_mb": ("shuffleReadBytes", 1e-6),
    "spark.spill_mb": ("diskBytesSpilled", 1e-6),
}


class SparkCounters:
    """Jobs, stages, tasks and their metric sums per job group, read
    from the status store after the listener bus has drained."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.jsc = self.sc._jsc.sc()
        self.tracker = self.sc.statusTracker()

    def drain_events(self) -> None:
        self.jsc.listenerBus().waitUntilEmpty()

    def jobs(self, groups) -> list[int]:
        ids: set[int] = set()
        for g in groups:
            ids.update(self.tracker.getJobIdsForGroup(g))
        return sorted(ids)

    def totals(self, job_ids) -> dict[str, float]:
        out = {k: 0.0 for k in STAGE_FIELDS}
        out["spark.stages"] = 0
        store = self.jsc.statusStore()
        seen: set[int] = set()
        for j in job_ids:
            info = self.tracker.getJobInfo(j)
            for sid in info.stageIds if info else ():
                if sid in seen:
                    continue
                seen.add(sid)
                sd = store.lastStageAttempt(sid)
                if sd.status().toString() == "SKIPPED":
                    continue
                out["spark.stages"] += 1
                for key, (getter, unit) in STAGE_FIELDS.items():
                    out[key] += getattr(sd, getter)() * unit
        return out

    def materialized(self) -> dict[str, float]:
        """Persisted RDDs (cache, persist and local checkpoints) and the
        bytes they hold right now."""
        infos = self.jsc.getRDDStorageInfo()
        return {
            "materialize.persisted_rdds": self.sc._jsc.getPersistentRDDs().size(),
            "materialize.cached_mb": sum(
                (i.memSize() + i.diskSize()) for i in infos
            ) / 1e6,
        }


# -- streaming -----------------------------------------------------------
class StreamPhases(StreamingQueryListener):
    """Collects micro-batch progress per stream run.  Callbacks arrive on
    the listener thread; ``take`` hands over what arrived so far."""

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self._runs: dict[str, list] = {}

    def onQueryStarted(self, event) -> None:
        with self._lock:
            self._runs.setdefault(str(event.runId), [])

    def onQueryProgress(self, event) -> None:
        p = event.progress
        dur = dict(p.durationMs)
        ops = p.stateOperators or []
        batch = {
            "add_ms": dur.get("addBatch", 0),
            "trigger_ms": dur.get("triggerExecution", 0),
            "commit_ms": sum(o.commitTimeMs for o in ops),
            "state_rows": sum(o.numRowsTotal for o in ops),
        }
        with self._lock:
            self._runs.setdefault(str(p.runId), []).append(batch)

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass

    def take(self) -> dict[str, list]:
        with self._lock:
            runs, self._runs = self._runs, {}
        return runs
