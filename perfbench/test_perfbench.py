"""The benchmark's own tests, at a small scale.

    python3 -m pytest perfbench/test_perfbench.py -q -p no:cacheprovider

The end-to-end tests run a two-row workload on tiny inputs, each in
its own interpreter (one JVM per run, like the real benchmark).
"""

from __future__ import annotations

import filecmp
import json
import os
import subprocess
import sys

from perfbench import inputs, run
from perfbench.metrics import END_TO_END, PER_LAYER, benchmark_entries
from perfbench.workloads import WORKLOADS

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Runs run.main on a tiny workload; argv[1] is a JSON list of CLI args,
# argv[2] a row whose oracle is swapped for another row's (or "").
_DRIVER = """
import json, sys
sys.path.insert(0, {root!r})
from perfbench import run, workloads
from perfbench.inputs import Scale
workloads.WORKLOADS["tiny"] = workloads.Workload(
    "tiny", "test", ("q_treehorn_props", "q_stream_dedup"),
    Scale(sf=0.001, n_docs=100, n_embeddings=100),
)
if sys.argv[2]:
    from metalpipe_spark.catalog import load_all
    reg = load_all()
    reg[sys.argv[2]].oracle = reg["q01_pricing_summary"].oracle
sys.exit(run.main(json.loads(sys.argv[1])))
"""


def _run_tiny(seed: int, trace: int, corrupt: str = "") -> dict:
    args = ["--workload", "tiny", "--seed", str(seed), "--seconds", "1",
            "--trace", str(trace)]
    p = subprocess.run(
        [sys.executable, "-c", _DRIVER.format(root=ROOT), json.dumps(args), corrupt],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    return json.loads(p.stdout.strip().splitlines()[-1])


def test_benchmark_json_lists_every_metric_and_workload():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert {k: bench[k] for k in ("end_to_end", "per_layer")} == benchmark_entries()
    assert bench["workloads"] == [
        {"name": w.name, "why": w.why} for w in WORKLOADS.values()
    ]
    assert all(m.bound <= END_TO_END[0].bound for m in END_TO_END)


def test_same_seed_gives_byte_identical_inputs(tmp_path):
    scale = inputs.Scale(sf=0.001, n_docs=200, n_embeddings=100)
    a = inputs.generate(str(tmp_path / "a"), 7, scale)
    b = inputs.generate(str(tmp_path / "b"), 7, scale)
    c = inputs.generate(str(tmp_path / "c"), 8, scale)
    names = [f"{t}.parquet" for t in inputs.TABLES]
    match, mismatch, errors = filecmp.cmpfiles(a, b, names, shallow=False)
    assert match == names and not mismatch and not errors
    _, differ, _ = filecmp.cmpfiles(a, c, names, shallow=False)
    assert "documents.parquet" in differ and "lineitem.parquet" in differ


def test_tail_keeps_ten_samples_beyond_it():
    value, pct, n = run.tail([float(i) for i in range(1, 101)])
    assert (value, n) == (90.0, 100) and pct == 90.0
    assert run.tail([3.0, 1.0, 2.0])[0] == 3.0


def test_checksum_that_differs_between_passes_fails_the_row():
    r = run.Run(WORKLOADS["relational"], "", 1, None)
    q = r.w.rows[0]
    r.results[q] = {(6, 11), (6, 12)}
    assert q in r.failures()
    r.results[q] = {(6, 11)}
    r.warm_rows[q] = 7
    assert q in r.failures()
    r.warm_rows[q] = 6
    assert q in r.failures()  # never checked against its oracle
    r.oracle[q] = "match"
    assert q not in r.failures()


def test_untraced_run_prints_every_end_to_end_metric():
    out = _run_tiny(seed=3, trace=0)
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 8
    assert set(out["metrics"]) == {m.name for m in END_TO_END}
    for m in END_TO_END:
        assert out["metrics"][m.name]["unit"] == m.unit
        assert out["metrics"][m.name]["value"] > 0


def test_corrupted_expected_output_fails_the_run():
    out = _run_tiny(seed=3, trace=0, corrupt="q_treehorn_props")
    assert not out["correct"] and out["failed"] >= 1


def test_traced_counts_repeat_exactly_for_a_seed():
    a, b = _run_tiny(seed=5, trace=1), _run_tiny(seed=5, trace=1)
    assert a["correct"] and b["correct"]
    assert set(a["metrics"]) == {m.name for m in PER_LAYER}
    for m in PER_LAYER:
        assert a["metrics"][m.name]["unit"] == m.unit
        if m.unit == "count":
            assert a["metrics"][m.name] == b["metrics"][m.name], m.name
    assert a["metrics"]["stream.batches"]["value"] > 0
    assert a["metrics"]["py4j.calls"]["value"] > 0
