"""Mechanical round-close gate (VERDICT r10 task 2): a round may not
end on a red board.  Runs, in order,

  1. bench.py at the driver's setting (sf0.1, median-of-N), writing
     BENCH_LOCAL_r{N}.json — FIRST, gated on an idle machine
     (1-min loadavg < 2.0), so the committed numbers measure the
     engine and not the test suite's thermal/cache wake (VERDICT r11
     "What's wrong" #1: r11's artifact ran at loadavg 3.8→12.1 right
     after the 14-minute pytest stage and six rows read 4-8x slow),
  2. the FULL pytest suite,
  3. the full oracle sweep (every registered catalog row vs DuckDB at
     sf0.01 — the driver's correctness gate, run locally), normal AND
     --ansi, writing the merged per-row SWEEP_r{N}.json artifact
     (VERDICT r12 task 2: the driver samples the alphabetical head-50
     of a deterministically sorted catalog, so rows past the head are
     never driver-resampled — the committed sweep artifact makes
     full-catalog correctness auditable without re-running),

and exits non-zero the moment any step is red.  The round-close
snapshot commit should cite the three green artifacts this script
prints.  Both of round 10's red tests were committed in the final
session hours and never executed — this makes "green at round close"
mechanical, not assumed.

Usage:  python scripts/round_close.py <round-number> [--skip-bench]
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Evidence file a FULL green close writes (ADVICE r17): --bench-only
# retakes may only run when the pytest/sweep gates were mechanically
# green at the SAME HEAD, not on the operator's say-so.
GATE_STATE = os.path.join(REPO, ".round_close_gates.json")


def _git_head() -> str:
    out = subprocess.run(
        ["git", "rev-parse", "HEAD"], cwd=REPO, capture_output=True, text=True
    )
    return out.stdout.strip()


def _load_gate_state() -> dict | None:
    """The recorded green-close state, or None when none is recorded: a
    missing, unreadable, corrupt or non-object gate file all mean "no
    green close", never a crash of the close itself."""
    try:
        with open(GATE_STATE) as f:
            state = json.load(f)
    except (OSError, ValueError):
        return None
    return state if isinstance(state, dict) else None


def _steal_pct(window: float = 5.0) -> float:
    """Instantaneous hypervisor-steal percentage over a short window."""

    def snap() -> tuple[float, float]:
        with open("/proc/stat") as f:
            parts = f.readline().split()
        total = sum(int(x) for x in parts[1:9])
        return int(parts[8]), total

    s0, t0 = snap()
    time.sleep(window)
    s1, t1 = snap()
    return 100.0 * (s1 - s0) / max(t1 - t0, 1)


def run(step: str, cmd: list[str], env: dict | None = None) -> str:
    print(f"==== {step}: {' '.join(cmd)}", flush=True)
    t0 = time.time()
    proc = subprocess.run(
        cmd,
        cwd=REPO,
        env={**os.environ, **(env or {})},
        stdout=subprocess.PIPE,
        stderr=subprocess.STDOUT,
        text=True,
    )
    dt = time.time() - t0
    tail = "\n".join(proc.stdout.strip().splitlines()[-6:])
    print(tail)
    print(f"==== {step}: rc={proc.returncode} ({dt:.0f}s)", flush=True)
    if proc.returncode != 0:
        print(f"ROUND-CLOSE RED at step {step!r} — fix before closing.")
        raise SystemExit(1)
    return proc.stdout


def main() -> int:
    argv = sys.argv[1:]
    skip_bench = "--skip-bench" in argv
    argv = [a for a in argv if a != "--skip-bench"]
    # --bench-only: redo ONLY the bench stage (artifact retake after a
    # hypervisor-steal storm polluted a close run whose pytest/sweep
    # stages were already green); exits after writing BENCH_LOCAL_r{N}.
    bench_only = "--bench-only" in argv
    argv = [a for a in argv if a != "--bench-only"]
    if not argv:
        print(__doc__)
        return 2
    rnd = int(argv[0])
    # Contradictory flags (ADVICE r17): --bench-only asks for the bench
    # stage, --skip-bench skips it — silently running the full close
    # instead of the requested retake helped pollute the r17 artifacts.
    if bench_only and skip_bench:
        print("--bench-only and --skip-bench are contradictory; pick one.")
        return 2
    if bench_only:
        # Mechanical precondition (ADVICE r17): the retake is only legal
        # when a FULL close already ran green at this exact HEAD.
        head = _git_head()
        state = _load_gate_state()
        if (
            not state
            or state.get("round") != rnd
            or state.get("head") != head
            or not state.get("pytest_green")
            or not state.get("sweep_green")
        ):
            print(
                "--bench-only refused: no recorded green full close for "
                f"round {rnd} at HEAD {head[:12]} "
                f"(gate state: {state}). Run the full close first."
            )
            return 2

    if not skip_bench:
        # Idle gate: wait (up to 10 min) for the 1-min loadavg to drop
        # below 2.0 before benching, so the artifact's env fingerprint
        # proves the run measured an unloaded machine.
        deadline = time.time() + 600
        while (load := os.getloadavg()[0]) >= 2.0:
            if time.time() > deadline:
                print(f"bench idle-gate: loadavg still {load:.1f} after "
                      "10 min — benching anyway (fingerprint will show it)")
                break
            print(f"bench idle-gate: loadavg {load:.1f} >= 2.0, waiting 30s",
                  flush=True)
            time.sleep(30)
        # bench.py emits TWO JSON lines (r14): the full payload tagged
        # bench_line=full, then a <=1500-char summary as the final line
        # for the driver's 2000-char capture.  The LOCAL artifact
        # archives the full one.  Steal gate (VERDICT r17 task 2): a
        # close artifact whose own steal/calib stamps flag it suspect is
        # NOT stamped while a clean retry is possible — both r17 close
        # takes were storm-polluted and the committed ground truth was
        # unusable.  Up to 3 attempts, waiting for the storm to pass
        # between them; if every attempt is suspect the least-stolen one
        # is stamped WITH its flag so the pollution stays auditable.
        sys.path.insert(0, REPO)
        from bench import _find_full_line

        attempts: list[dict] = []
        for attempt in range(3):
            if attempt:
                deadline = time.time() + 900
                while (pct := _steal_pct()) > 1.0:
                    if time.time() > deadline:
                        print(
                            f"steal-gate: still {pct:.1f}% after 15 min — "
                            "retrying anyway (stamps will show it)"
                        )
                        break
                    print(
                        f"steal-gate: {pct:.1f}% > 1%, waiting 60s",
                        flush=True,
                    )
                    time.sleep(60)
            out = run(
                "bench",
                [sys.executable, "bench.py"],
                env={
                    "SPARK_GRAFT_SF_DIR": os.environ.get(
                        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"
                    ),
                    "SPARK_GRAFT_BENCH_RUNS": os.environ.get(
                        "SPARK_GRAFT_BENCH_RUNS", "3"
                    ),
                    # Per-run samples for the LOCAL artifact only — the
                    # driver's run stays compact (its capture truncated
                    # the r12 samples-bearing line mid-stream).
                    "SPARK_GRAFT_BENCH_SAMPLES": "1",
                },
            )
            payload = _find_full_line(out)
            if payload is None:
                raise SystemExit(
                    "bench stdout carried no bench_line=full line"
                )
            payload.pop("bench_line", None)
            attempts.append(payload)
            if not payload.get("steal_suspect"):
                break
            print(
                f"bench attempt {attempt + 1} STEAL-SUSPECT: "
                f"{payload.get('steal')} — refusing to stamp it",
                flush=True,
            )
        else:
            attempts.sort(
                key=lambda p: p.get("steal", {}).get(
                    "steal_frac_of_cpu", 1.0
                )
            )
            payload = attempts[0]
            print(
                "!" * 72
                + "\nALL bench attempts steal-suspect; stamping the "
                f"least-stolen one ({payload.get('steal')}) — treat the "
                "artifact's numbers as environment-bound.\n" + "!" * 72,
                flush=True,
            )
        payload["bench_attempts"] = len(attempts)
        # Calibration gate (VERDICT r14 task 1): r14's committed
        # artifact read 1.47x over r13 from pure host drift.  Compare
        # this run's fixed-work calibration against the previous
        # round's artifact; >1.2x drift means the host is NOT the one
        # the prior numbers were taken on — annotate the artifact (so
        # cross-round ratio math can normalize by it) and warn loudly.
        # Not a hard refusal: a degraded host may never recover inside
        # the round, and the annotation is what makes the artifact
        # honest.
        prior_art = os.path.join(REPO, f"BENCH_LOCAL_r{rnd - 1}.json")
        cur_calib = payload.get("calib", {})
        if os.path.exists(prior_art) and cur_calib.get("jvm_hash_sec"):
            with open(prior_art) as f:
                prior = json.load(f)
            prior_calib = prior.get("calib", {})
            if prior_calib.get("jvm_hash_sec"):
                drift = {
                    k: round(cur_calib[k] / prior_calib[k], 3)
                    for k in ("jvm_hash_sec", "numpy_sec", "python_sec")
                    if prior_calib.get(k) and cur_calib.get(k)
                }
                payload["calib_vs_prior"] = {
                    "round": rnd - 1,
                    **drift,
                    "rule": "divide cross-round per-row ratios by"
                    " jvm_hash_sec ratio before calling them code",
                }
                worst = max(drift.values(), default=1.0)
                best = min(drift.values(), default=1.0)
                if worst > 1.2 or best < 1 / 1.2:
                    print(
                        "!" * 72
                        + f"\nCALIB DRIFT vs r{rnd - 1}: {drift} — this"
                        " host is NOT running at the prior artifact's"
                        " speed; cross-round per-row ratios are only"
                        " code signals after normalizing by the"
                        " jvm_hash_sec ratio (BENCH_NOTES.md).\n"
                        + "!" * 72,
                        flush=True,
                    )
        art = os.path.join(REPO, f"BENCH_LOCAL_r{rnd}.json")
        # ONE JSON line — the format every prior BENCH_LOCAL artifact
        # uses and bench_compare's line-oriented loader expects.
        with open(art, "w") as f:
            json.dump(payload, f, sort_keys=True)
            f.write("\n")
        print(f"wrote {art}: {len(payload['queries'])} queries, "
              f"{payload['value']}s total")
        if bench_only:
            print("bench-only mode: artifact retaken, skipping "
                  "pytest/sweep stages (must already be green).")
            return 0

    # FULL suite, slow tier included: tests/pytest.ini deselects
    # slow-marked tests by default so the driver's verify stays inside
    # its budget (VERDICT r17 task 1); the close gate overrides that
    # with an always-true marker expression and runs everything.
    run(
        "pytest",
        [
            sys.executable, "-m", "pytest", "tests/", "-q",
            "-m", "slow or not slow",
        ],
    )
    # Temp sweep outputs live OUTSIDE the repo: a red step exits before
    # any unlink, and stale dotfiles in the repo root would sit next to
    # the committed SWEEP artifacts where a `git add .` picks them up.
    import tempfile

    tmpdir = tempfile.mkdtemp(prefix=f"sweep_r{rnd}_")
    normal_json = os.path.join(tmpdir, "normal.json")
    ansi_json = os.path.join(tmpdir, "ansi.json")
    run(
        "oracle_sweep",
        [sys.executable, "scripts/oracle_sweep.py", "--json", normal_json],
    )
    run(
        "oracle_sweep_ansi",
        [
            sys.executable, "scripts/oracle_sweep.py", "--ansi",
            "--json", ansi_json,
        ],
    )
    with open(normal_json) as f:
        normal = json.load(f)
    with open(ansi_json) as f:
        ansi = json.load(f)
    sweep_art = os.path.join(REPO, f"SWEEP_r{rnd}.json")
    with open(sweep_art, "w") as f:
        json.dump(
            {
                "sf_dir": normal["sf_dir"],
                "green": normal["green"],
                "total": normal["total"],
                # Honest SKIP split (r15 verdict cosmetic finding): a
                # rows-only row is not oracle-green and must not be
                # folded into the green count silently.
                "oracle_green": normal.get("oracle_green"),
                "oracle_total": normal.get("oracle_total"),
                "rows_only": normal.get("rows_only"),
                "ansi_green": ansi["green"],
                "ansi_total": ansi["total"],
                "ansi_oracle_green": ansi.get("oracle_green"),
                "rows": {
                    name: {**rec, "ansi": ansi["rows"][name]["status"]}
                    for name, rec in normal["rows"].items()
                },
            },
            f,
            sort_keys=True,
            indent=1,
        )
        f.write("\n")
    print(
        f"wrote {sweep_art}: "
        f"{normal.get('oracle_green')}/{normal.get('oracle_total')} "
        f"oracle-green + {normal.get('rows_only')} rows-only, "
        f"{ansi.get('oracle_green')}/{ansi.get('oracle_total')} "
        f"oracle-green under ANSI"
    )

    # Record the mechanically-green gates for this HEAD so a later
    # --bench-only retake has evidence to check against (ADVICE r17).
    with open(GATE_STATE, "w") as f:
        json.dump(
            {
                "round": rnd,
                "head": _git_head(),
                "pytest_green": True,
                "sweep_green": True,
                "ts": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
            },
            f,
        )
        f.write("\n")
    print(f"ROUND {rnd} CLOSE: ALL GREEN (gate state -> {GATE_STATE})")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
