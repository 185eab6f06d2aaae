#!/usr/bin/env python3
"""Harness self-test: prove the benchmark reports what it claims.

    python3 perfbench/selftest.py

For every workload, on a small seeded input:

1. an untraced run must verify every operation and emit every
   ``end_to_end`` metric of BENCHMARK.json with its unit;
2. a traced run must emit every ``per_layer`` metric with its unit, and
   its operations' build + execute times must add up to the traced
   pass minus the cache reset;
3. a run whose expected oracle answer is corrupted must report failed
   operations (``ok_ratio`` < 1, ``correct`` false), so the correctness
   gate cannot pass silently.

Exits 0 when every check holds. Each run is a separate process, as the
benchmark is run; ``--child`` is that process's entry point.
"""

from __future__ import annotations

import dataclasses
import json
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
SEED = 1
#: usgs_etl shrunk to the generator's base size (1.5k events) so the
#: self-test stays short; near_dup already runs at base size.
SMALL_SCALES = {"usgs_etl": {"events": 1}}


def child(argv: list[str]) -> int:
    sys.path.insert(0, str(HERE))
    import run
    wl = run.WORKLOADS[argv[argv.index("--workload") + 1]]
    if wl.name in SMALL_SCALES:
        run.WORKLOADS[wl.name] = dataclasses.replace(
            wl, scales=SMALL_SCALES[wl.name])
    return run.main(argv)


def run_once(workload: str, trace: int, *extra: str) -> dict:
    argv = ["--workload", workload, "--seed", str(SEED), "--seconds", "1",
            "--trace", str(trace), *extra]
    proc = subprocess.run([sys.executable, __file__, "--child", *argv],
                          capture_output=True, text=True, timeout=600)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        raise SystemExit(f"{workload} {argv}: exit {proc.returncode}\n"
                         f"{proc.stderr[-3000:]}")
    return json.loads(lines[-1])


def expect_metrics(result: dict, spec: list[dict], what: str) -> list[str]:
    errors = []
    got = result["metrics"]
    for m in spec:
        if m["name"] not in got:
            errors.append(f"{what}: {m['name']} missing")
        elif got[m["name"]]["unit"] != m["unit"]:
            errors.append(f"{what}: {m['name']} unit "
                          f"{got[m['name']]['unit']} != {m['unit']}")
    extra = set(got) - {m["name"] for m in spec}
    if extra:
        errors.append(f"{what}: unexpected metrics {sorted(extra)}")
    return errors


def check_ledger_sums(workload: str) -> list[str]:
    """In the traced pass, build + execute of the operations must add up
    to the pass's wall time minus the cache reset."""
    ledger = json.loads((HERE / ".work" / "results" /
                         f"{workload}-seed{SEED}-trace1.json").read_text())
    wall = ledger["pass_walls_s"][1] - ledger["reset_s"][1]
    ops = sum(r["build_s"] + r["execute_s"]
              for r in ledger["ledger"] if r["pass"] == 1)
    if abs(wall - ops) > 0.01 * wall:
        return [f"{workload}: operations sum to {ops:.3f} s, "
                f"traced pass minus reset is {wall:.3f} s"]
    return []


def main() -> int:
    bench = json.loads((HERE.parent / "BENCHMARK.json").read_text())
    errors = []
    for w in bench["workloads"]:
        name = w["name"]
        plain = run_once(name, 0)
        errors += expect_metrics(plain, bench["end_to_end"], f"{name} trace 0")
        if not plain["correct"] or plain["failed"]:
            errors.append(f"{name}: clean run reported failures")
        traced = run_once(name, 1)
        errors += expect_metrics(traced, bench["per_layer"], f"{name} trace 1")
        errors += check_ledger_sums(name)
        bad = run_once(name, 0, "--corrupt-expected")
        ok_ratio = bad["metrics"]["ok_ratio"]["value"]
        if bad["correct"] or not bad["failed"] or ok_ratio >= 1.0:
            errors.append(f"{name}: corrupted oracle answer went unnoticed")
        print(f"{name}: clean {plain['attempted']} ops ok, traced ok, "
              f"corrupted run failed {bad['failed']}/{bad['attempted']}",
              flush=True)
    for e in errors:
        print("SELFTEST FAIL:", e)
    print("selftest", "FAILED" if errors else "passed")
    return 1 if errors else 0


if __name__ == "__main__":
    if len(sys.argv) > 1 and sys.argv[1] == "--child":
        sys.exit(child(sys.argv[2:]))
    sys.exit(main())
