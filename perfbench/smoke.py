#!/usr/bin/env python3
"""Smoke test of the benchmark at tiny input sizes (about 5 minutes).

    python3 perfbench/smoke.py [workload ...]

For every workload it checks that:
  - an untraced run passes its output checks and prints every end-to-end
    metric of BENCHMARK.json with its unit;
  - a traced run with a deliberately corrupted output prints every
    per-layer metric with its unit, reports ``correct: false`` and exits
    non-zero, so the output check is not vacuous.
It also checks that the benchmark exits non-zero without printing a result
in a directory that holds only BENCHMARK.json and the benchmark itself.
Exits non-zero on the first failure.
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORKLOADS = ("jobsdb_daily", "corpus_curation", "index_maintenance")


def run(args: list[str], cwd: Path = ROOT) -> tuple[int, dict | None]:
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )
    lines = p.stdout.strip().splitlines()
    try:
        return p.returncode, json.loads(lines[-1]) if lines else None
    except json.JSONDecodeError:
        return p.returncode, None


def expect(cond: bool, what: str) -> None:
    print(("ok   " if cond else "FAIL ") + what, flush=True)
    if not cond:
        sys.exit(1)


def check_metrics(result: dict, wanted: list[dict], what: str) -> None:
    got = result["metrics"]
    missing = [m["name"] for m in wanted if m["name"] not in got]
    expect(not missing, f"{what}: every metric printed (missing {missing[:5]})")
    bad = [m["name"] for m in wanted if got[m["name"]]["unit"] != m["unit"]]
    expect(not bad, f"{what}: units match BENCHMARK.json (wrong {bad[:5]})")
    expect(set(result) == {"correct", "attempted", "failed", "metrics"}, f"{what}: result keys")


def main() -> int:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    for w in sys.argv[1:] or WORKLOADS:
        base = ["--workload", w, "--seed", "7", "--seconds", "1", "--tiny"]
        rc, res = run(base + ["--trace", "0"])
        expect(rc == 0 and res is not None and res["correct"], f"{w}: untraced run passes its checks")
        check_metrics(res, spec["end_to_end"], f"{w} untraced")
        expect(all(res["metrics"][m["name"]]["value"] > 0 for m in spec["end_to_end"]),
               f"{w}: end-to-end metrics are non-zero")
        rc, res = run(base + ["--trace", "1", "--corrupt"])
        expect(res is not None, f"{w}: traced run prints a result")
        check_metrics(res, spec["per_layer"], f"{w} traced")
        expect(rc != 0 and not res["correct"] and res["failed"] >= 1,
               f"{w}: corrupted output fails the check")
        m = res["metrics"]
        layers = sum(v["value"] for k, v in m.items() if k.endswith(".self_s") and k != "session.self_s")
        unattributed = m["unattributed_s"]["value"]
        expect(unattributed >= 0, f"{w}: unattributed_s is not negative")
        expect(abs(layers + unattributed - m["traced_wall_s"]["value"]) < 1e-3,
               f"{w}: layer self times plus unattributed_s equal the traced wall time")

    bare = ROOT / ".perfbench_work" / "smoke-bare"
    shutil.rmtree(bare, ignore_errors=True)
    bare.mkdir(parents=True)
    try:
        shutil.copy(ROOT / "BENCHMARK.json", bare)
        for p in spec["paths"]:
            shutil.copytree(ROOT / p, bare / p, ignore=shutil.ignore_patterns("__pycache__"))
        rc, res = run(["--workload", WORKLOADS[0], "--seed", "1", "--seconds", "1", "--trace", "0"],
                      cwd=bare)
        expect(rc != 0 and res is None, "without the engine the benchmark fails and prints no result")
    finally:
        shutil.rmtree(bare, ignore_errors=True)
        try:
            bare.parent.rmdir()
        except OSError:  # another run's work dir is still there
            pass
    return 0


if __name__ == "__main__":
    sys.exit(main())
