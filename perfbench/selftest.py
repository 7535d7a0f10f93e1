#!/usr/bin/env python3
"""Small-scale self-test of the benchmark (fixture tables at sf 0.001).

    python3 perfbench/selftest.py

Checks that:
  * every workload prints exactly the end-to-end metrics of BENCHMARK.json,
    each with its unit, and passes its output checks;
  * a traced run prints exactly the per-layer metrics, each with its unit;
  * a new seed changes the seeded inputs (the migration targets derived
    from the fixtures) but not the metric names;
  * a deliberately corrupted output fails the output check.
Exits 0 when all hold.
"""

from __future__ import annotations

import filecmp
import json
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[0] = ROOT

SF = "0.001"


def run(workload: str, seed: int, trace: int = 0, *extra: str, report: bool = False):
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", "1", "--trace", str(trace), "--sf", SF, *extra],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    if p.returncode != 0:
        raise AssertionError(f"{workload} exited {p.returncode}: {p.stderr[-2000:]}")
    lines = p.stdout.strip().splitlines()
    res = json.loads(lines[-1])
    return (res, json.loads(lines[-2])) if report else res


def expect(cond: bool, what: str, failures: list[str]) -> None:
    print(("ok   " if cond else "FAIL ") + what, flush=True)
    if not cond:
        failures.append(what)


def main() -> int:
    import pyarrow.parquet as pq

    from perfbench import gen

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in bench["per_layer"]}
    failures: list[str] = []

    def units(res: dict) -> dict:
        return {k: v["unit"] for k, v in res["metrics"].items()}

    for w in bench["workloads"]:
        res = run(w["name"], 1)
        expect(set(res) == {"correct", "attempted", "failed", "metrics"},
               f"{w['name']}: result keys", failures)
        expect(units(res) == e2e, f"{w['name']}: every end-to-end metric with its unit", failures)
        expect(res["correct"] and res["failed"] == 0, f"{w['name']}: outputs pass", failures)

    res = run("migrate_batch", 1, 1)
    expect(units(res) == layer, "traced run: every per-layer metric with its unit", failures)

    scratch = os.path.join(ROOT, ".perfbench_work", "selftest")
    shutil.rmtree(scratch, ignore_errors=True)
    a = gen.generate(os.path.join(scratch, "a"), 1, float(SF))
    a2 = gen.generate(os.path.join(scratch, "a2"), 1, float(SF))
    b = gen.generate(os.path.join(scratch, "b"), 2, float(SF))

    def target_rows(x: dict) -> dict[str, int]:
        return {t: pq.read_table(os.path.join(x["targets"], t)).num_rows
                for t in sorted(os.listdir(x["targets"]))}

    def differing(x: dict, y: dict) -> set[str]:
        return {t for t in os.listdir(x["targets"])
                if not filecmp.cmp(os.path.join(x["targets"], t, "part-00000.parquet"),
                                   os.path.join(y["targets"], t, "part-00000.parquet"),
                                   shallow=False)}

    expect(not differing(a, a2), "same seed: identical inputs", failures)
    expect(differing(a, b) == set(os.listdir(a["targets"])),
           "new seed: every seeded target differs", failures)
    expect(target_rows(a) == target_rows(b) and a["rows"] == b["rows"],
           "new seed: same row counts", failures)
    shutil.rmtree(scratch, ignore_errors=True)
    res = run("migrate_batch", 2)
    expect(units(res) == e2e and res["correct"], "new seed: same metric names, outputs pass",
           failures)

    for w in bench["workloads"]:
        res, rep = run(w["name"], 1, 0, "--corrupt", report=True)
        expect(not res["correct"] and res["failed"] >= 1,
               f"{w['name']}: a corrupted output fails the check", failures)
        if w["name"] == "migrate_batch":  # the DuckDB check and the checked-target one
            msgs = " ".join(rep["failures"])
            expect("expected" in msgs and "differ from the checked target" in msgs,
                   "migrate_batch: both target checks catch a corrupted target", failures)

    print("self-test", "FAILED: " + "; ".join(failures) if failures else "passed")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
