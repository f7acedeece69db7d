"""Self-test of the benchmark harness at tiny input sizes.

    python3 perfbench/selftest.py

Runs every workload once, traced, in one Spark session, and fails
(exit code 1) unless

- every gated end-to-end and per-layer metric ``BENCHMARK.json``
  declares is emitted with its unit, and the workloads it declares are
  the harness's;
- every reported end-to-end metric of each workload has a value, a unit and a
  sample count, or is listed as unmeasured with a reason;
- no op failed (``failed_frac`` is 0).

It checks that the harness emits and checks its numbers, not what the
numbers are.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from perfbench import run as bench  # noqa: E402


def check(runs, names) -> list[str]:
    problems = []
    spec = json.loads((bench.ROOT / "BENCHMARK.json").read_text())
    if sorted(w["name"] for w in spec["workloads"]) != sorted(bench.DETAIL):
        problems.append("BENCHMARK.json workloads differ from perfbench/run.py")
    for name, run in zip(names, runs):
        for trace, key in ((False, "end_to_end"), (True, "per_layer")):
            table = bench.declared(key)
            line = json.loads(bench.result_line(run, trace))
            if set(line) != {"correct", "attempted", "failed", "metrics"}:
                problems.append(f"{name}: result keys {sorted(line)}")
            for m, unit in table.items():
                got = line["metrics"].get(m)
                if got is None or got.get("unit") != unit or not isinstance(got.get("value"), float):
                    problems.append(f"{name}: metric {m} missing or without unit {unit}")
            if trace is False and any(line["metrics"][m]["value"] <= 0 for m in table):
                problems.append(f"{name}: an end-to-end metric is not positive")
        for m in bench.DETAIL[name]:
            d = run.detail.get(m)
            if d is None and m not in bench.UNMEASURED:
                problems.append(f"{name}: {m} neither measured nor listed as unmeasured")
            if d is not None and not (d.get("unit") and d.get("n", 0) >= 1):
                problems.append(f"{name}: {m} lacks a unit or sample count")
        if run.failed or run.detail["failed_frac"]["value"] != 0:
            problems.append(f"{name}: {run.failed} failed ops: {run.failures}")
        if run.attempted < 1:
            problems.append(f"{name}: no op attempted")
    return problems


def main() -> int:
    names = list(bench.DETAIL)
    work = bench.WORK / f"selftest-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    t0 = time.perf_counter()
    try:
        runs = bench.execute(names, seed=1, seconds=1, trace=True, tiny=True, work=work)
        host = {"seed": 1}
        for name, run in zip(names, runs):
            bench.report(run, name, host, trace=True, tiny=True)
        problems = check(runs, names)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for p in problems:
        print("SELFTEST FAIL " + p)
    print(f"selftest: {len(names)} workloads, {len(problems)} problems, "
          f"{time.perf_counter() - t0:.0f} s")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
