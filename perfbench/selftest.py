"""Self-test of the benchmark: one timed pass of every workload at
sf0.001 must print every metric BENCHMARK.json names, with its unit,
and an error rate of 0; a run checked against a deliberately wrong
oracle must count that query as failed.

    python3 perfbench/selftest.py

Exits 0 when every check holds. Takes a few minutes: each run starts
its own Spark session.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import run  # noqa: E402


def bench(workload: str, trace: int, *extra: str) -> tuple[str, dict]:
    """Run one workload with one timed pass."""
    argv = ["--workload", workload, "--seed", "1", "--seconds", "0"]
    argv += ["--trace", str(trace), "--sf", "0.001", *extra]
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), *argv],
        cwd=ROOT,
        capture_output=True,
        text=True,
        timeout=600,
    )
    if out.returncode != 0:
        raise SystemExit(f"{workload}: exit {out.returncode}\n{out.stderr[-3000:]}")
    return out.stdout, json.loads(out.stdout.strip().splitlines()[-1])


def check_metrics(label: str, stdout: str, result: dict, declared: list[dict]) -> list[str]:
    problems = []
    for m in declared:
        got = result["metrics"].get(m["name"])
        if got is None or got["unit"] != m["unit"]:
            problems.append(f"{label}: metric {m['name']} missing or unit != {m['unit']}")
    extra = set(result["metrics"]) - {m["name"] for m in declared}
    if extra:
        problems.append(f"{label}: undeclared metrics {sorted(extra)}")
    if "# error_rate 0.0000" not in stdout or not result["correct"] or result["failed"]:
        problems.append(f"{label}: error_rate is not 0")
    return problems


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    problems = []
    for workload in run.WORKLOADS:
        stdout, result = bench(workload, 1)
        problems += check_metrics(f"{workload} traced", stdout, result, spec["per_layer"])
        for m in spec["end_to_end"]:
            if f"# e2e {m['name']} = " not in stdout:
                problems.append(f"{workload}: end-to-end {m['name']} not printed")
        print(f"{workload}: {result['attempted']} queries checked", flush=True)
    stdout, result = bench("pipeline", 0)
    problems += check_metrics("pipeline untraced", stdout, result, spec["end_to_end"])
    wrong = run.WORKLOADS["pipeline"][0]
    stdout, result = bench("pipeline", 0, "--break-oracle", wrong)
    if result["correct"] or result["failed"] != 1 or f"# verify {wrong}: FAIL" not in stdout:
        problems.append(f"a wrong oracle for {wrong} was not counted as one failure")
    for p in problems:
        print("FAIL", p)
    print("selftest", "failed" if problems else "passed")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
