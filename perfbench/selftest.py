"""The benchmark's own self-test.

    python3 perfbench/selftest.py               # every workload, both modes
    python3 perfbench/selftest.py report_queries

1. A tiny-size run of each workload, untraced and traced, must print
   every end-to-end metric on its report lines, put exactly the
   contract's metrics in its result line, and pass all its checks.
2. A run against a deliberately wrong pinned fingerprint must fail ops,
   which proves the output checks can fail.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.layers import END_TO_END, PER_LAYER  # noqa: E402
from perfbench.workloads import REPORT_QUERIES  # noqa: E402

#: printed on the report lines of every run, beside the result line
REPORTED = END_TO_END + ["error_rate", "view_p50_s", "stored_bytes_per_input_byte"]
WORKLOADS = ["upload_session", "report_queries", "curation_queries", "curation_stream"]


def run(workload: str, trace: int, *extra: str) -> tuple[list[str], dict]:
    cmd = [
        sys.executable, os.path.join(ROOT, "perfbench", "run.py"),
        "--workload", workload, "--seed", "5", "--seconds", "1",
        "--trace", str(trace), "--size", "tiny", *extra,
    ]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    if proc.returncode != 0:
        raise AssertionError(f"{workload}: exit {proc.returncode}\n{proc.stderr[-3000:]}")
    lines = proc.stdout.strip().splitlines()
    return lines[:-1], json.loads(lines[-1])


def check_run(workload: str, trace: int) -> list[str]:
    problems = []
    report, result = run(workload, trace)
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        problems.append(f"result keys {sorted(result)}")
    want = PER_LAYER if trace else END_TO_END
    if set(result["metrics"]) != set(want):
        problems.append(f"metrics {sorted(result['metrics'])} != {sorted(want)}")
    printed = {line.split()[0] for line in report if line.startswith("  ")}
    missing = [m for m in REPORTED if m not in printed]
    if missing:
        problems.append(f"not printed: {missing}")
    if not result["correct"] or result["failed"] or result["attempted"] < 1:
        problems.append(f"checks failed: {report[-3:]}")
    return [f"{workload} trace={trace}: {p}" for p in problems]


def check_wrong_pin() -> list[str]:
    with open(os.path.join(ROOT, "perfbench", "pins.json")) as f:
        pins = json.load(f)
    name = sorted(pins)[0]
    pins[name] = "0:0000000000000000"
    work = os.path.join(ROOT, ".perfbench_work")
    os.makedirs(work, exist_ok=True)
    path = os.path.join(work, f"wrong_pins_{os.getpid()}.json")
    with open(path, "w") as f:
        json.dump(pins, f)
    try:
        workload = "report_queries" if name in REPORT_QUERIES else "curation_queries"
        _, result = run(workload, 0, "--pins", path)
    finally:
        os.remove(path)
    rate = result["failed"] / result["attempted"]
    if rate <= 0 or result["correct"]:
        return [f"wrong pin for {name}: error rate {rate}, correct={result['correct']}"]
    return []


def main(argv: list[str]) -> int:
    problems = []
    for workload in argv or WORKLOADS:
        for trace in (0, 1):
            found = check_run(workload, trace)
            print(f"{'FAIL' if found else 'ok  '} {workload} trace={trace}", flush=True)
            problems += found
    found = check_wrong_pin()
    print(f"{'FAIL' if found else 'ok  '} a wrong pinned fingerprint fails ops")
    problems += found
    for p in problems:
        print("  " + p)
    return 1 if problems else 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
