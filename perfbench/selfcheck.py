#!/usr/bin/env python3
"""Self-check of the benchmark's failure accounting.

    python3 perfbench/selfcheck.py

Runs the board-relational workload with two injected queries: one that
throws and one whose result differs from its recorded fingerprint. Passes
(exit 0) only if the run names both, reports error_rate > 0, marks the
result incorrect and exits non-zero.
"""
import json
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
SEED = 990001


def main():
    proc = subprocess.run(
        [sys.executable, str(ROOT / "perfbench" / "run.py"), "--workload", "board-relational",
         "--seed", str(SEED), "--seconds", "4", "--trace", "0", "--inject-faults"],
        cwd=ROOT, stdout=subprocess.PIPE, text=True, timeout=600)
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    detail = json.loads((ROOT / ".bench_out" /
                         f"board-relational-seed{SEED}-trace0.json").read_text())
    failed = {f["op"] for f in detail["failures"]}
    checks = {
        "exit code is non-zero": proc.returncode != 0,
        "result is marked incorrect": result["correct"] is False,
        "both injected queries are counted as failed": result["failed"] >= 2,
        "selfcheck_throw is listed": "selfcheck_throw" in failed and any(
            "FAILED selfcheck_throw" in ln for ln in lines),
        "selfcheck_wrong is listed": "selfcheck_wrong" in failed and any(
            "FAILED selfcheck_wrong" in ln for ln in lines),
        "error_rate > 0": detail["error_rate"] > 0,
        "no other operation failed": failed == {"selfcheck_throw", "selfcheck_wrong"},
    }
    for name, ok in checks.items():
        print(f"{'ok  ' if ok else 'FAIL'} {name}")
    sys.exit(0 if all(checks.values()) else 1)


if __name__ == "__main__":
    main()
