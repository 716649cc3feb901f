"""Self-test of the benchmark at the smallest input size.

For every workload in BENCHMARK.json, at one tenth of the benchmark's
input size (the query tables are then sf0.001-sized):

- an untraced run prints every end-to-end metric with its unit,
- a traced run prints every per-layer metric with its unit,
- a run that alters one output row before the output check reports
  ``correct: false`` and exits with code 1.

    python3 perfbench/selftest.py            # all workloads
    python3 perfbench/selftest.py etl        # one workload

Exits non-zero on the first expectation that does not hold.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SCALE = "0.1"


def _run(workload: str, trace: int, corrupt: bool = False) -> tuple[int, dict]:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "1", "--trace", str(trace), "--scale", SCALE]
    if corrupt:
        cmd.append("--corrupt")
    proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                          stderr=subprocess.DEVNULL, text=True, timeout=600)
    last = proc.stdout.strip().splitlines()[-1]
    return proc.returncode, json.loads(last)


def _expect(cond: bool, what: str) -> None:
    print(("ok   " if cond else "FAIL ") + what, flush=True)
    if not cond:
        raise SystemExit(1)


def main() -> None:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        bench = json.load(fh)
    names = sys.argv[1:] or [w["name"] for w in bench["workloads"]]
    for workload in names:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            rc, out = _run(workload, trace)
            _expect(rc == 0 and out["correct"] and out["failed"] == 0,
                    f"{workload} trace={trace}: correct, exit 0")
            want = {m["name"]: m["unit"] for m in bench[key]}
            got = {k: v["unit"] for k, v in out["metrics"].items()}
            _expect(got == want, f"{workload} trace={trace}: every {key} metric, with its unit")
        rc, out = _run(workload, 0, corrupt=True)
        _expect(rc == 1 and not out["correct"] and out["failed"] >= 1,
                f"{workload}: one altered output row fails the check")


if __name__ == "__main__":
    main()
