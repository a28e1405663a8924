#!/usr/bin/env python3
"""Smoke run of the benchmark on tiny inputs (the sf0.001 table sizes).

    python3 benchmark/smoke.py [workload ...]

For every workload (default: all in BENCHMARK.json) it asserts that

* an untraced run prints every ``end_to_end`` metric of BENCHMARK.json
  with its unit, and a traced run every ``per_layer`` metric, with all
  output checks passing;
* a run whose stored outputs are damaged before checking reports it:
  ``correct`` is false and ``failed`` is at least 1.

Exits 0 when every assertion holds.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload: str, trace: int, *extra: str) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "1", "--trace", str(trace), "--size", "tiny", *extra]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    if proc.returncode != 0:
        sys.exit(f"FAIL {' '.join(cmd)} exited {proc.returncode}:\n{proc.stderr[-3000:]}")
    return json.loads(proc.stdout.strip().splitlines()[-1])


def expect(ok: bool, what: str) -> None:
    print(("ok   " if ok else "FAIL ") + what, flush=True)
    if not ok:
        sys.exit(1)


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    workloads = sys.argv[1:] or [w["name"] for w in bench["workloads"]]
    for w in workloads:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            res = run(w, trace)
            want = {m["name"]: m["unit"] for m in bench[key]}
            got = {k: v.get("unit") for k, v in res["metrics"].items()}
            expect(got == want, f"{w} trace={trace}: every {key} metric printed with its unit")
            expect(all(isinstance(v.get("value"), (int, float)) for v in res["metrics"].values()),
                   f"{w} trace={trace}: every value is a number")
            expect(res["correct"] and res["failed"] == 0 and res["attempted"] >= 1,
                   f"{w} trace={trace}: output checks pass ({res['attempted']} operations)")
        res = run(w, 0, "--corrupt")
        expect(not res["correct"] and res["failed"] >= 1,
               f"{w}: a corrupted output trips the output check ({res['failed']} failed)")
    return 0


if __name__ == "__main__":
    sys.exit(main())
