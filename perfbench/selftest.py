#!/usr/bin/env python3
"""Smoke self-test of the benchmark at scale factor 0.001.

    python3 perfbench/selftest.py

Runs every workload once untraced and once traced, each in its own
process, and checks that the last line is the result object with every
metric BENCHMARK.json declares, that every end-to-end value is above 0 and
that the outputs were correct. Then runs warehouse_mix with a deliberately
wrong expected result for one query and checks that the op failures show.
Takes a few minutes.
"""

from __future__ import annotations

import json
import math
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from run import declared  # noqa: E402

WORKLOADS = ("queue_stream", "warehouse_mix")
ARGS = ["--seed", "7", "--seconds", "1", "--sf", "0.001"]
# One query's expected rows replaced by none at all.
WRONG = (
    "import sys; sys.path.insert(0, 'perfbench'); import run; "
    "run.main(sys.argv[1:], oracle_sql=lambda spec: spec.oracle "
    "if spec.name != 'q01_priority_dequeue' else f'SELECT * FROM ({spec.oracle}) LIMIT 0')"
)


def _result(cmd: list[str]) -> dict:
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    if out.returncode != 0:
        raise AssertionError(f"{cmd} exited {out.returncode}:\n{out.stderr[-3000:]}")
    result = json.loads(out.stdout.strip().splitlines()[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        raise AssertionError(f"{cmd}: result keys {sorted(result)}")
    return result


def main() -> None:
    e2e, layers = declared()
    zero_everywhere = set(layers)
    for w in WORKLOADS:
        for trace, names in ((0, e2e), (1, layers)):
            r = _result([sys.executable, "perfbench/run.py", "--workload", w,
                         "--trace", str(trace), *ARGS])
            got = r["metrics"]
            if set(got) != set(names):
                raise AssertionError(f"{w} trace={trace}: metrics differ from BENCHMARK.json: "
                                     f"{sorted(set(got) ^ set(names))}")
            for k, m in got.items():
                if m["unit"] != names[k] or not math.isfinite(m["value"]):
                    raise AssertionError(f"{w} trace={trace}: bad {k}: {m}")
                if trace == 0 and m["value"] <= 0:
                    raise AssertionError(f"{w}: end-to-end {k} is {m['value']}")
                if trace == 1 and m["value"] != 0:
                    zero_everywhere.discard(k)
            if not r["correct"] or r["failed"]:
                raise AssertionError(f"{w} trace={trace}: {r['failed']} of {r['attempted']} failed")
            print(f"ok   {w} trace={trace}: {len(got)} metrics, {r['attempted']} ops")
    if zero_everywhere:
        print(f"note per-layer metrics that read 0 in every workload: {sorted(zero_everywhere)}")
    r = _result([sys.executable, "-c", WRONG, "--workload", "warehouse_mix", "--trace", "0", *ARGS])
    if r["correct"] or r["failed"] == 0:
        raise AssertionError(f"a wrong expected result went unnoticed: {r}")
    print(f"ok   wrong expected result: {r['failed']} of {r['attempted']} ops failed")


if __name__ == "__main__":
    main()
