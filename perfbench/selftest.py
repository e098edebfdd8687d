#!/usr/bin/env python3
"""Tiny-size self-test of the benchmark.

    python3 perfbench/selftest.py

Runs every workload of BENCHMARK.json at the ``tiny`` input size, once
untraced and once traced, and checks that the last output line is the
result object with every end-to-end (resp. per-layer) metric named there,
each with its unit and a value above 0 (GC time may be 0 at this size),
and no failed step.  Then it plants a wrong output
in one run per workload and checks that the run reports it as failed.
Exits 0 when all of that holds.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

ROOT = os.getcwd()
#: At the tiny size a pass can end before the JVM collects garbage once.
MAY_BE_ZERO_WHEN_TINY = {"spark.gc_s"}


def run(workload: str, trace: int, plant: bool = False) -> dict:
    cmd = [sys.executable, os.path.join(os.path.dirname(os.path.abspath(__file__)), "run.py"),
           "--workload", workload, "--seed", "3", "--seconds", "1", "--trace", str(trace),
           "--shape", "tiny"] + (["--plant"] if plant else [])
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    if p.returncode != 0:
        raise AssertionError(f"{' '.join(cmd[1:])} exited {p.returncode}:\n{p.stderr[-2000:]}")
    return json.loads(p.stdout.strip().splitlines()[-1])


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    problems = []
    for w in spec["workloads"]:
        name = w["name"]
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            res = run(name, trace)
            if sorted(res) != ["attempted", "correct", "failed", "metrics"]:
                problems.append(f"{name} trace={trace}: keys {sorted(res)}")
            if not (res["correct"] and res["failed"] == 0 and res["attempted"] >= 1):
                problems.append(f"{name} trace={trace}: not correct ({res['failed']} failed)")
            for m in spec[key]:
                got = res["metrics"].get(m["name"]) or {}
                value = got.get("value")
                if (got.get("unit") != m["unit"] or not isinstance(value, (int, float))
                        or value < 0 or (value == 0 and m["name"] not in MAY_BE_ZERO_WHEN_TINY)):
                    problems.append(f"{name} trace={trace}: metric {m['name']} is {got}")
            extra = set(res["metrics"]) - {m["name"] for m in spec[key]}
            if extra:
                problems.append(f"{name} trace={trace}: metrics not in BENCHMARK.json {extra}")
        planted = run(name, 0, plant=True)
        if planted["failed"] == 0 or planted["correct"]:
            problems.append(f"{name}: a planted wrong output was not detected")
        print(f"{name}: ok" if not problems else f"{name}: {problems}", flush=True)
    for p in problems:
        print("FAIL", p)
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
