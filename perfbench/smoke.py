#!/usr/bin/env python3
"""The benchmark's own tests: every workload at the tiny size, untraced and
traced, plus the run in a directory that holds no program.

    python3 perfbench/smoke.py

Checks that each run exits 0, passes its correctness checks and prints every
metric named in BENCHMARK.json with its unit, that incremental_meta prints
``spurious_orphan_rows``, and that without the program the run exits non-zero
without printing a result. Takes about five minutes on 4 cores.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(cwd: str, workload: str, trace: int) -> tuple[int, list[str]]:
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "0",
         "--seconds", "10", "--trace", str(trace), "--size", "tiny"],
        cwd=cwd, capture_output=True, text=True, timeout=600)
    if p.returncode != 0:
        sys.stderr.write(p.stderr[-3000:])
    return p.returncode, p.stdout.strip().splitlines()


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    want = {0: {m["name"]: m["unit"] for m in bench["end_to_end"]},
            1: {m["name"]: m["unit"] for m in bench["per_layer"]}}
    failures = []
    for w in (x["name"] for x in bench["workloads"]):
        for trace in (0, 1):
            rc, out = run(ROOT, w, trace)
            tag, n = f"{w} trace={trace}", len(failures)
            if rc != 0 or not out:
                failures.append(f"{tag}: exit {rc}")
                print(f"FAIL {tag}", flush=True)
                continue
            res = json.loads(out[-1])
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            if not res["correct"] or res["failed"] or res["attempted"] < 1:
                failures.append(f"{tag}: correct={res['correct']} failed={res['failed']}")
            if got != want[trace]:
                diff = set(got.items()) ^ set(want[trace].items())
                failures.append(f"{tag}: metric names/units differ: {sorted(diff)[:6]}")
            if w == "incremental_meta" and not any(
                    line.startswith("spurious_orphan_rows=") for line in out):
                failures.append(f"{tag}: spurious_orphan_rows not printed")
            print(("ok " if len(failures) == n else "FAIL ") + tag, flush=True)

    # without the program: non-zero exit, no result
    bare = os.path.join(ROOT, ".perfbench_work", "smoke_bare")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    rc, out = run(bare, bench["workloads"][0]["name"], 0)
    shutil.rmtree(bare, ignore_errors=True)
    if rc == 0 or any(line.startswith("{") for line in out):
        failures.append(f"bare directory: exit {rc}, printed {out[-1:]}")
    else:
        print("ok bare directory exits non-zero", flush=True)

    for f in failures:
        print(f"FAIL {f}")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
