#!/usr/bin/env python3
"""Self-test of the benchmark: every workload once untraced and once traced.

    python3 perfbench/selftest.py

Checks that each run exits 0, that its last line carries exactly the
metrics BENCHMARK.json names (end-to-end untraced, per-layer traced), that
every value is a finite number, and that nothing failed. It also checks
that run.py refuses to run (non-zero exit, no result line) in a directory
holding only BENCHMARK.json and the benchmark's own files.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)


def _run(cwd: str, workload: str, trace: int) -> tuple[int, str]:
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
                        "--seconds", "1", "--trace", str(trace)],
                       cwd=cwd, capture_output=True, text=True, timeout=400)
    return p.returncode, p.stdout + p.stderr


def main() -> int:
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        bench = json.load(f)
    problems = []
    for wl in (w["name"] for w in bench["workloads"]):
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            code, out = _run(REPO, wl, trace)
            lines = out.strip().splitlines()
            try:
                res = json.loads(next(ln for ln in reversed(lines) if ln.startswith("{")))
            except (StopIteration, json.JSONDecodeError):
                problems.append(f"{wl} trace={trace}: no result line (exit {code})\n{out[-2000:]}")
                continue
            want = {m["name"]: m["unit"] for m in bench[key]}
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            if code != 0:
                problems.append(f"{wl} trace={trace}: exit {code}")
            if got != want:
                problems.append(f"{wl} trace={trace}: metrics differ: missing "
                                f"{sorted(set(want) - set(got))}, extra {sorted(set(got) - set(want))}")
            bad = [k for k, v in res["metrics"].items() if not math.isfinite(v["value"])]
            if bad:
                problems.append(f"{wl} trace={trace}: non-finite {bad}")
            if res["failed"] or not res["correct"] or res["attempted"] < 1:
                problems.append(f"{wl} trace={trace}: failed {res['failed']} of {res['attempted']}")
            print(f"{wl} trace={trace}: {len(got)} metrics, {res['failed']}/{res['attempted']} failed")

    bare = os.path.join(HERE, ".work", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"), ignore=shutil.ignore_patterns(".work", "__pycache__"))
    shutil.copy(os.path.join(REPO, "BENCHMARK.json"), bare)
    code, out = _run(bare, bench["workloads"][0]["name"], 0)
    if code == 0 or '"metrics"' in out:
        problems.append(f"bare directory: expected a refusal, got exit {code}")
    shutil.rmtree(bare, ignore_errors=True)

    for p in problems:
        print("FAIL", p)
    print("selftest", "failed" if problems else "passed")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
