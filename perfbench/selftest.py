#!/usr/bin/env python3
"""Self-test of the benchmark at tiny size (sf0.001, small fixtures, a
12-plan pool): every workload, untraced and traced, must pass its checks and
print exactly the metrics BENCHMARK.json names, each with its unit, and
every per-layer metric must be measured by at least one workload.
METRICS.json must give a layer for exactly those names. A copy of the
benchmark alone, without the program, must fail without a result.

    python3 perfbench/selftest.py        # from the root of a checkout
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _run(cwd: str, workload: str, trace: int) -> subprocess.CompletedProcess:
    cmd = [sys.executable, os.path.join(cwd, "perfbench", "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "2", "--trace", str(trace), "--size", "tiny"]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    want = {
        0: {m["name"]: m["unit"] for m in bench["end_to_end"]},
        1: {m["name"]: m["unit"] for m in bench["per_layer"]},
    }
    problems = []
    with open(os.path.join(HERE, "METRICS.json")) as f:
        layer_of = json.load(f)["layer_of"]
    named = set(want[0]) | set(want[1])
    if set(layer_of) != named:
        problems.append(f"METRICS.json layer_of: missing {sorted(named - set(layer_of))}, "
                        f"extra {sorted(set(layer_of) - named)}")
    measured = set()
    for wl in (w["name"] for w in bench["workloads"]):
        for trace in (0, 1):
            proc = _run(ROOT, wl, trace)
            tag = f"{wl} trace={trace}"
            if proc.returncode != 0:
                problems.append(f"{tag}: exit {proc.returncode}: {proc.stderr.strip()[-500:]}")
                continue
            res = json.loads(proc.stdout.strip().splitlines()[-1])
            if set(res) != {"correct", "attempted", "failed", "metrics"}:
                problems.append(f"{tag}: result keys {sorted(res)}")
            if not res["correct"] or res["failed"] or res["attempted"] < 1:
                problems.append(f"{tag}: correct={res['correct']} failed={res['failed']} attempted={res['attempted']}")
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            if got != want[trace]:
                missing = sorted(set(want[trace]) - set(got))
                extra = sorted(set(got) - set(want[trace]))
                units = sorted(k for k in set(got) & set(want[trace]) if got[k] != want[trace][k])
                problems.append(f"{tag}: missing {missing} extra {extra} unit mismatch {units}")
            bad = [k for k, v in res["metrics"].items() if not isinstance(v["value"], (int, float))]
            if bad:
                problems.append(f"{tag}: non-numeric values {bad}")
            if trace:
                with open(os.path.join(HERE, ".work", "out", f"result-{wl}-s7-t1.json")) as f:
                    measured |= set(json.load(f)["per_layer"])
            print(f"ran {tag}: {len(got)} metrics, attempted {res['attempted']}", flush=True)
    unmeasured = sorted(set(want[1]) - measured)
    if unmeasured:
        problems.append(f"per-layer metrics no workload measures: {unmeasured}")

    bare = os.path.join(HERE, ".work", "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"), ignore=shutil.ignore_patterns(".work", "__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    proc = _run(bare, bench["workloads"][0]["name"], 0)
    if proc.returncode == 0 or proc.stdout.strip():
        problems.append(f"bare copy: exit {proc.returncode}, stdout {proc.stdout.strip()[-200:]!r}")
    shutil.rmtree(bare, ignore_errors=True)

    for p in problems:
        print("FAIL", p)
    print("selftest:", "FAIL" if problems else "ok")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
