#!/usr/bin/env python3
"""Smoke test of the benchmark at tiny input sizes.

    python3 perfbench/smoke_test.py

For every workload in BENCHMARK.json, runs run.py --tiny
untraced and traced, and asserts that the last stdout line is the result
object, that the run was correct, and that every metric BENCHMARK.json
names is emitted with its unit. Takes about ten minutes on 4 cores.
"""
import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    workloads = [w["name"] for w in spec["workloads"]]
    failures = []
    for w in workloads:
        for trace, wanted in ((0, spec["end_to_end"]), (1, spec["per_layer"])):
            p = subprocess.run(
                [sys.executable, "perfbench/run.py", "--workload", w, "--seed", "1",
                 "--seconds", "1", "--trace", str(trace), "--tiny"],
                cwd=ROOT, capture_output=True, text=True)
            tag = f"{w} trace={trace}"
            if p.returncode != 0:
                failures.append(f"{tag}: exit {p.returncode}\n{p.stderr[-3000:]}")
                continue
            res = json.loads(p.stdout.strip().splitlines()[-1])
            if sorted(res) != ["attempted", "correct", "failed", "metrics"]:
                failures.append(f"{tag}: keys {sorted(res)}")
            if not res["correct"] or res["failed"] or res["attempted"] < 1:
                failures.append(f"{tag}: correct={res['correct']} attempted={res['attempted']} failed={res['failed']}")
            for m in wanted:
                got = res["metrics"].get(m["name"])
                if got is None or got.get("unit") != m["unit"] or not isinstance(got.get("value"), (int, float)):
                    failures.append(f"{tag}: metric {m['name']} missing or wrong: {got}")
            print(f"ok {tag}: {len(res['metrics'])} metrics", flush=True)
    if failures:
        print("\n".join(failures))
        sys.exit(1)
    print("smoke test passed")


if __name__ == "__main__":
    main()
