#!/usr/bin/env python3
"""Smoke test of the benchmark itself, at tiny size (5k pages; the sf0.001
copies of the query tables).

    python3 perfbench/smoke_test.py

For every workload, the untraced run must print every end-to-end metric of
BENCHMARK.json with its unit and report no failure, and the traced run must
print every per-layer metric with its unit. A run with an injected wrong
result must report it in `failed`. Takes a few minutes: each run starts
its own JVM and warms it up.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload, trace, inject=False):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "1", "--trace", str(trace), "--size", "tiny"]
    if inject:
        cmd.append("--inject-wrong")
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert p.returncode == 0, f"{cmd} exited {p.returncode}:\n{p.stderr[-3000:]}"
    return json.loads(p.stdout.strip().splitlines()[-1])


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    for w in spec["workloads"]:
        name = w["name"]
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            out = run(name, trace)
            assert set(out) == {"correct", "attempted", "failed", "metrics"}, out.keys()
            assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1, out
            want = {m["name"]: m["unit"] for m in spec[key]}
            got = {k: v["unit"] for k, v in out["metrics"].items()}
            assert got == want, f"{name} trace={trace}: metrics differ: {set(got) ^ set(want)}"
            assert all(isinstance(v["value"], (int, float)) for v in out["metrics"].values())
            if trace == 0:
                assert all(v["value"] > 0 for v in out["metrics"].values()), out["metrics"]
            print(f"ok   {name} trace={trace}: {len(got)} metrics, {out['attempted']} requests")
        bad = run(name, 0, inject=True)
        assert not bad["correct"] and bad["failed"] > 0, f"{name}: injected error not caught: {bad}"
        print(f"ok   {name} injected wrong result: failed {bad['failed']}/{bad['attempted']}")


if __name__ == "__main__":
    main()
