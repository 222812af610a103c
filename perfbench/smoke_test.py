#!/usr/bin/env python3
"""Short check of the benchmark itself (a few minutes): every workload,
traced and untraced, on a tiny graph and three queries. It exercises the
build, the input generator, the listener, the spans and every output
check, and fails fast when any of them breaks.

    python3 perfbench/smoke_test.py     # from the repository root
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import run  # noqa: E402


def declared():
    with open("BENCHMARK.json") as f:
        b = json.load(f)
    return ({m["name"]: m["unit"] for m in b["end_to_end"]},
            {m["name"]: m["unit"] for m in b["per_layer"]},
            [w["name"] for w in b["workloads"]])


def main():
    e2e, layers, workloads = declared()
    assert e2e == run.END_TO_END, "BENCHMARK.json end_to_end differs from run.py"
    assert layers == run.PER_LAYER, "BENCHMARK.json per_layer differs from run.py"
    problems = []
    for w in workloads:
        for trace in (0, 1):
            p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"),
                                "--workload", w, "--seed", "11", "--seconds", "1",
                                "--trace", str(trace), "--smoke"],
                               stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
            lines = p.stdout.strip().splitlines()
            label = f"{w} trace={trace}"
            if p.returncode != 0 or not lines:
                problems.append(f"{label}: exit {p.returncode}\n{p.stderr[-2000:]}")
                continue
            r = json.loads(lines[-1])
            want = layers if trace else e2e
            if set(r) != {"correct", "attempted", "failed", "metrics"}:
                problems.append(f"{label}: result keys {sorted(r)}")
            elif not r["correct"] or r["failed"] or r["attempted"] < 1:
                problems.append(f"{label}: {r['failed']} of {r['attempted']} checks failed\n"
                                f"{p.stderr[-2000:]}")
            elif {k: v["unit"] for k, v in r["metrics"].items()} != want:
                problems.append(f"{label}: metric names or units differ from BENCHMARK.json")
            elif not trace and not all(v["value"] > 0 for v in r["metrics"].values()):
                problems.append(f"{label}: an end-to-end metric is not positive")
            print(f"{label}: ok ({r['attempted']} checks)", flush=True)
    if problems:
        print("\n".join(problems))
        return 1
    print("smoke: ok")
    return 0


if __name__ == "__main__":
    sys.exit(main())
