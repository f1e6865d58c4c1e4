#!/usr/bin/env python3
"""The benchmark's own test: every workload in smoke mode (small inputs,
a short window), untraced and traced, must print a well-formed result
line with every metric BENCHMARK.json names and no failed operation.

    python3 perfbench/smoke_test.py        # from the checkout root
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import check  # noqa: E402
import run  # noqa: E402


def spans_cover(m):
    """Span self times add up to the traced pass, within 5% + 50 ms."""
    traced = m["trace.traced_pass_s"]["value"]
    gap = abs(m["trace.unaccounted_s"]["value"])
    return traced > 0 and gap <= 0.05 * traced + 0.05


def main():
    spec = json.load(open(os.path.join(os.getcwd(), "BENCHMARK.json")))
    qspec = run.load_queries()
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in spec["per_layer"]}
    assert layer == {n: u for n, u, _ in check.per_layer_spec(qspec)}, \
        "per_layer in BENCHMARK.json differs from check.per_layer_spec"
    failures = []
    for w in spec["workloads"]:
        for trace in (0, 1):
            cmd = spec["command"] + ["--workload", w["name"], "--seed", "3", "--seconds", "2",
                                     "--trace", str(trace), "--smoke"]
            p = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
                               timeout=600)
            tag = f"{w['name']} trace={trace}"
            if p.returncode != 0:
                failures.append(f"{tag}: exit {p.returncode}\n{p.stderr[-2000:]}")
                continue
            r = json.loads(p.stdout.strip().splitlines()[-1])
            want = layer if trace else e2e
            got = {k: v["unit"] for k, v in r["metrics"].items()}
            if set(r) != {"correct", "attempted", "failed", "metrics"} or got != want:
                failures.append(f"{tag}: malformed result {sorted(r)} / {sorted(set(got) ^ set(want))}")
            elif not r["correct"] or r["failed"] or r["attempted"] < 1:
                failures.append(f"{tag}: {r['failed']}/{r['attempted']} failed\n{p.stderr[-2000:]}")
            elif trace and not spans_cover(r["metrics"]):
                failures.append(f"{tag}: spans leave the pass unaccounted: {r['metrics']}")
            else:
                print(f"ok {tag}: {r['attempted']} operations")
    for f in failures:
        print("FAIL", f)
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
