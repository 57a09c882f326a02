#!/usr/bin/env python3
"""Smoke test of the benchmark. Run from the root of a checkout:

    python3 perfbench/smoke.py

Each workload completes one short pass, untraced and traced, with no failed
operation, and every metric BENCHMARK.json names is printed with its unit.
Exits non-zero on the first violation.
"""
import json
import subprocess
import sys


def run(workload, trace):
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "7", "--seconds", "1", "--trace", str(trace)],
        capture_output=True, text=True)
    if p.returncode != 0:
        sys.exit(f"{workload} trace={trace}: exit {p.returncode}\n"
                 f"{p.stderr[-3000:]}")
    return json.loads(p.stdout.strip().splitlines()[-1])


def main():
    spec = json.load(open("BENCHMARK.json"))
    for w in spec["workloads"]:
        for trace, wanted in ((0, spec["end_to_end"]), (1, spec["per_layer"])):
            r = run(w["name"], trace)
            assert set(r) == {"correct", "attempted", "failed", "metrics"}, r.keys()
            assert r["correct"] and r["failed"] == 0 and r["attempted"] >= 1, r
            names = {m["name"] for m in wanted}
            assert set(r["metrics"]) == names, set(r["metrics"]) ^ names
            for m in wanted:
                got = r["metrics"][m["name"]]
                assert got["unit"] == m["unit"], (m["name"], got)
                assert isinstance(got["value"], (int, float)), (m["name"], got)
            if trace == 0:
                zero = [k for k, v in r["metrics"].items() if v["value"] == 0]
                assert not zero, f"end-to-end metrics read 0: {zero}"
            print(f"ok {w['name']} trace={trace}: {r['attempted']} operations, "
                  f"{len(r['metrics'])} metrics", flush=True)


if __name__ == "__main__":
    main()
