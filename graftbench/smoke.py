#!/usr/bin/env python3
"""Smoke test for the benchmark: runs every workload tiny, untraced and
traced, and checks that each run is correct, has failed == 0, and prints
every metric BENCHMARK.json names, with its unit; that a traced run's span
self times add up to its wall time; and that BENCHMARK.json and the
launcher agree on workloads and metrics.

usage: python3 graftbench/smoke.py     (from the repository root; ~3 min)
"""
import json
import os
import subprocess
import sys

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import run  # noqa: E402

# tiny sizes: records sent, rows per second; query_mix has fixed tables
TINY = {"etl_batch": 20000, "stream_dedup": 2000, "query_mix": None}


def span_errors(tag, path):
    """The spans' self times must add up to their roots' wall time: every
    span hangs off a root, and children stay inside their parents."""
    if not os.path.exists(path):
        return [f"{tag}: span file {path} not written"]
    with open(path) as f:
        spans = [json.loads(line) for line in f]
    if not spans:
        return [f"{tag}: span file {path} is empty"]
    roots = sum(s["dur_ms"] for s in spans if s["parent"] == 0)
    selfs = sum(s["self_ms"] for s in spans)
    if abs(selfs - roots) > 0.02 * roots + 5:
        return [f"{tag}: span self times {selfs:.1f} ms vs root wall time {roots:.1f} ms"]
    return []


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    errors = []
    if sorted(w["name"] for w in bench["workloads"]) != sorted(run.WORKLOADS):
        errors.append("BENCHMARK.json workloads differ from run.WORKLOADS")
    for key, table in (("end_to_end", run.END_TO_END), ("per_layer", run.PER_LAYER)):
        declared = {m["name"]: m["unit"] for m in bench[key]}
        if declared != table:
            errors.append(f"BENCHMARK.json {key} differs from the launcher's table")

    for workload, size in TINY.items():
        for trace in (0, 1):
            cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                   "--seed", "7", "--seconds", "4", "--trace", str(trace)]
            if size is not None:
                cmd += ["--size", str(size)]
            p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
            tag = f"{workload} trace={trace}"
            if p.returncode != 0:
                errors.append(f"{tag}: exit {p.returncode}\n{p.stderr[-3000:]}")
                continue
            lines = p.stdout.strip().splitlines()
            res, facts = json.loads(lines[-1]), json.loads(lines[-2])
            if set(res) != {"correct", "attempted", "failed", "metrics"}:
                errors.append(f"{tag}: result keys {sorted(res)}")
            if not res["correct"] or res["failed"] != 0 or res["attempted"] < 1:
                errors.append(f"{tag}: correct={res['correct']} failed={res['failed']} "
                              f"attempted={res['attempted']} {facts['checks_failed']}")
            if facts["named"]["failed_ratio"]["value"] != 0:
                errors.append(f"{tag}: failed_ratio {facts['named']['failed_ratio']}")
            want = bench["per_layer" if trace else "end_to_end"]
            for m in want:
                got = res["metrics"].get(m["name"])
                if got is None or got.get("unit") != m["unit"] \
                        or not isinstance(got.get("value"), (int, float)):
                    errors.append(f"{tag}: metric {m['name']} missing or without unit {m['unit']}")
            if trace:
                errors += span_errors(tag, facts["spans"])
            print(f"ok {tag}" if not errors else f"checked {tag}", flush=True)

    for e in errors:
        print("FAIL", e)
    print("smoke:", "FAIL" if errors else "PASS")
    sys.exit(1 if errors else 0)


if __name__ == "__main__":
    main()
