#!/usr/bin/env python3
"""Print every benchmark metric, per workload, from one untraced and one
traced run of each workload in BENCHMARK.json.

Usage (from the repository root): python3 perfbench/report.py [--seed N]

For each end-to-end metric it prints the value and unit, the sample count
(operations timed), the core count, failures against attempts and whether
every output was correct. The traced run's per-layer metrics follow, with the
tracing overhead: the traced op_cpu_ms against the untraced one. A per-layer
metric reads 0 where the workload does not exercise that layer.
"""
import argparse
import json
import os
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload, seed, seconds, trace):
    with tempfile.NamedTemporaryFile(suffix=".json") as f:
        proc = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
             "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace),
             "--detail", f.name], cwd=ROOT, stdout=subprocess.PIPE, text=True)
        if proc.returncode != 0:
            raise SystemExit(f"{workload} trace={trace}: run.py exited {proc.returncode}")
        return json.load(f)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=1)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    for w in bench["workloads"]:
        name = w["name"]
        plain = run(name, args.seed, bench["run_seconds"], 0)
        traced = run(name, args.seed, bench["run_seconds"], 1)
        d = plain["detail"]
        print(f"\n== {name} (seed {args.seed}, local[{plain['cpus']}], {d['ops']} ops, "
              f"failed {plain['failed']}/{plain['attempted']}, "
              f"correct={'yes' if plain['failed'] == 0 else 'NO'}, "
              f"failed_frac {plain['failed'] / plain['attempted']:.3f})")
        for m in bench["end_to_end"]:
            v = plain["metrics"][m["name"]]
            print(f"  {m['name']:<18} {v['value']:>14.3f} {v['unit']:<6} n={d['ops']}")
        w = d["wall"]
        print("  wall clock, not bounded:")
        for k, unit in (("op_p50_ms", "ms"), ("op_tail_ms", "ms"),
                        ("records_per_s", "1/s"), ("suite_total_s", "s")):
            note = f"  (p{w['tail_pct']}, {w['tail_beyond']} samples beyond)" \
                if k == "op_tail_ms" else ""
            print(f"    {k:<16} {w[k]:>14.3f} {unit:<6} n={d['ops']}{note}")
        t = traced["metrics"]
        print(f"  traced run: {traced['detail']['ops']} ops, failed "
              f"{traced['failed']}/{traced['attempted']}")
        for m in bench["per_layer"]:
            v = t[m["name"]]
            print(f"    {m['name']:<28} {v['value']:>14.3f} {v['unit']}")
        base = plain["metrics"]["op_cpu_ms"]["value"]
        over = t["trace.op_cpu_ms"]["value"] / base - 1
        print(f"  tracing overhead on op_cpu_ms: {over:+.1%} "
              f"({t['trace.op_cpu_ms']['value']:.1f} ms traced vs {base:.1f} ms)")


if __name__ == "__main__":
    main()
