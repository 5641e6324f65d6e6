#!/usr/bin/env python3
"""Record one traced run per workload and print its per-layer table.

    python3 perfbench/report.py [--seed N] [--workloads a,b]

For each workload this makes one untraced and one traced run of the same
seed, keeps the traced run (with the untraced wall time beside it) in
perfbench/results/<workload>.json, and prints a markdown table of the
per-layer metrics with the tracing overhead: traced wall_s divided by
untraced wall_s. Without --seed it only re-prints the kept files.
"""
import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
RESULTS = os.path.join(HERE, "results")
sys.path.insert(0, HERE)

import layers  # noqa: E402


def run(workload, seed, seconds, trace, trace_out=None):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    if trace_out:
        cmd += ["--trace-out", trace_out]
    out = subprocess.run(cmd, check=True, stdout=subprocess.PIPE, text=True).stdout
    return {k: v["value"] for k, v in json.loads(out.splitlines()[-1])["metrics"].items()}


def record(workload, seed, seconds):
    untraced = run(workload, seed, seconds, 0)
    path = os.path.join(RESULTS, workload + ".json")
    run(workload, seed, seconds, 1, path)
    with open(path) as f:
        kept = json.load(f)
    kept["untraced_end_to_end"] = untraced
    kept["tracing_overhead"] = kept["per_layer"]["trace.wall_s"] / untraced["wall_s"]
    with open(path, "w") as f:
        json.dump(kept, f, indent=1, sort_keys=True)


def fmt(v):
    if isinstance(v, int) or float(v).is_integer():
        return "%d" % v
    return "%.3g" % v if abs(v) < 100 else "%.0f" % v


def table(workloads):
    kept = {}
    for w in workloads:
        with open(os.path.join(RESULTS, w + ".json")) as f:
            kept[w] = json.load(f)
    lines = ["| metric | unit | " + " | ".join(workloads) + " |",
             "|---|---|" + "---|" * len(workloads)]
    for k in layers.PER_LAYER:
        lines.append("| `%s` | %s | %s |" % (k, layers.UNITS[k], " | ".join(
            fmt(kept[w]["per_layer"][k]) for w in workloads)))
    lines.append("| untraced `wall_s` | s | %s |" % " | ".join(
        fmt(kept[w]["untraced_end_to_end"]["wall_s"]) for w in workloads))
    lines.append("| tracing overhead | ratio | %s |" % " | ".join(
        "%.3f" % kept[w]["tracing_overhead"] for w in workloads))
    lines.append("| span self time by layer | s | %s |" % " | ".join(
        ", ".join("%s %.2f" % kv for kv in sorted(kept[w]["self_s_by_layer"].items()))
        for w in workloads))
    return "\n".join(lines)


def main():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int)
    ap.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    a = ap.parse_args()
    workloads = a.workloads.split(",")
    if a.seed is not None:
        os.makedirs(RESULTS, exist_ok=True)
        for w in workloads:
            record(w, a.seed, bench["run_seconds"])
    print(table(workloads))


if __name__ == "__main__":
    main()
