#!/usr/bin/env python3
"""Summarise the run artifacts in .bench_build/artifacts.

    python3 perfbench/report.py

Per workload: the median of each end-to-end metric over untraced and over
traced runs (their difference is the tracing overhead), and, from the traced
runs, each layer's median self time along the timed region's blocking path.
"""
import glob
import json
import os
import statistics
from collections import defaultdict

HERE = os.path.dirname(os.path.abspath(__file__))


def main():
    root = os.path.dirname(HERE)
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        e2e = [m["name"] for m in json.load(fh)["end_to_end"]]
    runs = defaultdict(list)
    for path in glob.glob(os.path.join(root, ".bench_build", "artifacts", "*.json")):
        with open(path) as fh:
            a = json.load(fh)
        if a.get("size") == "full" and a.get("correct"):
            runs[(a["workload"], a["trace"])].append(a)
    for w in sorted({w for w, _ in runs}):
        plain, traced = runs.get((w, False), []), runs.get((w, True), [])
        print(f"{w}: {len(plain)} untraced, {len(traced)} traced runs")
        for m in e2e:
            vals = [[a["metrics"][m]["value"] for a in rs if m in a["metrics"]] for rs in (plain, traced)]
            if vals[0] and vals[1]:
                p, t = statistics.median(vals[0]), statistics.median(vals[1])
                print(f"  {m:16s} untraced {p:12.4f} traced {t:12.4f} overhead {(t - p) / p if p else 0:+.1%}")
        paths = [a["info"]["blocking_path"] for a in traced if "blocking_path" in a["info"]]
        if paths:
            print(f"  blocking path of {paths[0]['root']}: median {statistics.median(p['root_ms'] for p in paths):.0f} ms")
            for layer in sorted({k for p in paths for k in p["self_ms_by_layer"]}):
                v = statistics.median(p["self_ms_by_layer"].get(layer, 0.0) for p in paths)
                print(f"    {layer:12s} self {v:10.0f} ms")
            print(f"    {'benchmark':12s} self {statistics.median(p['bench_self_ms'] for p in paths):10.0f} ms")


if __name__ == "__main__":
    main()
