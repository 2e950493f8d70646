#!/usr/bin/env python3
"""Summarize sets of benchmark runs.

Usage: python3 perfbench/steadiness/summarize.py <set.jsonl>...

Each line of a set file is one run: {"w": <workload>, "seed": <n>,
"wall": <run wall ms>, "steal": <share of host CPU time stolen by the
hypervisor during the run, if recorded>, "res": <the run's result line>}. For every
workload and end-to-end metric this prints each set's median and spread
(the distance between the first and third quartiles of
statistics.quantiles(values, n=4), as a share of the median), and, from
the second set on, the relative change of the median against the first
set, signed so that a positive value is worse. Runs without a result
(a failed run) count as failed checks and are left out of the figures.
"""
import json
import os
import statistics
import sys

SPEC = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "..", "BENCHMARK.json")


def load(paths):
    """{set label: {workload: [run]}}; a run's set is its "file" field
    if it has one, else the name of the file it is in."""
    sets = {}
    for path in paths:
        with open(path) as f:
            for line in f:
                if line.strip():
                    r = json.loads(line)
                    label = r.get("file", os.path.basename(path))
                    sets.setdefault(label, {}).setdefault(r["w"], []).append(r)
    return sets


def main():
    with open(SPEC) as f:
        spec = json.load(f)
    sets = load(sys.argv[1:]).items()
    print("| workload | metric | set | runs | median | spread | worse than first | bound | mean wall s | mean steal | checks |")
    print("|---|---|---|---|---|---|---|---|---|---|---|")
    for w in [w["name"] for w in spec["workloads"]]:
        for m in spec["end_to_end"]:
            first = None
            for name, runs in sets:
                rs = runs.get(w, [])
                vs = [r["res"]["metrics"][m["name"]]["value"] for r in rs
                      if r.get("res") and m["name"] in r["res"]["metrics"]]
                if not vs:
                    continue
                med = statistics.median(vs)
                q = statistics.quantiles(vs, n=4) if len(vs) > 1 else [med, med, med]
                if first is None:
                    first, worse = med, "-"
                else:
                    d = (med - first) / first
                    worse = f"{(d if m['better'] == 'lower' else -d):+.3f}"
                walls = statistics.mean(r["wall"] or 0 for r in rs) / 1000
                steals = [r["steal"] for r in rs if "steal" in r]
                steal = f"{statistics.mean(steals):.3f}" if steals else "-"
                ok = sum(bool(r.get("res") and r["res"]["correct"]) for r in rs)
                print(f"| {w} | {m['name']} | {name} | {len(vs)} | {med:.4g} | "
                      f"{(q[2] - q[0]) / med:.3f} | {worse} | {m['bound']} | {walls:.0f} | "
                      f"{steal} | {ok}/{len(rs)} |")


if __name__ == "__main__":
    main()
