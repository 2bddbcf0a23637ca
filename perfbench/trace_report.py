#!/usr/bin/env python3
"""Turns the spans of traced benchmark runs into per-layer self-time tables.

    python3 perfbench/trace_report.py [workload ...]

Reads .perfbench_out/spans-<workload>-seed<n>.jsonl (written by
`run.py --trace 1`) and, for each workload, prints:
  - per layer: span count, total seconds and self seconds (a span's
    duration minus the part of it that its child spans cover);
  - per operation: median wall seconds and the share of that wall time
    that no child span covers;
  - the tracing overhead: the traced run's wall_s minus the median wall_s of
    the untraced runs of the same workload found in .perfbench_out/.
"""
import glob
import json
import os
import re
import statistics
import sys
from collections import defaultdict

OUT = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".perfbench_out")


def covered(intervals):
    """Length of the union of (start, end) intervals."""
    total, end = 0.0, float("-inf")
    for a, b in sorted(i for i in intervals if i[1] > i[0]):
        if a >= end:
            total, end = total + b - a, b
        elif b > end:
            total, end = total + b - end, b
    return total


def self_times(spans):
    """{span id: self milliseconds}."""
    kids = defaultdict(list)
    for s in spans:
        kids[s["parent"]].append(s)
    out = {}
    for s in spans:
        clipped = [(max(k["start"], s["start"]), min(k["end"], s["end"])) for k in kids[s["id"]]]
        out[s["id"]] = (s["end"] - s["start"]) - covered(clipped)
    return out


def report(workload, runs, traced, untraced):
    """`runs` holds one span list per traced run; span ids are per run."""
    spans, selfs = [], {}
    for i, run in enumerate(runs):
        for s in run:
            s = dict(s, id=(i, s["id"]), parent=(i, s["parent"]))
            spans.append(s)
        selfs.update({(i, k): v for k, v in self_times(run).items()})
    lines = [f"== {workload} =="]
    by_layer = defaultdict(lambda: [0, 0.0, 0.0])
    for s in spans:
        row = by_layer[s["layer"]]
        row[0] += 1
        row[1] += (s["end"] - s["start"]) / 1e3
        row[2] += selfs[s["id"]] / 1e3
    lines.append(f"{'layer':<14}{'spans':>8}{'total_s':>12}{'self_s':>12}")
    for layer, (n, total, own) in sorted(by_layer.items(), key=lambda kv: -kv[1][2]):
        lines.append(f"{layer:<14}{n:>8}{total:>12.3f}{own:>12.3f}")
    ops = defaultdict(list)
    for s in spans:
        if s["name"] == "op":
            ops[s["op"]].append(s)
    if ops:
        lines.append(f"{'op':<30}{'wall_s':>10}{'uncovered':>11}")
        for op, ss in sorted(ops.items()):
            wall = statistics.median((s["end"] - s["start"]) / 1e3 for s in ss)
            unc = statistics.median(selfs[s["id"]] / max(1e-9, s["end"] - s["start"]) for s in ss)
            lines.append(f"{op:<30}{wall:>10.3f}{unc:>10.1%}")
    if traced and untraced:
        base = statistics.median(untraced)
        lines.append(f"tracing overhead: wall_s {traced:.3f} traced vs {base:.3f} untraced "
                     f"(median of {len(untraced)}) = {traced - base:+.3f} s "
                     f"({(traced - base) / base:+.1%})")
    else:
        lines.append("tracing overhead: needs a traced and an untraced result in .perfbench_out/")
    return "\n".join(lines)


def wall(path):
    with open(path) as f:
        return json.load(f)["end_to_end"]["wall_s"]


def main(argv):
    files = sorted(glob.glob(os.path.join(OUT, "spans-*-seed*.jsonl")))
    by_workload = defaultdict(list)
    for f in files:
        by_workload[re.match(r"spans-(.+)-seed\d+\.jsonl", os.path.basename(f)).group(1)].append(f)
    wanted = argv or sorted(by_workload)
    if not any(by_workload.get(w) for w in wanted):
        sys.exit("trace_report: no span files; run `run.py --trace 1` first")
    for w in wanted:
        runs = []
        for f in by_workload.get(w, []):
            with open(f) as fh:
                runs.append([json.loads(line) for line in fh if line.strip()])
        traced = [wall(p) for p in glob.glob(os.path.join(OUT, f"{w}-seed*-trace1.json"))]
        untraced = [wall(p) for p in glob.glob(os.path.join(OUT, f"{w}-seed*-trace0.json"))]
        print(report(w, runs, statistics.median(traced) if traced else None, untraced))


if __name__ == "__main__":
    main(sys.argv[1:])
