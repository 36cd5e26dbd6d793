#!/usr/bin/env python3
"""Per-op breakdown of a perfbench trace.

    python3 tools/trace_ops.py .bench_build/traces/<workload>-seed<n>.json [--all]

A traced perfbench run (`perfbench/run.py ... --trace 1`) writes every span
and Spark job it saw to that JSON file. For each measured op (warm-up ops
too with --all) this prints the op's wall ms, each span inside it with its
ms, and each Spark job the op ran with its task count and ms. A summary
closes the output: ops, median op ms, jobs and tasks per op, and the mean
ms of each span name. It reads the trace only.
"""

import argparse
import json
import statistics
import sys
from collections import defaultdict


def ms(span):
    return (span["end_ns"] - span["start_ns"]) / 1e6


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("trace")
    ap.add_argument("--all", action="store_true", help="include warm-up ops")
    args = ap.parse_args()
    with open(args.trace) as fh:
        trace = json.load(fh)

    spans = {s["id"]: s for s in trace["spans"]}
    roots = sorted((s for s in trace["spans"] if s["name"] == "op"), key=lambda s: s["start_ns"])
    measured = set(trace["measured_ops"])
    ops = [s for s in roots if args.all or s["op"] in measured]
    if not ops:
        sys.exit(f"{args.trace}: no ops")

    jobs_by_op = defaultdict(list)
    for j in trace["jobs"]:
        span = spans.get(j["span"])
        if span is not None and j["end_ms"] >= 0:
            jobs_by_op[span["op"]].append(j)

    span_ms = defaultdict(list)
    for op in ops:
        tag = "" if op["op"] in measured else " (warm-up)"
        print(f"op {op['op']}{tag}: {ms(op):.1f} ms")
        inner = sorted((s for s in trace["spans"] if s["op"] == op["op"] and s["id"] != op["id"]),
                       key=lambda s: s["start_ns"])
        for s in inner:
            span_ms[s["name"]].append(ms(s))
            print(f"  span {s['name']:<24} {ms(s):9.1f} ms")
        for j in sorted(jobs_by_op[op["op"]], key=lambda j: j["start_ms"]):
            print(f"  job {j['job']:<5} {j['layer']:<20} {j['tasks']:4d} tasks {j['end_ms'] - j['start_ms']:7d} ms")

    n = len(ops)
    jobs = [jobs_by_op[op["op"]] for op in ops]
    print(f"summary: {n} ops, median {statistics.median(ms(op) for op in ops):.1f} ms/op, "
          f"{sum(map(len, jobs)) / n:.2f} jobs/op, "
          f"{sum(j['tasks'] for js in jobs for j in js) / n:.2f} tasks/op")
    for name in sorted(span_ms):
        print(f"  span {name:<24} mean {statistics.mean(span_ms[name]):9.1f} ms over {len(span_ms[name])}")


if __name__ == "__main__":
    main()
