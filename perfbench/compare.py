#!/usr/bin/env python3
"""Compare two sets of benchmark artifacts.

Usage:
    python3 perfbench/compare.py A [B] [--bound 0.1]

A and B are artifact files written by run.py (perfbench/out/*.json) or
directories of them; each side is usually the ten runs of one commit. For
every workload and metric the script prints each side's median and first
and third quartiles (Python's statistics.quantiles, n=4) and B's change
against A. A metric is marked UNRESOLVED when, on either side, the
quartile spread (q3 - q1) / median exceeds its bound: BENCHMARK.json's
bound for end-to-end metrics, --bound for the others. Unresolved changes
are noise until more runs say otherwise.

Untraced runs give the end-to-end and workload metrics, traced runs the
per-layer ones. When a side holds both for a workload, the tracing
overhead (traced over untraced end-to-end latency) is printed too. Host
load (loadavg at start and end of each run, and the share of CPU time the
hypervisor gave to other guests) is shown per side, so a set recorded on a
loaded host stands out.
"""
import argparse
import glob
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def load(path):
    files = sorted(glob.glob(os.path.join(path, "*.json"))) if os.path.isdir(path) else [path]
    runs = []
    for f in files:
        with open(f) as fh:
            a = json.load(fh)
        if "workload" in a and "end_to_end" in a:
            runs.append(a)
    if not runs:
        sys.exit(f"no artifacts in {path}")
    return runs


def quartiles(xs):
    xs = [x for x in xs if x is not None]
    if not xs:
        return None
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, med, q3 = statistics.quantiles(xs, n=4)
    return q1, med, q3


def spread(q):
    return (q[2] - q[0]) / abs(q[1]) if q and q[1] else 0.0


def table(runs):
    """{(workload, section): {metric: [values]}} for one side."""
    out = {}
    for a in runs:
        sections = ["per_layer"] if a["trace"] else ["end_to_end", "workload_metrics"]
        for sec in sections:
            d = out.setdefault((a["workload"], sec), {})
            for k, v in a[sec].items():
                d.setdefault(k, []).append(v)
    return out


def fmt(q):
    return "-" if q is None else f"{q[1]:.4g} [{q[0]:.4g}, {q[2]:.4g}]"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("a")
    ap.add_argument("b", nargs="?")
    ap.add_argument("--bound", type=float, default=0.10,
                    help="spread bound for metrics BENCHMARK.json gives none")
    args = ap.parse_args()
    spec_path = os.path.join(os.path.dirname(HERE), "BENCHMARK.json")
    bounds = {}
    if os.path.exists(spec_path):
        with open(spec_path) as fh:
            bounds = {m["name"]: m["bound"] for m in json.load(fh)["end_to_end"]}

    sides = [load(args.a)] + ([load(args.b)] if args.b else [])
    tables = [table(r) for r in sides]
    for i, runs in enumerate(sides):
        loads = [r["env"]["loadavg_start"] for r in runs] + [r["env"]["loadavg_end"] for r in runs]
        steal = [r["env"].get("cpu_steal_share", 0.0) for r in runs]
        print(f"side {'AB'[i]}: {len(runs)} runs, loadavg median {statistics.median(loads):.2f}"
              f" max {max(loads):.2f}, cpu steal median {100 * statistics.median(steal):.1f}%"
              f" max {100 * max(steal):.1f}%, failed ops {sum(r['failed'] for r in runs)}")

    keys = sorted(set().union(*[t.keys() for t in tables]))
    for wl, sec in keys:
        print(f"\n== {wl} / {sec}")
        names = sorted(set().union(*[t.get((wl, sec), {}).keys() for t in tables]))
        for n in names:
            qs = [quartiles(t.get((wl, sec), {}).get(n, [])) for t in tables]
            bound = bounds.get(n, args.bound)
            unresolved = any(q and spread(q) > bound for q in qs)
            line = f"  {n:34s} " + "  ".join(f"{fmt(q):34s}" for q in qs)
            if len(qs) == 2 and qs[0] and qs[1] and qs[0][1]:
                line += f"  {100 * (qs[1][1] / qs[0][1] - 1):+7.2f}%"
            if unresolved:
                line += "  UNRESOLVED"
            print(line)

    for i, t in enumerate(tables):
        for wl in sorted({k[0] for k in t}):
            untraced = t.get((wl, "end_to_end"), {})
            traced = {}
            for a in sides[i]:
                if a["workload"] == wl and a["trace"]:
                    for k, v in a["end_to_end"].items():
                        traced.setdefault(k, []).append(v)
            if untraced.get("op_p50_s") and traced.get("op_p50_s"):
                u = statistics.median(untraced["op_p50_s"])
                tr = statistics.median(traced["op_p50_s"])
                print(f"side {'AB'[i]} {wl}: tracing overhead on op_p50_s "
                      f"{100 * (tr / u - 1):+.2f}% ({u:.4g}s untraced, {tr:.4g}s traced)")


if __name__ == "__main__":
    main()
