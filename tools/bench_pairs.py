#!/usr/bin/env python3
"""Summarise alternating parent/change runs of the serving benchmark.

    python3 tools/bench_pairs.py PARENT_DIR CHANGE_DIR \
        [--benchmark BENCHMARK.json] [--extra cpu_ms_per_req,requests:higher]

Each directory holds the stdout of `python3 perfbench/run.py --workload W
--seed N ...`, one file per run, named `<W>-<N>.out`. A run's result is
the JSON object on its last non-empty line; `--extra` also reads report
lines of the form `<W> <key> <number>` from the same file (lower is better
unless the key is given as `key:higher`). Runs pair up by workload and
seed.

For every workload and metric it prints both sides' median with quartiles,
how many pairs the change wins, and the gap between the medians against
the parent's interquartile range (IQR). For each metric that
BENCHMARK.json gates, it prints whether the change's median stays within
the bound, or "unresolved" when either side's IQR, relative to its
median, is wider than the bound. BENCHMARK.json is only read.
"""
import argparse
import json
import re
import statistics
import sys
from pathlib import Path

NAME = re.compile(r"^(?P<workload>[a-z]+)-(?P<seed>\d+)\.out$")


def read_run(path, extra):
    lines = [l for l in path.read_text().splitlines() if l.strip()]
    if not lines:
        raise SystemExit(f"{path}: empty")
    result = json.loads(lines[-1])
    workload = NAME.match(path.name).group("workload")
    values = {k: v["value"] for k, v in result["metrics"].items()}
    attempted = result.get("attempted", 0)
    values["fail_ratio"] = result.get("failed", 0) / attempted if attempted else 1.0
    for line in lines[:-1]:
        parts = line.split()
        if len(parts) == 3 and parts[0] == workload and parts[1] in extra:
            try:
                values[parts[1]] = float(parts[2])
            except ValueError:
                pass
    return values, bool(result.get("correct"))


def read_side(directory, extra):
    runs = {}
    for path in sorted(Path(directory).iterdir()):
        m = NAME.match(path.name)
        if m:
            runs[(m.group("workload"), int(m.group("seed")))] = read_run(path, extra)
    return runs


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def fmt(x):
    return f"{x:.4g}" if abs(x) < 1000 else f"{x:.0f}"


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--benchmark", default="BENCHMARK.json")
    ap.add_argument("--extra", default="", help="comma-separated report keys, key:higher "
                    "where higher is better")
    a = ap.parse_args()
    extra = [k.split(":")[0] for k in a.extra.split(",") if k]
    higher = {k.split(":")[0] for k in a.extra.split(",") if k.endswith(":higher")}
    spec = json.loads(Path(a.benchmark).read_text())
    gated = {m["name"]: m for m in spec["end_to_end"]}
    parent = read_side(a.parent, extra)
    change = read_side(a.change, extra)
    keys = sorted(set(parent) & set(change))
    if not keys:
        raise SystemExit("no workload/seed appears on both sides")
    unpaired = sorted(set(parent) ^ set(change))
    if unpaired:
        print(f"unpaired runs, left out: {unpaired}")
    status = 0
    for workload in sorted({w for w, _ in keys}):
        pairs = [(parent[k], change[k]) for k in keys if k[0] == workload]
        seeds = [s for w, s in keys if w == workload]
        wrong = sum(1 for p, c in pairs for _, ok in (p, c) if not ok)
        print(f"\n{workload}: {len(pairs)} pairs, seeds {seeds}, runs not correct: {wrong}")
        print(f"  {'metric':<16} {'parent median [q1, q3]':<30} {'change median [q1, q3]':<30}"
              f" {'delta':>7} {'wins':>6} {'gap / parent IQR':>18}  bound")
        metrics = list(gated) + ["fail_ratio"] + extra
        for name in metrics:
            ps = [p[0][name] for p, _ in pairs if name in p[0]]
            cs = [c[0][name] for _, c in pairs if name in c[0]]
            if len(ps) != len(pairs) or len(cs) != len(pairs):
                continue
            better = gated.get(name, {}).get("better", "higher" if name in higher else "lower")
            pq, cq = quartiles(ps), quartiles(cs)
            sign = 1 if better == "lower" else -1
            wins = sum(1 for x, y in zip(ps, cs) if sign * (y - x) < 0)
            delta = (cq[1] - pq[1]) / pq[1] if pq[1] else 0.0
            iqr = pq[2] - pq[0]
            gap = abs(cq[1] - pq[1])
            ratio = f"{fmt(gap)} / {fmt(iqr)}"
            verdict = ""
            if name in gated:
                bound = gated[name]["bound"]
                spread = max((q[2] - q[0]) / q[1] if q[1] else 0.0 for q in (pq, cq))
                if spread > bound:
                    verdict = f"unresolved (spread {spread:.2f} > {bound})"
                elif sign * delta <= bound:
                    verdict = f"within {bound}"
                else:
                    verdict = f"OUTSIDE {bound}"
                    status = 1
            print(f"  {name:<16} {fmt(pq[1]) + ' [' + fmt(pq[0]) + ', ' + fmt(pq[2]) + ']':<30}"
                  f" {fmt(cq[1]) + ' [' + fmt(cq[0]) + ', ' + fmt(cq[2]) + ']':<30}"
                  f" {delta * 100:+6.1f}% {wins:>3}/{len(pairs):<2} {ratio:>18}  {verdict}")
        for name in gated:
            cells = ", ".join(f"{fmt(p[0][name])}/{fmt(c[0][name])}" for p, c in pairs)
            print(f"  pairs {name} (parent/change): {cells}")
    return status


if __name__ == "__main__":
    sys.exit(main())
