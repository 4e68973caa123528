#!/usr/bin/env python3
"""Collect and compare result sets of the repository benchmark.

A result set is a directory holding `<workload>.jsonl`: one line per run,
each the JSON line that perfbench/run.py printed.

    python3 perfbench/compare.py sweep OUT [--runs 10] [--first-seed 1]
                                       [--workload W ...] [--trace 0|1]
        Runs the benchmark once per seed and appends to OUT.
    python3 perfbench/compare.py spread SET
        Per workload and end-to-end metric: median, quartiles, and the
        spread (quartile distance / median) against the metric's bound.
    python3 perfbench/compare.py diff BASE CHANGE
        Per workload and end-to-end metric: both medians and quartiles,
        the change relative to BASE, the bound, and a verdict. A metric
        whose spread on either side is wider than its bound reads
        "unresolved", unless every CHANGE run beats every BASE run.

Run it from the root of a checkout; bounds come from BENCHMARK.json.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def load_spec():
    with open("BENCHMARK.json") as f:
        return json.load(f)


def load_set(path):
    runs = {}
    for name in sorted(os.listdir(path)):
        if name.endswith(".jsonl"):
            with open(os.path.join(path, name)) as f:
                runs[name[:-6]] = [json.loads(ln) for ln in f if ln.strip()]
    return runs


def values(runs, metric):
    return [r["metrics"][metric]["value"] for r in runs
            if metric in r["metrics"]]


def summary(xs):
    """(median, q1, q3, spread) with spread = (q3 - q1) / median."""
    med = statistics.median(xs)
    if len(xs) < 2:
        return med, med, med, 0.0
    q1, _, q3 = statistics.quantiles(xs, n=4)
    return med, q1, q3, (q3 - q1) / abs(med) if med else float("inf")


def verdict(base, change, bound, higher_better):
    """Compare two samples of one metric under the benchmark's bound.

    "better" needs the change to win nine tenths of the runs paired in
    order and the medians to differ by more than the base's spread;
    "worse" is a median worse by more than the bound. When either
    side's spread is wider than the bound the answer is "unresolved",
    unless every change run beats every base run."""
    mb, _, _, sb = summary(base)
    mc, _, _, sc = summary(change)
    sign = 1 if higher_better else -1
    gain = sign * (mc - mb) / abs(mb) if mb else 0.0
    beats_all = (min(change) > max(base) if higher_better
                 else max(change) < min(base))
    pairs = list(zip(base, change))
    wins = sum(1 for a, b in pairs if sign * (b - a) > 0)
    if max(sb, sc) > bound:
        return gain, "better" if beats_all else "unresolved"
    if gain < -bound:
        return gain, "worse"
    if gain > sb and wins >= 0.9 * len(pairs):
        return gain, "better"
    return gain, "unchanged"


def cmd_sweep(args):
    os.makedirs(args.out, exist_ok=True)
    spec = load_spec()
    workloads = args.workload or [w["name"] for w in spec["workloads"]]
    for w in workloads:
        for seed in range(args.first_seed, args.first_seed + args.runs):
            cmd = spec["command"] + ["--workload", w, "--seed", str(seed),
                                     "--seconds", str(spec["run_seconds"]),
                                     "--trace", str(args.trace)]
            proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
            lines = proc.stdout.strip().splitlines()
            print(f"{w} seed {seed}: exit {proc.returncode}", file=sys.stderr)
            if lines:
                with open(os.path.join(args.out, f"{w}.jsonl"), "a") as f:
                    f.write(lines[-1] + "\n")
    return 0


def cmd_spread(args):
    spec = load_spec()
    runs = load_set(args.set)
    worst = 0.0
    print(f"{'workload':20} {'metric':14} {'n':>3} {'median':>12} "
          f"{'q1':>12} {'q3':>12} {'spread':>7} {'bound':>6}")
    for w, rs in runs.items():
        for m in spec["end_to_end"]:
            xs = values(rs, m["name"])
            if not xs:
                continue
            med, q1, q3, spread = summary(xs)
            flag = "" if spread <= m["bound"] / 3 else (
                "  wide" if spread > m["bound"] else "  > bound/3")
            worst = max(worst, spread / m["bound"])
            print(f"{w:20} {m['name']:14} {len(xs):3} {med:12.5g} "
                  f"{q1:12.5g} {q3:12.5g} {spread:7.3f} {m['bound']:6.2f}"
                  f"{flag}")
    print(f"\nworst spread / bound: {worst:.3f}")
    return 0


def cmd_diff(args):
    spec = load_spec()
    base, change = load_set(args.base), load_set(args.change)
    print(f"{'workload':20} {'metric':14} {'base median [q1, q3]':>34} "
          f"{'change median [q1, q3]':>34} {'gain':>7} {'bound':>6}  verdict")
    status = 0
    for w in sorted(set(base) & set(change)):
        for m in spec["end_to_end"]:
            a, b = values(base[w], m["name"]), values(change[w], m["name"])
            if not a or not b:
                continue
            gain, v = verdict(a, b, m["bound"], m["better"] == "higher")
            ma, qa1, qa3, _ = summary(a)
            mb, qb1, qb3, _ = summary(b)
            print(f"{w:20} {m['name']:14} "
                  f"{ma:12.5g} [{qa1:9.4g}, {qa3:9.4g}] "
                  f"{mb:12.5g} [{qb1:9.4g}, {qb3:9.4g}] "
                  f"{gain:+7.3f} {m['bound']:6.2f}  {v}")
            if v == "worse":
                status = 1
    return status


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    s = sub.add_parser("sweep")
    s.add_argument("out")
    s.add_argument("--runs", type=int, default=10)
    s.add_argument("--first-seed", type=int, default=1)
    s.add_argument("--workload", action="append")
    s.add_argument("--trace", type=int, default=0, choices=[0, 1])
    s = sub.add_parser("spread")
    s.add_argument("set")
    s = sub.add_parser("diff")
    s.add_argument("base")
    s.add_argument("change")
    args = ap.parse_args()
    return {"sweep": cmd_sweep, "spread": cmd_spread,
            "diff": cmd_diff}[args.cmd](args)


if __name__ == "__main__":
    sys.exit(main())
