#!/usr/bin/env python3
"""Compare a change with its parent from alternating pairs of runs.

    python3 perfbench/compare.py --run PARENT_DIR CHANGE_DIR [--pairs 10] [--out PREFIX]
    python3 perfbench/compare.py PARENT.jsonl CHANGE.jsonl

--run makes the pairs: for every workload in BENCHMARK.json and pair i
(seed 1000 + i), it runs this benchmark's run.py in both checkouts,
parent first on even i and change first on odd i, untraced and then
traced, and appends the records to PREFIX.parent.jsonl and
PREFIX.change.jsonl (default .bench_build/perfbench/compare). Both sides
are timed by the same benchmark code.

The report has one row per workload and end-to-end metric: both
medians and quartiles, how many pairs the change won (ties count for
neither) and the verdict. A gain is claimed only when the change wins at
least 9/10 of the pairs and the medians differ by more than the parent's
interquartile range; a loss is flagged when the change's median is worse
than the parent's by more than the metric's bound. Below that come the
per-layer medians of the traced runs and their deltas. Records whose
core count, heap, seed, scale factor, input size or run length differ
are refused.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
SAME = ("cpus", "heap_mb", "sf", "input_rows", "seconds", "setups")


def load(path):
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def run_pairs(spec, parent, change, pairs, prefix):
    sides = {"parent": parent, "change": change}
    for w in [x["name"] for x in spec["workloads"]]:
        for i in range(pairs):
            order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
            for trace in (0, 1):
                for side in order:
                    subprocess.run(
                        [sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                         "--seed", str(1000 + i), "--seconds", str(spec["run_seconds"]),
                         "--trace", str(trace), "--record", f"{prefix}.{side}.jsonl"],
                        cwd=sides[side], stdout=subprocess.DEVNULL)


def pair_up(parent, change):
    """[(parent record, change record)] matched on workload, trace and seed;
    refuses records that were not made under the same conditions."""
    key = lambda r: (r["workload"], r["trace"], r["seed"])
    ch = {key(r): r for r in change}
    pairs = []
    for p in parent:
        c = ch.get(key(p))
        if c is None:
            continue
        for k in SAME:
            if p[k] != c[k]:
                sys.exit(f"refusing to compare: {key(p)} has {k} {p[k]} vs {c[k]}")
        pairs.append((p, c))
    return pairs


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q1, _, q3 = statistics.quantiles(xs, n=4)
    return q1, q3


def report(spec, pairs):
    print(f"{'workload':16} {'metric':10} {'parent med [q1,q3]':>28} "
          f"{'change med [q1,q3]':>28} {'wins':>6}  verdict")
    for w in [x["name"] for x in spec["workloads"]]:
        wp = [(p, c) for p, c in pairs if p["workload"] == w and p["trace"] == 0]
        for m in spec["end_to_end"] if wp else []:
            name, lower = m["name"], m["better"] == "lower"
            pv = [p["result"]["metrics"][name]["value"] for p, _ in wp]
            cv = [c["result"]["metrics"][name]["value"] for _, c in wp]
            wins = sum((c < p) if lower else (c > p) for p, c in zip(pv, cv))
            pm, cm = statistics.median(pv), statistics.median(cv)
            q1, q3 = quartiles(pv)
            c1, c3 = quartiles(cv)
            gain = (pm - cm) if lower else (cm - pm)
            worse = -gain / pm
            if wins >= 0.9 * len(wp) and gain > q3 - q1:
                verdict = f"gain {gain / pm:+.1%}"
            elif worse > m["bound"]:
                verdict = f"WORSE by {worse:.1%} (bound {m['bound']:.0%})"
            elif q3 - q1 > m["bound"] * pm:
                verdict = "unresolved: spread wider than bound"
            else:
                verdict = "no change within bound"
            print(f"{w:16} {name:10} {pm:10.4f} [{q1:7.4f},{q3:7.4f}] "
                  f"{cm:10.4f} [{c1:7.4f},{c3:7.4f}] {wins:>3}/{len(wp):<2}  {verdict}")
        tp = [(p, c) for p, c in pairs if p["workload"] == w and p["trace"] == 1]
        if tp:
            print(f"  per-layer medians over {len(tp)} traced pairs (parent -> change):")
            for name, v in tp[0][0]["result"]["metrics"].items():
                pm = statistics.median(p["result"]["metrics"][name]["value"] for p, _ in tp)
                cm = statistics.median(c["result"]["metrics"][name]["value"] for _, c in tp)
                delta = f"{(cm - pm) / pm:+.1%}" if pm else "n/a"
                print(f"    {name:30} {pm:12.4f} -> {cm:12.4f} {v['unit']:6} {delta}")
    failed = [(p["result"]["failed"], c["result"]["failed"]) for p, c in pairs]
    print(f"failed operations: parent {sum(x for x, _ in failed)}, "
          f"change {sum(y for _, y in failed)}, over {len(pairs)} pairs")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("files", nargs="*")
    ap.add_argument("--run", nargs=2, metavar=("PARENT_DIR", "CHANGE_DIR"))
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--out", default=os.path.join(".bench_build", "perfbench", "compare"))
    a = ap.parse_args()
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        spec = json.load(f)
    if a.run:
        prefix = os.path.abspath(a.out)
        os.makedirs(os.path.dirname(prefix), exist_ok=True)
        run_pairs(spec, os.path.abspath(a.run[0]), os.path.abspath(a.run[1]),
                  a.pairs, prefix)
        parent, change = f"{prefix}.parent.jsonl", f"{prefix}.change.jsonl"
    elif len(a.files) == 2:
        parent, change = a.files
    else:
        ap.error("give PARENT.jsonl CHANGE.jsonl, or --run PARENT_DIR CHANGE_DIR")
    pairs = pair_up(load(parent), load(change))
    for w in [x["name"] for x in spec["workloads"]]:
        n = sum(p["workload"] == w and p["trace"] == 0 for p, _ in pairs)
        if n < 10:
            print(f"warning: {w} has {n} untraced pairs; the 9/10 rule needs at least 10",
                  file=sys.stderr)
    report(spec, pairs)


if __name__ == "__main__":
    main()
