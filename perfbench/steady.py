#!/usr/bin/env python3
"""Steadiness check: do two sets of runs of one commit agree?

    python3 perfbench/steady.py [--runs 10] [--workload W ...] [--out FILE]
    python3 perfbench/steady.py --from FILE

Run from the root of a checkout. Makes two sets of `--runs` untraced runs
of every workload in BENCHMARK.json (set A on seeds 1.., set B on seeds
101..), appending each run's record to FILE (default
.bench_build/perfbench/steady.jsonl), then reports per workload and
end-to-end metric:

- spread: (Q3 - Q1) / median of each set, by statistics.quantiles(n=4);
  it must stay within the metric's bound, and the row is marked
  `steady` only while it stays below a third of it;
- drift: how much set B's median differs from set A's, either way, as a
  share of A's; it must stay within the bound;
- the share of failed operations, which must be the same in both sets,
  and no run may report incorrect output.

It also prints the spread of both sets pooled, for reference.

Every metric, setup_s included, is held to both tests. Exits non-zero
when any row disagrees. --from re-reads a record file.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def load_spec():
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        return json.load(f)


def spread(xs):
    q1, _, q3 = statistics.quantiles(xs, n=4)
    return (q3 - q1) / statistics.median(xs)


def run_sets(spec, workloads, runs, out):
    for set_base in (1, 101):
        for w in workloads:
            for seed in range(set_base, set_base + runs):
                r = subprocess.run(
                    [sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                     "--seed", str(seed), "--seconds", str(spec["run_seconds"]),
                     "--trace", "0", "--record", out],
                    stdout=subprocess.DEVNULL)
                if r.returncode != 0:
                    print(f"run {w} seed {seed} exited with {r.returncode}", file=sys.stderr)


def report(spec, records):
    ok = True
    print(f"{'workload':18} {'metric':10} {'median A':>10} {'median B':>10} "
          f"{'spread A':>8} {'spread B':>8} {'pooled':>8} {'drift':>7} {'bound':>6}  verdict")
    for w in [x["name"] for x in spec["workloads"]]:
        sets = {k: [r for r in records if r["workload"] == w and r["trace"] == 0
                    and (r["seed"] > 100) == (k == "B")] for k in "AB"}
        if min(len(s) for s in sets.values()) < 2:
            print(f"{w:18} fewer than two runs in a set")
            ok = False
            continue
        share = {k: sum(r["result"]["failed"] for r in s) / sum(r["result"]["attempted"] for r in s)
                 for k, s in sets.items()}
        for m in spec["end_to_end"]:
            vals = {k: [r["result"]["metrics"][m["name"]]["value"] for r in s]
                    for k, s in sets.items()}
            med = {k: statistics.median(v) for k, v in vals.items()}
            spr = {k: spread(v) for k, v in vals.items()}
            drift = (med["B"] - med["A"]) / med["A"]
            good = abs(drift) <= m["bound"] and max(spr.values()) <= m["bound"]
            steady = good and max(spr.values()) < m["bound"] / 3
            ok &= good
            print(f"{w:18} {m['name']:10} {med['A']:10.4f} {med['B']:10.4f} "
                  f"{spr['A']:8.3f} {spr['B']:8.3f} {spread(vals['A'] + vals['B']):8.3f} "
                  f"{drift:+7.3f} {m['bound']:6.2f}  "
                  f"{'agree' if good else 'DISAGREE'}{', steady' if steady else ''}")
        wrong = sum(not r["result"]["correct"] for s in sets.values() for r in s)
        same = share["A"] == share["B"] and not wrong
        ok &= same
        print(f"{w:18} failed share A {share['A']:.4f} B {share['B']:.4f}, "
              f"{wrong} incorrect runs  {'agree' if same else 'DISAGREE'}")
    return ok


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--workload", action="append")
    ap.add_argument("--out", default=os.path.join(".bench_build", "perfbench", "steady.jsonl"))
    ap.add_argument("--from", dest="src")
    a = ap.parse_args()
    spec = load_spec()
    path = a.src or a.out
    if not a.src:
        os.makedirs(os.path.dirname(os.path.abspath(path)), exist_ok=True)
        run_sets(spec, a.workload or [x["name"] for x in spec["workloads"]], a.runs, path)
    with open(path) as f:
        records = [json.loads(line) for line in f if line.strip()]
    sys.exit(0 if report(spec, records) else 1)


if __name__ == "__main__":
    main()
