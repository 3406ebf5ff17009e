#!/usr/bin/env python3
"""Untraced A/B of perfbench between a parent checkout and this one.

Usage:
    python3 tools/ab_bench.py --base PARENT_CHECKOUT --workload W --seeds A-B
        [--seconds 15] [--change CHECKOUT] [--out RUNS.jsonl]

For each seed from A to B it runs one untraced perfbench run
(`perfbench/run.py --workload W --seed N --seconds S --trace 0`) in the
parent checkout and one in the change's (default: the checkout this
script lives in), alternating which side goes first from pair to pair.
Each checkout builds its own sources. The parent checkout is typically
made with `git archive <parent> | tar -x -C DIR`.

Prints, for every end-to-end metric that BENCHMARK.json declares:
each side's median [q1-q3] over its runs, how many pairs the change won
(in the metric's better direction; ties count for neither side), the
change in the median, and the parent's own quartile spread; then the
failed operations of each side. With --out, every run's result line is
appended to RUNS.jsonl as {"side", "seed", "order", "result"}.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run(checkout, workload, seed, seconds):
    """The result dict of one untraced perfbench run in `checkout`."""
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", "0"],
        cwd=checkout, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    lines = [l for l in p.stdout.splitlines() if l.startswith("{")]
    if p.returncode != 0 or not lines:
        sys.exit(f"[ab_bench] run failed in {checkout} (seed {seed}, exit {p.returncode})")
    return json.loads(lines[-1])


def quartiles(xs):
    """(q1, median, q3) of xs."""
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, med, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, med, q3


def seeds(spec):
    a, _, b = spec.partition("-")
    return list(range(int(a), int(b or a) + 1))


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--base", required=True, help="the parent commit's checkout")
    ap.add_argument("--change", default=HERE, help="the change's checkout (default: this one)")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="A-B, inclusive")
    ap.add_argument("--seconds", type=int, default=15)
    ap.add_argument("--out", help="append every run's result line here (JSONL)")
    a = ap.parse_args()

    with open(os.path.join(a.change, "BENCHMARK.json")) as fh:
        metrics = json.load(fh)["end_to_end"]
    sides = {"base": a.base, "change": a.change}
    results = {"base": [], "change": []}
    for i, seed in enumerate(seeds(a.seeds)):
        order = ("base", "change") if i % 2 == 0 else ("change", "base")
        for side in order:
            r = run(sides[side], a.workload, seed, a.seconds)
            results[side].append(r)
            line = {"side": side, "seed": seed, "order": order.index(side), "result": r}
            if a.out:
                with open(a.out, "a") as fh:
                    fh.write(json.dumps(line) + "\n")
            shown = " ".join(f"{m['name']}={r['metrics'][m['name']]['value']:.4g}"
                             for m in metrics)
            print(f"[ab_bench] seed {seed} {side:6s} {shown} failed={r['failed']}",
                  file=sys.stderr, flush=True)

    n = len(results["base"])
    print(f"{a.workload}: {n} pairs, seeds {a.seeds}, --seconds {a.seconds} --trace 0")
    print("| metric | parent median [q1-q3] | change median [q1-q3] | change wins "
          "| median change | parent q3-q1 |")
    print("| --- | --- | --- | ---: | ---: | ---: |")
    for m in metrics:
        name, sign = m["name"], (1 if m["better"] == "higher" else -1)
        vals = {s: [r["metrics"][name]["value"] for r in results[s]] for s in results}
        wins = sum(1 for b, c in zip(vals["base"], vals["change"]) if sign * (c - b) > 0)
        qb, qc = quartiles(vals["base"]), quartiles(vals["change"])
        print(f"| {name} ({m['unit']}) | {qb[1]:.4g} [{qb[0]:.4g}-{qb[2]:.4g}] "
              f"| {qc[1]:.4g} [{qc[0]:.4g}-{qc[2]:.4g}] | {wins}/{n} "
              f"| {qc[1] - qb[1]:+.4g} | {qb[2] - qb[0]:.4g} |")
    for s in ("base", "change"):
        failed = sum(r["failed"] for r in results[s])
        attempted = sum(r["attempted"] for r in results[s])
        print(f"{'parent' if s == 'base' else 'change'} failed ops: {failed} of {attempted}")


if __name__ == "__main__":
    main()
