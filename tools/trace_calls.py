#!/usr/bin/env python3
"""Per-call summary of a perfbench trace, and cold/warm ratios of runs.

Usage:
    python3 tools/trace_calls.py TRACE.jsonl [--base BASE.jsonl]
    python3 tools/trace_calls.py --samples SAMPLES.tsv [SAMPLES.tsv ...]

TRACE.jsonl is the span file a traced run writes
(`python3 perfbench/run.py --workload <w> --seed <n> --seconds <s>
--trace 1` -> perfbench/work/trace/<w>-seed<n>.jsonl). Each line is one
span: a call (parent -1, kind cold/warm/step/recompute/build/prep/...)
or a Spark job / SQL execution inside it (parent = the call's id).

Prints three tables:

1. every call kind and name: number of calls, median wall ms, median
   self ms (wall not covered by its jobs or SQL executions), median
   Spark jobs and SQL executions per call;
2. for registry traces (`olap_warm`, `state_build_serve`), each row's
   cold ms, median warm ms, cold/warm, and cold and warm jobs, with the
   geometric mean of cold/warm over the rows: the traced form of
   `reuse_speedup`;
3. for `incr_delta` traces, each incremental cell (family.fraction) with
   its step and recompute side by side and recompute/step.
With `--base`, each number of tables 2 and 3 reads `base -> trace`, e.g.
a parent commit's trace against a change's, for the same workload and
seed.

`--samples` reads instead the per-call sample files every run writes
(perfbench/work/samples-<w>-seed<n>-trace<t>.tsv; columns kind, item,
ms, ok, traced), untraced runs included. For each file it prints every
item's median from-scratch ms (cold, or recompute), median reuse ms
(warm, or step) and their ratio, and the geometric mean of the ratios —
the run's `reuse_speedup`, computed as perfbench computes it; then the
median of the geometric means over the files.

Times are medians over the calls a run made of the same kind and name;
job and SQL counts repeat exactly between runs, times do not.
"""
import argparse
import csv
import json
import math
import statistics
from collections import defaultdict


def calls(path):
    """(kind, name) -> list of {wall, self, jobs, sql} dicts, one per call."""
    spans = []
    with open(path) as fh:
        for line in fh:
            line = line.strip()
            if line:
                spans.append(json.loads(line))
    children = defaultdict(lambda: {"job": 0, "sql": 0})
    for s in spans:
        if s["parent"] >= 0 and s["kind"] in ("job", "sql"):
            children[s["parent"]][s["kind"]] += 1
    out = defaultdict(list)
    for s in spans:
        if s["parent"] < 0:
            kids = children[s["id"]]
            out[(s["kind"], s["name"])].append({
                "wall": s["end_ms"] - s["start_ms"], "self": s["self_ms"],
                "jobs": kids["job"], "sql": kids["sql"]})
    return out


def med(rows, key):
    return statistics.median(r[key] for r in rows)


def num(x):
    return f"{x:.0f}" if float(x).is_integer() else f"{x:.1f}"


def cell(trace, base, fmt=num):
    """One table cell: the trace's value, or `base -> trace`."""
    if base is None:
        return fmt(trace)
    return f"{fmt(base)} -> {fmt(trace)}"


def print_calls(c):
    print("| kind | name | calls | wall ms | self ms | jobs | sql |")
    print("| --- | --- | ---: | ---: | ---: | ---: | ---: |")
    for (kind, name), rows in c.items():
        print(f"| {kind} | {name} | {len(rows)} | {num(med(rows, 'wall'))} | "
              f"{num(med(rows, 'self'))} | {num(med(rows, 'jobs'))} | "
              f"{num(med(rows, 'sql'))} |")


def incremental_cells(c):
    return sorted({name for (kind, name) in c if kind == "step"
                   and ("recompute", name) in c})


def print_incremental(c, b):
    cells = incremental_cells(c)
    if not cells:
        return
    print()
    print("| cell | step ms | recompute ms | recompute/step | step jobs | "
          "recompute jobs | step sql | recompute sql |")
    print("| --- | ---: | ---: | ---: | ---: | ---: | ---: | ---: |")
    ratio = lambda x: f"{x:.2f}"
    for name in cells:
        st, rc = c[("step", name)], c[("recompute", name)]
        if b is not None and ("step", name) in b and ("recompute", name) in b:
            bst, brc = b[("step", name)], b[("recompute", name)]
        else:
            bst = brc = None

        def v(rows, brows, key):
            return cell(med(rows, key), None if brows is None else med(brows, key))

        r = med(rc, "wall") / med(st, "wall")
        br = None if bst is None else med(brc, "wall") / med(bst, "wall")
        print(f"| {name} | {v(st, bst, 'wall')} | {v(rc, brc, 'wall')} | "
              f"{cell(r, br, ratio)} | {v(st, bst, 'jobs')} | "
              f"{v(rc, brc, 'jobs')} | {v(st, bst, 'sql')} | {v(rc, brc, 'sql')} |")


def geomean(xs):
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def registry_rows(c):
    return [name for (kind, name) in c if kind == "cold" and ("warm", name) in c]


def print_reuse(c, b):
    rows = registry_rows(c)
    if not rows:
        return
    print()
    print("| row | cold ms | warm ms | cold/warm | cold jobs | warm jobs |")
    print("| --- | ---: | ---: | ---: | ---: | ---: |")
    ratio = lambda x: f"{x:.2f}"
    ratios, base_ratios = [], []
    for name in rows:
        co, wa = c[("cold", name)], c[("warm", name)]
        bco = bwa = None
        if b is not None and ("cold", name) in b and ("warm", name) in b:
            bco, bwa = b[("cold", name)], b[("warm", name)]

        def v(rows, brows, key):
            return cell(med(rows, key), None if brows is None else med(brows, key))

        r = med(co, "wall") / med(wa, "wall")
        ratios.append(r)
        br = None
        if bco is not None:
            br = med(bco, "wall") / med(bwa, "wall")
            base_ratios.append(br)
        print(f"| {name} | {v(co, bco, 'wall')} | {v(wa, bwa, 'wall')} | "
              f"{cell(r, br, ratio)} | {v(co, bco, 'jobs')} | {v(wa, bwa, 'jobs')} |")
    g = geomean(ratios)
    bg = geomean(base_ratios) if len(base_ratios) == len(ratios) else None
    print(f"| geometric mean | | | {cell(g, bg, ratio)} | | |")


SCRATCH = {"cold": "cold", "recompute": "recompute"}
REUSE = {"cold": "warm", "recompute": "step"}


def samples(path):
    """(scratch kind, {item: [ms]} of scratch calls, {item: [ms]} of reuse calls)."""
    with open(path) as fh:
        rows = [r for r in csv.DictReader(fh, delimiter="\t") if r["ok"] == "true"]
    kinds = {r["kind"] for r in rows}
    scratch = "recompute" if "recompute" in kinds else "cold"
    by = lambda kind: {r["item"]: [] for r in rows if r["kind"] == kind}
    out = {scratch: by(scratch), REUSE[scratch]: by(REUSE[scratch])}
    for r in rows:
        if r["kind"] in out:
            out[r["kind"]][r["item"]].append(float(r["ms"]))
    return scratch, out[scratch], out[REUSE[scratch]]


def print_samples(paths):
    means = []
    for path in paths:
        scratch, sc, re = samples(path)
        items = [i for i in sc if i in re]
        if not items:
            continue
        print(f"{path}")
        print(f"| item | {scratch} ms | {REUSE[scratch]} ms | ratio |")
        print("| --- | ---: | ---: | ---: |")
        ratios = []
        for i in items:
            s_ms, r_ms = statistics.median(sc[i]), statistics.median(re[i])
            ratios.append(s_ms / r_ms)
            print(f"| {i} | {num(s_ms)} | {num(r_ms)} | {s_ms / r_ms:.2f} |")
        means.append(geomean(ratios))
        print(f"| geometric mean | | | {means[-1]:.3f} |")
        print()
    if means:
        print(f"median over {len(means)} files of the geometric mean: "
              f"{statistics.median(means):.3f}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[1])
    ap.add_argument("trace", nargs="?")
    ap.add_argument("--base", help="a second trace to show as `base -> trace`")
    ap.add_argument("--samples", nargs="+", metavar="SAMPLES.tsv",
                    help="per-call sample files instead of a trace")
    a = ap.parse_args()
    if a.samples:
        print_samples(a.samples)
        return
    if not a.trace:
        ap.error("a trace file or --samples is required")
    c = calls(a.trace)
    b = calls(a.base) if a.base else None
    print_calls(c)
    print_reuse(c, b)
    print_incremental(c, b)


if __name__ == "__main__":
    main()
