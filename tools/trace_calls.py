#!/usr/bin/env python3
"""Per-call summary of a perfbench trace.

Usage:
    python3 tools/trace_calls.py TRACE.jsonl [--base BASE.jsonl]

TRACE.jsonl is the span file a traced run writes
(`python3 perfbench/run.py --workload <w> --seed <n> --seconds <s>
--trace 1` -> perfbench/work/trace/<w>-seed<n>.jsonl). Each line is one
span: a call (parent -1, kind cold/warm/step/recompute/build/prep/...)
or a Spark job / SQL execution inside it (parent = the call's id).

Prints two tables:

1. every call kind and name: number of calls, median wall ms, median
   self ms (wall not covered by its jobs or SQL executions), median
   Spark jobs and SQL executions per call;
2. for `incr_delta` traces, each incremental cell (family.fraction) with
   its step and recompute side by side and recompute/step. With
   `--base`, each number reads `base -> trace`, e.g. a parent commit's
   trace against a change's, for the same workload and seed.

Times are medians over the calls a run made of the same kind and name;
job and SQL counts repeat exactly between runs, times do not.
"""
import argparse
import json
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


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("trace")
    ap.add_argument("--base", help="a second trace to show as `base -> trace`")
    a = ap.parse_args()
    c = calls(a.trace)
    print_calls(c)
    print_incremental(c, calls(a.base) if a.base else None)


if __name__ == "__main__":
    main()
