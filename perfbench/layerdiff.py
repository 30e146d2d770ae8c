#!/usr/bin/env python3
"""Layer-by-layer deltas between two sets of benchmark results.

    python3 perfbench/layerdiff.py BEFORE AFTER      # deltas per workload
    python3 perfbench/layerdiff.py --steady RESULTS  # count repeatability

Each argument is a result file written by run.py
(.bench_build/results/<workload>-s<seed>-t<trace>-<ns>.json) or a directory
of them. Per workload the tool prints the median of every end-to-end metric
(untraced results) and of every per-layer metric (traced results) on each
side, with the delta.

--steady takes traced results of the same code and groups them by workload
and seed. The deterministic counts (spark.jobs, spark.stages, spark.tasks,
sql.actions, sql.files_written, pipeline.rows_*, and the fs.* operation
counts) must repeat exactly within a group; any that does not, or that some
results of the group lack, is printed with its spread and marked unusable
for count claims, and the exit code is 1. A count no result of the group
has is one the workload does not produce and is skipped.
"""
import glob
import json
import os
import statistics
import sys

COUNTS = ("spark.jobs", "spark.stages", "spark.tasks", "sql.actions", "sql.files_written",
          "pipeline.rows_in", "pipeline.rows_out", "fs.list", "fs.status", "fs.open",
          "fs.create", "fs.mkdirs", "fs.rename", "fs.delete")


def load(paths):
    out = []
    for p in paths:
        files = sorted(glob.glob(os.path.join(p, "*.json"))) if os.path.isdir(p) else [p]
        for f in files:
            with open(f) as fh:
                r = json.load(fh)
            if "env" in r and "metrics" in r:
                out.append(r)
    return out


def values(r):
    """{metric: (value, unit)}: the printed metrics, plus, for a traced
    result, every layer figure the run recorded."""
    out = {k: (v, "") for k, v in r["layers"].items()} if r["env"]["trace"] else {}
    out.update({k: (v["value"], v["unit"]) for k, v in r["metrics"].items()})
    return out


def medians(results, trace):
    """{workload: {metric: (median, unit)}} over results with this trace flag."""
    by = {}
    for r in results:
        if r["env"]["trace"] == trace:
            w = by.setdefault(r["env"]["workload"], {})
            for k, (v, unit) in values(r).items():
                w.setdefault(k, (unit, []))[1].append(v)
    return {w: {k: (statistics.median(vs), u) for k, (u, vs) in ms.items()}
            for w, ms in by.items()}


def diff(before, after):
    a, b = load([before]), load([after])
    for trace, title in ((0, "end to end"), (1, "per layer")):
        ma, mb = medians(a, trace), medians(b, trace)
        for w in sorted(set(ma) & set(mb)):
            print("== %s: %s (median of %s -> %s)" % (w, title, before, after))
            for k in ma[w]:
                if k not in mb[w]:
                    continue
                (x, unit), (y, _) = ma[w][k], mb[w][k]
                rel = "%+.1f%%" % (100 * (y - x) / x) if x else "   n/a"
                print("  %-26s %14.4f -> %14.4f %-6s %+12.4f %8s" % (k, x, y, unit, y - x, rel))


def steady(paths):
    groups = {}
    for r in load(paths):
        if r["env"]["trace"] == 1:
            groups.setdefault((r["env"]["workload"], r["env"]["seed"]), []).append(r)
    bad = 0
    for (w, seed), rs in sorted(groups.items()):
        if len(rs) < 2:
            print("%s seed %d: one traced result, nothing to compare" % (w, seed))
            continue
        print("%s seed %d: %d traced results" % (w, seed, len(rs)))
        for k in COUNTS:
            vals = [r["layers"].get(k) for r in rs]
            if None in vals:
                if any(v is not None for v in vals):
                    bad += 1
                    print("  %-20s missing from some results: UNUSABLE for count claims" % k)
            elif max(vals) != min(vals):
                bad += 1
                print("  %-20s spread %s..%s: UNUSABLE for count claims" % (k, min(vals), max(vals)))
            else:
                print("  %-20s %s (repeats)" % (k, vals[0]))
    return 1 if bad else 0


def main():
    args = sys.argv[1:]
    if args and args[0] == "--steady":
        sys.exit(steady(args[1:]))
    if len(args) != 2:
        sys.exit(__doc__)
    diff(*args)


if __name__ == "__main__":
    main()
