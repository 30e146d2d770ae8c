#!/usr/bin/env python3
"""Per-stage task counts and task times from Spark event logs.

Usage: python3 tools/stages.py <event log> [<event log> ...]

Each argument is one application's UNCOMPRESSED event log (written with
spark.eventLog.enabled=true and spark.eventLog.compress=false): a single
file, or a rolling log's eventlog_v2_* directory of events_<n>_* files,
Spark 4's default. A directory that is neither is read as a set of such
logs. For every stage attempt it prints the job that ran it,
its task count and the summed task times in ms: deserialize (the executor
reading the task's closure), run, CPU and GC, then the totals of the
application. Task deserialization is not in any SQL metric, so this is
where a per-task fixed cost shows."""
import json
import os
import sys

COLS = ("tasks", "deser_ms", "run_ms", "cpu_ms", "gc_ms")


def events(files):
    for path in files:
        with open(path, encoding="utf-8") as f:
            yield from f


def stages(files):
    """(app name, [(job, stage, attempt, name, {col: value})]) of one log."""
    app, job_of, name_of, acc = "?", {}, {}, {}
    for line in events(files):
        e = json.loads(line)
        kind = e.get("Event")
        if kind == "SparkListenerApplicationStart":
            app = e.get("App Name", "?")
        elif kind == "SparkListenerJobStart":
            for s in e.get("Stage IDs", []):
                job_of.setdefault(s, e["Job ID"])
        elif kind == "SparkListenerStageSubmitted":
            info = e["Stage Info"]
            name_of[(info["Stage ID"], info["Stage Attempt ID"])] = info["Stage Name"]
        elif kind == "SparkListenerTaskEnd":
            m = e.get("Task Metrics") or {}
            key = (e["Stage ID"], e["Stage Attempt ID"])
            a = acc.setdefault(key, dict.fromkeys(COLS, 0.0))
            a["tasks"] += 1
            a["deser_ms"] += m.get("Executor Deserialize Time", 0)
            a["run_ms"] += m.get("Executor Run Time", 0)
            a["cpu_ms"] += m.get("Executor CPU Time", 0) / 1e6
            a["gc_ms"] += m.get("JVM GC Time", 0)
    rows = [(job_of.get(s, -1), s, att, name_of.get((s, att), "?"), a)
            for (s, att), a in sorted(acc.items())]
    return app, rows


def logs(path):
    """The event files of each application log under `path`, in order."""
    if os.path.isfile(path):
        return [[path]]
    names = sorted(os.listdir(path))
    rolled = sorted((n for n in names if n.startswith("events_")),
                    key=lambda n: int(n.split("_")[1]))
    if rolled:
        return [[os.path.join(path, n) for n in rolled]]
    return [files for n in names if not n.startswith(".") and not n.endswith(".inprogress")
            for files in logs(os.path.join(path, n))]


def main(args):
    if not args:
        sys.exit(__doc__)
    for files in (f for a in args for f in logs(a)):
        app, rows = stages(files)
        rolled = os.path.basename(files[0]).startswith("events_")
        print(f"== {os.path.dirname(files[0]) if rolled else files[0]}"
              f" ({app}): {len(rows)} stage attempts")
        print(f"{'job':>4} {'stage':>7} " + " ".join(f"{c:>9}" for c in COLS) + "  name")
        total = dict.fromkeys(COLS, 0.0)
        for job, s, att, name, a in rows:
            for c in COLS:
                total[c] += a[c]
            print(f"{job:>4} {f'{s}.{att}':>7} "
                  + " ".join(f"{a[c]:>9.0f}" for c in COLS) + f"  {name[:60]}")
        print(f"{'':>4} {'total':>7} " + " ".join(f"{total[c]:>9.0f}" for c in COLS))


if __name__ == "__main__":
    main(sys.argv[1:])
