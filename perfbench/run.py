#!/usr/bin/env python3
"""Layer-split benchmark of the graft engine.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run builds the engine's sources
(`src/main/scala`) together with the harness (`perfbench/scala`) with sbt
into `.bench_build/`; later runs reuse that build while the sources are
unchanged. Inputs are generated from the seed (`gen.py`) and cached under
`.bench_build/inputs/`. Each run gets a fresh run root under
`.bench_build/runs/` that holds `java.io.tmpdir`, the Spark local and
warehouse dirs, stream checkpoints and outputs, and is deleted at the end.

Workloads (each a closed loop with one client on local[nproc]):
  etl_batch        the reference ETL run through graft.pipeline.JurimetriaCli;
                   its outputs are checked after each round, off the clock
  etl_incremental  daily re-pulls drained by a streaming job into a keyed
                   TxTableStack table, takedowns, compaction, vacuum, and a
                   reader after each delivery
  registry_mix     a subset of SparkEntry.queries covering every family,
                   each sunk to noop, over perfbench/data/sf0.01; the seed
                   sets the order; results are checked against DuckDB

A round is one whole pass of a workload's ops. The timed phase repeats
rounds until they have taken --seconds; figures are per round or per op.
A round's outputs are checked after its clock has stopped.

End-to-end metrics (--trace 0 prints those BENCHMARK.json names):
  setup_s        median of the run's set-ups: session creation, warm-up,
                 fixture staging
  wall_s         median wall time of a round
  op_p50_s       median op latency: a CLI run, a delivery job, a query
  read_p50_s     median latency of the read-only steps: the reader after
                 each delivery (etl_incremental), the relational q01-q53
                 queries (registry_mix);
                 kept in the result file only, not printed: on a shared
                 4-vCPU host its spread across runs reached 0.29 of its
                 median on etl_incremental, above any allowed bound
  hits_per_s     raw hits ingested per second of round (etl_*); queries per
                 second of round (registry_mix)
  disk_write_mb  bytes written through the Hadoop `file` scheme per round
  stored_mb      bytes on disk under the outputs / table root / fixtures
                 and checked results at run end
  peak_rss_mb    peak RSS of the engine's JVM: the median over the set-ups
                 and rounds of each one's peak; kept in the result file
                 only, not printed: with the JVM's adaptive heap sizing its
                 spread across seeds reached 0.19-0.29 of its median
Ops that throw or fail their output check are counted in `failed` and left
out of every latency.

--trace 1 attaches listeners, a counting `file` FileSystem and one job group
per span, runs the same seed, and prints the per-layer metrics named in
BENCHMARK.json. A workload must produce every layer LAYERS names for it,
or the run fails; a layer a workload does not exercise reads 0.
trace.overhead_s is the traced wall_s minus the untraced
median of this checkout (an untraced run is made first when there is none).
Spans land beside the result under .bench_build/results/;
perfbench/layerdiff.py compares result sets.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True  # keep perfbench/ free of __pycache__

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
RESULTS = os.path.join(BUILD, "results")
WORKLOADS = ("etl_batch", "etl_incremental", "registry_mix")
JVM_TIMEOUT_S = 170
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
TRACE_CONF = {
    "spark.extraListeners": "perfbench.BenchListener",
    "spark.sql.queryExecutionListeners": "perfbench.BenchQueryListener",
    "spark.sql.streaming.streamingQueryListeners": "perfbench.BenchStreamListener",
    "spark.hadoop.fs.file.impl": "perfbench.CountingFs",
    "spark.scheduler.listenerbus.eventqueue.capacity": "100000",
}
# per-layer metrics each traced run must produce, common and per workload
LAYERS_ALL = (
    ["session.create_s", "session.warm_s", "stream.state_mb", "trace.wall_s",
     "trace.overhead_s"]
    + ["spark." + k for k in ("jobs stages stages_skipped tasks tasks_failed job_s "
                              "driver_gap_s task_run_s task_cpu_s gc_s shuffle_write_mb "
                              "shuffle_read_mb spill_mb").split()]
    + ["sql." + k for k in ("actions write_actions analysis_s optimization_s planning_s "
                            "exec_s scan_files scan_mb scan_metadata_s").split()]
    + ["fs." + k for k in "list status open create mkdirs rename delete read_mb write_mb".split()])
SQL_FILE_WRITES = ["sql." + k for k in ("files_written rows_written task_commit_s "
                                        "job_commit_s").split()]
STREAM = ["stream." + k for k in ("triggers trigger_s add_batch_s wal_commit_s "
                                  "commit_offsets_s latest_offset_s planning_s").split()]
LAYERS = {
    "etl_batch": SQL_FILE_WRITES + ["sql.broadcast_build_s"] + [
        "pipeline." + k for k in ("run_s persist_s count_s histogram_s rows_in rows_out "
                                  "kept_frac cache_mb").split()],
    "etl_incremental": SQL_FILE_WRITES + STREAM + [
        "pipeline." + k for k in "histogram_s rows_in rows_out kept_frac".split()] + [
        "tx." + k for k in ("commit_s delete_s compact_s vacuum_s resolve_s changes_s "
                            "commits pinned_files").split()],
    "registry_mix": SQL_FILE_WRITES + STREAM + [
        "queries." + k for k in "build_s exec_s fixture_builds".split()],
}


def log(msg):
    print("[perfbench] " + msg, file=sys.stderr, flush=True)


def sources_digest():
    h = hashlib.sha256()
    for base in (os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "scala")):
        for d, _, fs in sorted(os.walk(base)):
            for f in sorted(fs):
                p = os.path.join(d, f)
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    for f in ("build.sbt", os.path.join("project", "build.properties")):
        with open(os.path.join(HERE, f), "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def build():
    """Classpath of the compiled engine + harness, building when stale."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        raise SystemExit("engine sources not found under src/main/scala")
    stamp = os.path.join(BUILD, "classpath-%s.txt" % sources_digest())
    if os.path.exists(stamp):
        with open(stamp) as f:
            return f.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    env["SBT_OPTS"] = env.get("SBT_OPTS") or (
        "-Dsbt.override.build.repos=true -Dsbt.repository.config=%s "
        "-Dsbt.offline=true -Xmx2g" % os.path.expanduser("~/.sbt/repositories"))
    with open(os.path.join(ROOT, "build.sbt")) as f:
        jars = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not jars:
        raise SystemExit("no unmanagedBase jars directory in build.sbt")
    log("building engine + harness with sbt")
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                        "-Dperfbench.jars=" + jars.group(1), "compile",
                        "export Runtime/fullClasspath"], cwd=HERE, env=env,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
                       timeout=850)
    cp = [l for l in p.stdout.splitlines() if "classes" in l and ".jar" in l
          and not l.startswith("[")]
    if p.returncode != 0 or not cp:
        sys.stderr.write(p.stdout[-4000:])
        raise SystemExit("build failed")
    for old in glob.glob(os.path.join(BUILD, "classpath-*.txt")):
        os.remove(old)
    with open(stamp, "w") as f:
        f.write(cp[-1])
    return cp[-1]


def inputs(workload, seed):
    with open(os.path.join(HERE, "gen.py"), "rb") as f:
        version = hashlib.sha256(f.read()).hexdigest()[:8]
    d = os.path.join(BUILD, "inputs", "%s-%d-%s" % (workload, seed, version))
    if workload != "registry_mix" and not os.path.exists(os.path.join(d, "done")):
        shutil.rmtree(d, ignore_errors=True)
        sys.path.insert(0, HERE)
        import gen
        gen.generate(workload, seed, d)
        open(os.path.join(d, "done"), "w").close()
    return d


def driver_mem():
    """The tier-1 SPARK_DRIVER_MEM formula: half of RAM, clamped to 2-8 GiB."""
    if os.environ.get("SPARK_DRIVER_MEM"):
        return os.environ["SPARK_DRIVER_MEM"]
    g = 2
    with open("/proc/meminfo") as f:
        for l in f:
            if l.startswith("MemTotal:"):
                g = int(l.split()[1]) // 2097152
    return "%dg" % min(8, max(2, g))


def run_jvm(cp, workload, seed, seconds, trace, inp):
    run_root = os.path.join(BUILD, "runs", "%s-%d-%d" % (workload, seed, os.getpid()))
    shutil.rmtree(run_root, ignore_errors=True)
    for sub in ("tmp", "local", "warehouse"):
        os.makedirs(os.path.join(run_root, sub))
    out = os.path.join(run_root, "result.json")
    props = {
        "java.io.tmpdir": os.path.join(run_root, "tmp"),
        "spark.local.dir": os.path.join(run_root, "local"),
        "spark.sql.warehouse.dir": os.path.join(run_root, "warehouse"),
        "derby.system.home": run_root,
        "spark.ui.enabled": "false",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.ansi.enabled": "false",
        "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
        "spark.sql.legacy.parquet.nanosAsLong": "true",
    }
    if trace:
        props.update(TRACE_CONF)
    cmd = (["java"] + [a for p in ADD_OPENS for a in ("--add-opens", p + "=ALL-UNNAMED")]
           + ["-Xmx" + driver_mem()] + ["-D%s=%s" % kv for kv in props.items()]
           + ["-cp", cp, "perfbench.Main", "--workload", workload, "--seed", str(seed),
              "--seconds", str(seconds), "--trace", "1" if trace else "0",
              "--inputs", inp, "--data", os.path.join(HERE, "data", "sf0.01"),
              "--run-root", run_root, "--out", out])
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(os.cpu_count() or 1),
               SPARK_LOCAL_DIRS=os.path.join(run_root, "local"))
    logf = os.path.join(BUILD, "logs", "%s-%d-t%d.log" % (workload, seed, trace))
    os.makedirs(os.path.dirname(logf), exist_ok=True)
    try:
        with open(logf, "w") as lf:
            p = subprocess.Popen(cmd, cwd=run_root, env=env, stdout=lf, stderr=subprocess.STDOUT)
            try:
                rc = p.wait(timeout=JVM_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                raise SystemExit("engine JVM timed out; log: " + logf)
            finally:
                if p.poll() is None:
                    p.kill()
                    p.wait()
        if rc != 0 or not os.path.exists(out):
            with open(logf) as f:
                sys.stderr.write("".join(l for l in f if "WARN" not in l)[-4000:])
            raise SystemExit("engine JVM failed (exit %d); log: %s" % (rc, logf))
        with open(out) as f:
            res = json.load(f)
        if workload == "registry_mix":
            sys.path.insert(0, HERE)
            import oracle
            bad = oracle.check(os.path.join(HERE, "data", "sf0.01"),
                               os.path.join(run_root, "verify"))
            for name, why in sorted(bad.items()):
                log("%s fails its oracle check: %s" % (name, why))
            for o in res["ops"]:
                if o["name"] in bad and o["ok"]:
                    o["ok"], o["err"] = False, bad[o["name"]]
        if trace and os.path.exists(out + ".spans.jsonl"):
            res["spans_file"] = out + ".spans.jsonl"
        return res, run_root
    except BaseException:
        shutil.rmtree(run_root, ignore_errors=True)
        raise


def end_to_end(res):
    ok = [o for o in res["ops"] if o["ok"]]
    ops = [o["s"] for o in ok if o["kind"] == "op" or res["workload"] == "registry_mix"]
    reads = [o["s"] for o in ok if o["kind"] == "read"]
    walls = [r["wall_s"] for r in res["rounds"]]
    wall = statistics.median(walls)
    return {
        "setup_s": (statistics.median(res["setup_s"]), "s"),
        "wall_s": (wall, "s"),
        # 0 only when every op failed, which `failed` already reports
        "op_p50_s": (statistics.median(ops) if ops else 0.0, "s"),
        "read_p50_s": (statistics.median(reads) if reads else 0.0, "s"),
        "hits_per_s": (res["hits_per_round"] / wall, "1/s"),
        "disk_write_mb": (statistics.median(r["write_bytes"] for r in res["rounds"]) / 1e6, "MB"),
        "stored_mb": (res["stored_bytes"] / 1e6, "MB"),
        "peak_rss_mb": (statistics.median(res["peak_rss_mb"]), "MB"),
    }


def per_layer(res, untraced_wall):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    layers = dict(res["layers"])
    layers["trace.wall_s"] = statistics.median(r["wall_s"] for r in res["rounds"])
    layers["trace.overhead_s"] = layers["trace.wall_s"] - untraced_wall
    missing = [k for k in LAYERS_ALL + LAYERS[res["workload"]] if k not in layers]
    if missing:
        raise SystemExit("traced %s run recorded no %s" % (res["workload"], ", ".join(missing)))
    return {m["name"]: (float(layers.get(m["name"], 0.0)), m["unit"])
            for m in spec["per_layer"]}


def git_sha():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or "none"
    except Exception:
        return "none"


def untraced_walls(workload, seed):
    """wall_s of this checkout's untraced runs of the same sources, preferring
    runs of the same seed."""
    found = {}
    for p in glob.glob(os.path.join(RESULTS, "%s-s*-t0-*.json" % workload)):
        with open(p) as f:
            r = json.load(f)
        if r["env"]["sources"] == sources_digest():
            found.setdefault(r["env"]["seed"], []).append(r["metrics"]["wall_s"]["value"])
    return found.get(seed) or [w for ws in found.values() for w in ws]


def main():
    # a terminated run still stops its JVM and removes its run root
    signal.signal(signal.SIGTERM, lambda *_: sys.exit("terminated"))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not os.path.exists(os.path.join(ROOT, "BENCHMARK.json")):
        raise SystemExit("run from a checkout that holds BENCHMARK.json")
    cp = build()
    inp = inputs(a.workload, a.seed)

    if a.trace and not untraced_walls(a.workload, a.seed):
        log("no untraced result of %s yet: measuring one for the overhead" % a.workload)
        record(a, *run_jvm(cp, a.workload, a.seed, a.seconds, False, inp), None)
    res, run_root = run_jvm(cp, a.workload, a.seed, a.seconds, bool(a.trace), inp)
    walls = untraced_walls(a.workload, a.seed)
    metrics = per_layer(res, statistics.median(walls)) if a.trace else end_to_end(res)
    out = record(a, res, run_root, metrics)
    print(json.dumps(out["env"]))
    print(json.dumps(out["summary"]))


def record(a, res, run_root, metrics):
    """Saves the full result under .bench_build/results and removes the run root."""
    trace = res["trace"]
    if metrics is None:
        metrics = end_to_end(res)
    failed = sum(1 for o in res["ops"] if not o["ok"])
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    printed = {m["name"] for m in spec["per_layer" if trace else "end_to_end"]}
    everything = {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}
    summary = {"correct": failed == 0, "attempted": len(res["ops"]), "failed": failed,
               "metrics": {k: v for k, v in everything.items() if k in printed}}
    env = {"workload": a.workload, "seed": a.seed, "trace": int(trace),
           "nproc": os.cpu_count(), "driver_heap": driver_mem(),
           "spark": res["env"]["spark"], "git_sha": git_sha(),
           "sources": sources_digest(), "rounds": len(res["rounds"]),
           "failed_frac": failed / max(1, len(res["ops"]))}
    os.makedirs(RESULTS, exist_ok=True)
    stem = os.path.join(RESULTS, "%s-s%d-t%d-%d" % (a.workload, a.seed, int(trace),
                                                   time.time_ns()))
    if res.get("spans_file"):
        shutil.copy(res["spans_file"], stem + ".spans.jsonl")
    full = {"env": env, "metrics": everything, "layers": res["layers"],
            "setup_s": res["setup_s"], "rounds": res["rounds"], "ops": res["ops"],
            "errors": sorted({o["name"] + ": " + o["err"] for o in res["ops"] if not o["ok"]})}
    with open(stem + ".json", "w") as f:
        json.dump(full, f, indent=1, sort_keys=True)
    shutil.rmtree(run_root, ignore_errors=True)
    return {"env": env, "summary": summary}


if __name__ == "__main__":
    main()
