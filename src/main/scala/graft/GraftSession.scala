package graft

import org.apache.spark.sql.SparkSession

/** Canonical SparkSession factory for the graft engine.
  *
  * Required semantics (every entry point must set these):
  *  - `ansi.enabled=false` — reference semantics are permissive:
  *    unparseable timestamps and failed casts null out instead of
  *    aborting (ADVICE r1; SURVEY §2 F1/F6).
  *  - `session.timeZone=UTC` — TimestampType is tz-less UTC micros;
  *    São Paulo wall-clock is derived explicitly (SURVEY §7.4.1).
  *  - `parquet.inferTimestampNTZ.enabled=false` + `nanosAsLong=true` —
  *    harness parquet carries naive ms/ns timestamps.
  *
  * Scale posture (local[32] here; the same knobs scale to a cluster):
  *  - AQE on (default): runtime coalescing, skew-join splitting, and
  *    dynamic broadcast decisions replace hand-tuned partition counts.
  *  - `shuffle.partitions` sized to cores locally; on a 1000-executor
  *    cluster raise it (or let AQE coalesce from a high initial value).
  *    The override is `-Dgraft.shuffle.partitions=N` (same pattern as
  *    `graft.stateStore`): raising partition COUNT, not heap, is how
  *    shuffle working sets stay bounded as data grows. Scan-side the
  *    analogous knob is WRITER layout — row-group size sets a per-task
  *    memory floor no partition setting can split below (measured at
  *    the 1000× relational probe, SCALE.md round 8).
  *  - Codegen reuse: `spark.sql.codegen.cache.maxEntries` and
  *    `spark.sql.artifact.isolation.enabled=false` are constants, not
  *    options. The codegen cache keys each class on the class loader
  *    that asked for it. With artifact isolation on, every session — and
  *    every clone of one, which each streaming query runs in — runs its
  *    tasks under a class loader of its own, so a class compiled for
  *    one is compiled again for the next; the engine adds no artifacts
  *    (jars, classes) to a session, so that isolation protects nothing
  *    here. The
  *    default cache (100 entries) is smaller than one workload's working
  *    set ([[CodegenCacheEntries]]). Measured on the incremental ETL
  *    benchmark (perfbench `etl_incremental`, seed 101, 4 vCPU), the
  *    Janino compiles of one whole run (3 set-ups, the timed round, its
  *    check): 524 at Spark's defaults, 446 with the larger cache alone,
  *    413 with isolation off alone, 297 with both.
  *  - All operators in this library shuffle on compact derived keys
  *    (digests, hashes, ids) — never on document bodies or vectors —
  *    so partition sizing is governed by row counts, not payload width.
  */
object GraftSession {
  def builder(cores: String): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions",
        sys.props.getOrElse("graft.shuffle.partitions", cores))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      // Commit cost (guide §6): v2 commits each task file with ONE
      // rename instead of task-rename + job-rename — measured −4% on
      // the commit-heavy gate subset (OPTIMIZATION_r18.md). Correct on
      // any store with atomic rename (local/HDFS); an S3A deployment
      // overrides to its magic committer via this same knob family.
      .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version",
        sys.props.getOrElse("graft.committer.version", "2"))
      // Manifest-pinned reads enumerate O(buckets) directories per
      // family (16-64 paths); the default threshold (32) tips those
      // listings into a DISTRIBUTED listing job whose scheduling costs
      // more than the listing at any scale — pinned dir counts are
      // bounded by bucket counts, not data size. Measured −6% on the
      // same subset; override for catalogs with thousands of paths.
      .config("spark.sql.sources.parallelPartitionDiscovery.threshold",
        sys.props.getOrElse("graft.partitionDiscovery.threshold", "128"))
      // reclaim RELIABLE checkpoints once their frames are GC'd:
      // Lineage.truncate checkpoints one labels frame per CC round when
      // a checkpoint dir is set, and the default (false) leaks every one
      // of them for the life of a long-running session
      .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
      .config("spark.ui.enabled", "false")
      // codegen reuse — constants, not options (see the scaladoc): a
      // generated class compiles once, not again per session or after
      // an eviction
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
      .config("spark.sql.artifact.isolation.enabled", "false")

  /** Size of the generated-class cache. A long-lived session re-plans
    * the same shapes over and over — a daily re-pull delivery, the
    * registry's query mix — and Spark keys each compiled class by its
    * code AND the class loader that asked for it (the driver's and the
    * task threads' differ). With nothing evicted, a whole `etl_incremental`
    * benchmark run compiles ~300 such entries (see the scaladoc above);
    * Spark's default of 100 evicts most of them between two uses. 2000
    * holds that working set several times over, so a session that runs
    * more shapes than one workload still keeps each class it reuses. */
  private val CodegenCacheEntries = 2000

  /** Cores from the driver contract env (default 32 = harness shape). */
  def coresFromEnv: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")

  def create(): SparkSession = {
    val s = builder(coresFromEnv).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    // graft_* SQL functions available in every engine session (the
    // spark.sql face of the custom kernels; cluster deployments can
    // equivalently set spark.sql.extensions=graft.GraftExtensions)
    GraftExtensions.registerAll(s)
    s
  }
}
