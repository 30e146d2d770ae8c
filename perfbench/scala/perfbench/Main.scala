package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One benchmark run of one workload inside one JVM: repeated set-ups, a
  * timed phase of whole rounds, output checks, and a result file that
  * `run.py` turns into the reported metrics.
  *
  * {{{
  * perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *   --inputs DIR --data SF_DIR --run-root DIR --out RESULT.json
  * }}}
  *
  * A round is the workload's whole op sequence; the timed phase runs
  * rounds until they have taken `--seconds`, so every per-round figure
  * compares across runs. A round's outputs are checked after its clock
  * has stopped. */
object Main {

  /** One timed op: `kind` is "op" or "read". */
  final case class Op(kind: String, name: String, round: Int, startMs: Long,
                      endMs: Long, seconds: Double, ok: Boolean, err: String)

  final class Recorder {
    val ops = mutable.ArrayBuffer[Op]()
    var round = 0
    def time[A](kind: String, name: String)(body: => A): Option[A] = {
      val a = System.currentTimeMillis(); val t = System.nanoTime()
      try {
        val r = Trace.span(s"op.$name")(body)
        ops += Op(kind, name, round, a, System.currentTimeMillis(),
          (System.nanoTime() - t) / 1e9, ok = true, "")
        Some(r)
      } catch { case e: Throwable =>
        System.err.println(s"[perfbench] $name failed: $e")
        ops += Op(kind, name, round, a, System.currentTimeMillis(),
          (System.nanoTime() - t) / 1e9, ok = false, e.toString)
        None
      }
    }
    /** Mark every op of the round as failed: its outputs did not check. */
    def fail(round: Int, why: String): Unit =
      ops.indices.foreach { i =>
        val o = ops(i)
        if (o.round == round && o.ok) ops(i) = o.copy(ok = false, err = why)
      }
  }

  trait Workload {
    /** Set-ups per run: `setup_s` is their median. */
    def setups: Int
    def setup(k: Int): Unit
    def round(r: Int, rec: Recorder): Unit
    /** Checks round `r`'s outputs after its clock has stopped. */
    def check(r: Int, rec: Recorder): Unit = ()
    def hitsPerRound: Double
    /** Per-round layer figures this workload measures itself. */
    def layers(rounds: Int): Map[String, Double] = Map.empty
    /** Bytes on disk under the run's outputs or table root: `stored_mb`. */
    def storedBytes: Long
  }

  def session(): SparkSession = Trace.span("session.create")(graft.GraftSession.create())

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }

  def rmrf(p: Path): Unit = graft.queries.FixtureCache.deleteRecursively(p)

  /** Peak RSS (MB) of this JVM since the last call: reads VmHWM, then
    * resets it to the current RSS. */
  private def peakRssMb(): Double = {
    val mb = Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
    Files.writeString(Paths.get("/proc/self/clear_refs"), "5")
    mb
  }

  def drain(): Unit = SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
    .foreach(s => org.apache.spark.PerfbenchBus.drain(s.sparkContext))

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    val name = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    Trace.enabled = a("trace") == "1"
    val runRoot = Paths.get(a("run-root"))
    val inputs = Paths.get(a("inputs"))
    val wl: Workload = name match {
      case "etl_batch" => new EtlBatch(inputs, runRoot)
      case "etl_incremental" => new EtlIncremental(inputs, runRoot)
      case "registry_mix" => new RegistryMix(a("data"), runRoot, seed)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    val peaks = mutable.ArrayBuffer[Double]()
    val setupS = (0 until wl.setups).map { k =>
      peakRssMb()
      val t = System.nanoTime()
      wl.setup(k)
      val s = (System.nanoTime() - t) / 1e9
      peaks += peakRssMb()
      s
    }
    val setupLayers = Map(
      "session.create_s" -> Trace.spanSeconds("session.create") / wl.setups,
      "session.warm_s" -> Trace.spanSeconds("session.warm") / wl.setups)
    drain()
    Trace.reset()
    val fsAt0 = CountingFs.counts
    val readAt0 = CountingFs.bytesRead

    val rec = new Recorder
    val rounds = mutable.ArrayBuffer[(Double, Long)]()
    // counts the output checks caused, left out of the per-layer figures
    val checkCounts = mutable.Map[String, Double]().withDefaultValue(0.0)
    def counts(): Map[String, Double] = if (!Trace.enabled) Map.empty else {
      drain()
      Trace.snapshot() ++ CountingFs.counts.map { case (k, v) => k -> v.toDouble } +
        ("fs.read_mb" -> CountingFs.bytesRead / 1e6)
    }
    while (rounds.map(_._1).sum < seconds) {
      rec.round = rounds.size
      val w0 = CountingFs.bytesWritten
      peakRssMb()
      val t = System.nanoTime()
      wl.round(rounds.size, rec)
      rounds += (((System.nanoTime() - t) / 1e9, CountingFs.bytesWritten - w0))
      peaks += peakRssMb()
      val before = counts()
      wl.check(rounds.size - 1, rec)
      counts().foreach { case (k, v) => checkCounts(k) += v - before.getOrElse(k, 0.0) }
    }
    drain()
    val n = rounds.size.toDouble

    val layers: Map[String, Double] = if (!Trace.enabled) Map.empty else {
      val c = Trace.snapshot()
      val fs = CountingFs.counts.map { case (k, v) => k -> (v - fsAt0(k)).toDouble }
      val jobS = rec.ops.map(o => Trace.jobSeconds(o.startMs, o.endMs)).sum
      val opS = rec.ops.map(_.seconds).sum
      val perRound = (c ++ fs ++ Map(
        "fs.read_mb" -> (CountingFs.bytesRead - readAt0) / 1e6,
        "fs.write_mb" -> rounds.map(_._2).sum / 1e6,
        "spark.job_s" -> jobS,
        "spark.driver_gap_s" -> (opS - jobS))).map { case (k, v) => k -> (v - checkCounts(k)) / n }
      perRound ++ Map("stream.state_mb" -> Trace.stateMb) ++ wl.layers(rounds.size) ++ setupLayers
    }

    val res = Json.write(Map(
      "workload" -> name, "seed" -> seed, "trace" -> Trace.enabled,
      "setup_s" -> setupS, "rounds" -> rounds.map { case (w, b) =>
        Map("wall_s" -> w, "write_bytes" -> b) },
      "hits_per_round" -> wl.hitsPerRound,
      "ops" -> rec.ops.map(o => Map("kind" -> o.kind, "name" -> o.name, "round" -> o.round,
        "s" -> o.seconds, "ok" -> o.ok, "err" -> o.err)),
      "stored_bytes" -> wl.storedBytes,
      "peak_rss_mb" -> peaks,
      "layers" -> layers,
      "env" -> Map("spark" -> org.apache.spark.SPARK_VERSION,
        "cores" -> graft.GraftSession.coresFromEnv,
        "max_heap_mb" -> Runtime.getRuntime.maxMemory / (1 << 20))))
    Files.writeString(Paths.get(a("out")), res)
    if (Trace.enabled)
      Files.write(Paths.get(a("out") + ".spans.jsonl"), Trace.spansJson().asJava)
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession).foreach(_.stop())
  }
}
