package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.operators.{Manifest, TxTableStack}
import graft.pipeline.{JurimetriaCli, JurimetriaPipeline}
import graft.streaming.StreamingOps
import Main.{Recorder, Workload, rmrf}

/** Per-row digest both the generator and the checks sum: the first 32 bits
  * of md5 over `|`-joined fields, `~` standing for null. */
object Digest {
  def of(cols: org.apache.spark.sql.Column*): org.apache.spark.sql.Column =
    sum(conv(substring(md5(concat_ws("|", cols: _*)), 1, 8), 16, 10).cast("long"))

  def hist(rows: Array[Row]): Map[String, Long] =
    rows.map(r => r.get(0).toString.toDouble.toLong.toString -> r.get(1).toString.toLong).toMap

  def truthHist(n: com.fasterxml.jackson.databind.JsonNode): Map[String, Long] =
    n.fields().asScala.map(e => e.getKey -> e.getValue.asLong).toMap
}

/** `etl_batch`: the reference run through the CLI entry point, as its users
  * run it; its persisted outputs are checked after each round. */
final class EtlBatch(inputs: Path, runRoot: Path) extends Workload {
  private val truth = Json.read(inputs.resolve("main/truth.json").toString)
  val setups = 3
  def hitsPerRound: Double = truth.get("hits").asDouble
  private var outDir: Path = runRoot.resolve("out")
  def storedBytes: Long = Main.dirBytes(outDir)

  private def argv(in: Path, t: com.fasterxml.jackson.databind.JsonNode, out: Path): Array[String] =
    (Seq("--hits-dir", in.resolve("hits").toString, "--tribunais") ++
      t.get("courts").elements().asScala.map(_.asText).toSeq ++
      Seq("TJXX", // a court with no pages: it must add no rows
        "--classe-codigo", t.get("classe").asText, "--de", t.get("de").asText,
        "--ate", t.get("ate").asText,
        "--municipios", in.resolve("municipios.csv").toString,
        "--out", out.toString)).toArray

  /** Runs the CLI; returns the row count it printed. */
  private def cli(args: Array[String]): Long = {
    val buf = new java.io.ByteArrayOutputStream()
    Console.withOut(buf)(JurimetriaCli.main(args))
    val line = buf.toString("UTF-8").linesIterator.find(_.startsWith("processos="))
      .getOrElse(throw new IllegalStateException("CLI printed no processos= line"))
    line.split("[= ]")(1).toLong
  }

  /** Reads the persisted outputs in a session of its own (the CLI stops
    * its session) and returns what it found. */
  private def read(out: Path): (Long, Long, Long, Map[String, Long]) = {
    val spark = graft.GraftSession.create()
    try {
      val p = spark.read.parquet(out.resolve("processos.parquet").toString)
      val r = p.agg(count(lit(1)),
        Digest.of(col("tribunal"), col("numero_processo"), coalesce(col("municipio"), lit("~"))),
        sum(when(col("municipio").startsWith("Municipio"), 1).otherwise(0))).head()
      val h = spark.read.option("header", "true").csv(out.resolve("horario.csv").toString)
        .collect()
      (r.getLong(0), r.getLong(1), r.getLong(2), Digest.hist(h))
    } finally spark.stop()
  }

  private def compare(printed: Long, got: (Long, Long, Long, Map[String, Long]),
                    t: com.fasterxml.jackson.databind.JsonNode): Option[String] = {
    val want = (t.get("rows").asLong, t.get("digest").asLong, t.get("named").asLong,
      Digest.truthHist(t.get("hist")))
    if (printed != want._1) Some(s"CLI printed $printed rows, expected ${want._1}")
    else if (got != want) Some(s"outputs $got differ from the ground truth $want")
    else None
  }

  /** A set-up warms the engine with one CLI run on the warm-up inputs. */
  def setup(k: Int): Unit = {
    Main.session()
    val warm = inputs.resolve("warm")
    val out = runRoot.resolve(s"warm$k")
    Trace.span("session.warm")(cli(argv(warm, Json.read(warm.resolve("truth.json").toString), out)))
    rmrf(out)
  }

  private var printed: Option[Long] = None

  def round(r: Int, rec: Recorder): Unit = {
    rmrf(outDir)
    outDir = runRoot.resolve("out").resolve(s"r$r")
    printed = rec.time("op", "cli")(cli(argv(inputs.resolve("main"), truth, outDir)))
    if (Trace.enabled) printed.foreach(pipelineLayers(rec, r, _))
  }

  override def check(r: Int, rec: Recorder): Unit = printed.foreach { n =>
    val e = try compare(n, read(outDir), truth) catch { case t: Throwable => Some(t.toString) }
    e.foreach(rec.fail(r, _))
  }

  private val phase = scala.collection.mutable.Map[String, Double]().withDefaultValue(0.0)
  private var rowsOut = 0L

  /** The CLI's phases, from its SQL executions: it plans and checks the
    * court dirs, then runs isEmpty + parquet + csv (persist), count, and the
    * histogram csv, in that order. */
  private def pipelineLayers(rec: Recorder, r: Int, printed: Long): Unit = {
    val op = rec.ops.find(o => o.round == r && o.name == "cli").get
    val execs = Trace.synchronized(Trace.sqlExecs.filter { case (a, _) =>
      a >= op.startMs && a <= op.endMs }.sortBy(_._1).toSeq)
    val app = Trace.synchronized(Trace.appStarts.filter(t => t >= op.startMs && t <= op.endMs)
      .headOption.getOrElse(op.startMs))
    if (execs.size != 5) throw new IllegalStateException(
      s"traced round $r: the CLI ran ${execs.size} SQL executions, not the 5 its phases are read from")
    phase("pipeline.run_s") += (execs(0)._1 - app) / 1e3
    phase("pipeline.persist_s") += (execs(2)._2 - execs(0)._1) / 1e3
    phase("pipeline.count_s") += (execs(3)._2 - execs(3)._1) / 1e3
    phase("pipeline.histogram_s") += (execs(4)._2 - execs(4)._1) / 1e3
    rowsOut += printed
  }

  override def layers(rounds: Int): Map[String, Double] =
    phase.toMap.map { case (k, v) => k -> v / rounds } ++ Map(
      "pipeline.rows_in" -> hitsPerRound,
      "pipeline.rows_out" -> rowsOut.toDouble / rounds,
      "pipeline.kept_frac" -> rowsOut / (hitsPerRound * rounds),
      "pipeline.cache_mb" -> Trace.cachePeakMb)
}

/** `etl_incremental`: daily re-pulls of one court drained by a scheduled
  * streaming job that upserts into a keyed table and applies the day's
  * takedowns, periodic compaction, a final vacuum, and a reader after every
  * delivery. The initial load ("load") and the maintenance steps ("maint")
  * are timed apart from the daily jobs ("op"), so op latency compares like
  * with like. */
final class EtlIncremental(inputs: Path, runRoot: Path) extends Workload {
  private val truth = Json.read(inputs.resolve("main/truth.json").toString)
  val setups = 3
  def hitsPerRound: Double = truth.get("hits").asDouble
  def storedBytes: Long = Main.dirBytes(runRoot.resolve("inc").resolve("table"))
  private var spark: SparkSession = _

  private val Key = "numero_processo"
  private val Buckets = 8
  private val CompactEvery = 2
  private val LandingEpochMs = 1704067200000L // 2024-01-01T00:00:00Z
  private val Ddl = "tribunal STRING, numero_processo STRING, classe STRING, " +
    "data_ajuizamento TIMESTAMP, ultima_atualizacao TIMESTAMP, formato STRING, " +
    "codigo_orgao STRING, orgao_julgador STRING, municipio STRING, grau STRING, " +
    "assuntos STRING, movimentos STRING, sort BIGINT"

  private var commits = 0.0
  private var pinned = 0.0
  private var rowsOut = 0.0

  private def version(table: String): Long =
    Manifest.read(spark, table).map(_.version).getOrElse(-1L)

  /** One round over the deliveries under `in`, in a fresh root `root`. */
  private def run(in: Path, t: com.fasterxml.jackson.databind.JsonNode, root: Path,
                  rec: Option[Recorder]): Unit = {
    def timed[A](kind: String, name: String)(body: => A): Option[A] =
      rec.fold(Option(body))(_.time(kind, name)(body))
    def fail(e: String): Unit = rec.fold(throw new IllegalStateException(e))(
      x => x.fail(x.round, e))
    rmrf(root)
    val table = root.resolve("table").toString
    val landing = root.resolve("landing")
    Files.createDirectories(landing)
    val court = t.get("court").asText
    val municipios = spark.read.option("header", "true")
      .schema("CD_MUN LONG, NM_MUN STRING").csv(in.resolve("municipios.csv").toString)
    Trace.span("tx.init")(TxTableStack.init(spark, table, Ddl))
    var batch = 0L
    val deliveries = t.get("deliveries").elements().asScala.toSeq
    deliveries.zipWithIndex.foreach { case (want, d) =>
      val dir = in.resolve("deliveries/%02d".format(d))
      val pages = Files.list(dir).iterator().asScala.filter(_.toString.endsWith(".json"))
        .toSeq.sortBy(_.toString)
      // fixed, increasing mtimes: the file source orders a trigger's files
      // by mtime, and copies landing in the same millisecond would make the
      // micro-batch split, hence the commits, vary from run to run
      pages.zipWithIndex.foreach { case (p, i) =>
        val dst = landing.resolve(p.getFileName)
        Files.copy(p, dst, StandardCopyOption.REPLACE_EXISTING)
        Files.setLastModifiedTime(dst, java.nio.file.attribute.FileTime.fromMillis(
          LandingEpochMs + (d * 1000L + i) * 1000L))
      }
      val takedowns = Files.readAllLines(dir.resolve("takedowns.txt")).asScala.toSeq
      val prev = version(table)
      timed(if (d == 0) "load" else "op", "delivery") {
        val hits = Trace.span("stream.streamHits")(StreamingOps.enrichStreamingHits(
          StreamingOps.streamHits(spark, landing.toString, court,
            Map("maxFilesPerTrigger" -> "2")), municipios))
        val rows = hits.withColumn("assuntos", to_json(col("assuntos")))
          .withColumn("movimentos", to_json(col("movimentos")))
        val q = rows.writeStream
          .foreachBatch { (b: DataFrame, _: Long) =>
            batch += 1
            Trace.span("tx.commitBatch")(
              TxTableStack.commitBatch(spark, table, b, batch, Key, Buckets))
            ()
          }
          .option("checkpointLocation", root.resolve("ckpt").toString)
          .trigger(Trigger.AvailableNow()).start()
        Trace.span("stream.drain")(q.awaitTermination())
        if (takedowns.nonEmpty) {
          batch += 1
          val keys = spark.createDataFrame(takedowns.map(Tuple1(_))).toDF(Key)
          Trace.span("tx.commitDelete")(
            TxTableStack.commitDelete(spark, table, keys, batch, Key, Buckets))
        }
      }
      val cur = version(table)
      timed("read", "read") {
        val h = Trace.span("pipeline.hourHistogram")(JurimetriaPipeline.hourHistogram(
          Trace.span("tx.resolve")(TxTableStack.resolve(spark, table))).collect())
        val ch = Trace.span("tx.changes")(TxTableStack.changes(spark, table, prev, cur, Key)
          .groupBy("change").count().collect())
          .map(r => r.getString(0) -> r.getLong(1)).toMap
        val gotCh = Seq("insert", "update", "delete").map(k => ch.getOrElse(k, 0L))
        val wantCh = Seq("inserts", "updates", "deletes").map(k => want.get(k).asLong)
        if (gotCh != wantCh) fail(s"delivery $d: changes $gotCh, expected $wantCh")
        if (Digest.hist(h) != Digest.truthHist(want.get("hist")))
          fail(s"delivery $d: histogram differs from the ground truth")
      }
      if (d % CompactEvery == 1)
        timed("maint", "compact")(Trace.span("tx.compact")(TxTableStack.compact(spark, table)))
    }
    timed("maint", "vacuum")(Trace.span("tx.vacuum")(TxTableStack.vacuum(spark, table)))
  }

  /** The final table under `root` against the generator's digest; returns
    * its row count. */
  private def verifyTable(root: Path, t: com.fasterxml.jackson.databind.JsonNode): Long = {
    val last = t.get("deliveries").elements().asScala.toSeq.last
    val r = TxTableStack.resolve(spark, root.resolve("table").toString).agg(count(lit(1)),
      Digest.of(col(Key), date_format(col("ultima_atualizacao"), "yyyy-MM-dd'T'HH:mm:ss'Z'"),
        coalesce(col("municipio"), lit("~")))).head()
    if (r.getLong(0) != last.get("rows").asLong || r.getLong(1) != last.get("digest").asLong)
      throw new IllegalStateException(
        s"final table (${r.getLong(0)} rows, digest ${r.getLong(1)}) differs from the ground truth")
    r.getLong(0)
  }

  def setup(k: Int): Unit = {
    spark = Main.session()
    val warm = inputs.resolve("warm")
    Trace.span("session.warm")(
      run(warm, Json.read(warm.resolve("truth.json").toString), runRoot.resolve(s"warm$k"), None))
    rmrf(runRoot.resolve(s"warm$k"))
    if (k < setups - 1) spark.stop()
  }

  def round(r: Int, rec: Recorder): Unit =
    run(inputs.resolve("main"), truth, runRoot.resolve("inc"), Some(rec))

  override def check(r: Int, rec: Recorder): Unit = {
    val root = runRoot.resolve("inc")
    val rows = try verifyTable(root, truth) catch { case e: Throwable =>
      rec.fail(r, e.getMessage); 0L }
    if (Trace.enabled) {
      val st = Manifest.read(spark, root.resolve("table").toString).get
      commits += st.version
      pinned += st.statsV.toSeq.map { case (b, v) =>
        val dir = root.resolve(s"table/rows/v=$v/bkt=$b")
        Files.list(dir).iterator().asScala.count(_.toString.endsWith(".parquet"))
      }.sum
      rowsOut += rows
    }
  }

  override def layers(rounds: Int): Map[String, Double] = {
    def per(span: String) = Trace.spanSeconds(span) / rounds
    Map("tx.commit_s" -> per("tx.commitBatch"), "tx.delete_s" -> per("tx.commitDelete"),
      "tx.compact_s" -> per("tx.compact"), "tx.vacuum_s" -> per("tx.vacuum"),
      "tx.resolve_s" -> per("tx.resolve"), "tx.changes_s" -> per("tx.changes"),
      "tx.commits" -> commits / rounds, "tx.pinned_files" -> pinned / rounds,
      "pipeline.histogram_s" -> per("pipeline.hourHistogram"),
      "pipeline.rows_in" -> hitsPerRound, "pipeline.rows_out" -> rowsOut / rounds,
      "pipeline.kept_frac" -> rowsOut / rounds / hitsPerRound)
  }
}

/** `registry_mix`: a fixed subset of the query registry, one query of
  * every family, each built and sunk to `noop`; the seed sets the order.
  * Set-up writes every result once for the DuckDB oracle check, which
  * also stages the queries' fixtures. */
final class RegistryMix(sfDir: String, runRoot: Path, seed: Long) extends Workload {
  val Subset: Seq[String] = Seq(
    "q01_pricing_agg",                                          // relational
    "pipeline_hits", "text_tfidf", "ann_ivf_pq_topk", "dedup_minhash_lsh",
    "sketch_distinct_serve", "sample_stratified", "table_merge_upsert",
    "catalog_vacuum_floor", "streaming_enrich")

  val setups = 1
  def hitsPerRound: Double = Subset.size
  def storedBytes: Long = Main.dirBytes(runRoot.resolve("verify")) +
    fixtures.toSeq.map(f => Main.dirBytes(runRoot.resolve("tmp").resolve(f))).sum
  private val order = new scala.util.Random(seed).shuffle(Subset)
  private val queries = graft.SparkEntry.queries
  private var spark: SparkSession = _
  private def fixtures: Set[String] =
    Files.list(runRoot.resolve("tmp")).iterator().asScala
      .map(_.getFileName.toString).filter(_.startsWith("graft_fx_")).toSet
  private var staged = Set.empty[String]

  def setup(k: Int): Unit = {
    spark = Main.session()
    val verify = runRoot.resolve("verify")
    Files.createDirectories(verify)
    Trace.span("session.warm") {
      order.foreach { n =>
        try queries(n)(spark, sfDir).write.mode("overwrite")
          .parquet(verify.resolve(n).toString)
        catch { case e: Throwable => System.err.println(s"[perfbench] $n failed in set-up: $e") }
      }
    }
    val oracles = graft.SparkEntry.oracleSql.filter { case (n, _) => Subset.contains(n) }
    Files.writeString(verify.resolve("oracle_sql.json"), Json.write(oracles))
    staged = fixtures
  }

  def round(r: Int, rec: Recorder): Unit =
    order.foreach { n =>
      val kind = if (n.matches("q\\d\\d_.*")) "read" else "op"
      rec.time(kind, n) {
        val df = Trace.span("queries.build")(queries(n)(spark, sfDir))
        Trace.span("queries.exec")(df.write.format("noop").mode("overwrite").save())
      }
    }

  override def layers(rounds: Int): Map[String, Double] = Map(
    "queries.build_s" -> Trace.spanSeconds("queries.build") / rounds,
    "queries.exec_s" -> Trace.spanSeconds("queries.exec") / rounds,
    "queries.fixture_builds" -> (fixtures -- staged).size.toDouble)
}
