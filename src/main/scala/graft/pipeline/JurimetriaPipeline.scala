package graft.pipeline

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.Relational
import graft.functions.TimeFns

/** The reference's end-to-end dataflow (SURVEY.md §2 DAG), re-expressed as
  * one declarative Spark plan:
  *
  * {{{
  * one scan of every court's dir (tribunal ← the row's dir) → flatten
  * → date filter → per-court limit (a window over tribunal)
  * → municipio broadcast-lookup → movimentos JSON → sinks
  * }}}
  *
  * The reference fetches courts sequentially in one thread
  * (/root/reference/src/jurimetria_pipeline.py:217-233); here each court's
  * file set is just input partitions of one scan, whose splits Spark
  * plans over the whole input, and the fan-out parallelizes for free.
  * The date filter is part of the plan, so Catalyst pushes it to the scan
  * (the reference applies it client-side after downloading everything —
  * SURVEY.md §4's anti-pattern).
  *
  * Config mirrors the CLI surface (:306-341). */
final case class PipelineConfig(
    classeNome: Option[String] = None,
    classeCodigo: Option[Long] = None, // mutually exclusive with classeNome (CLI :311-318)
    de: Option[String] = None,   // yyyy-MM-dd, São Paulo midnight lower bound
    ate: Option[String] = None,  // yyyy-MM-dd, São Paulo midnight upper bound
    maxProcessos: Option[Int] = None)

object JurimetriaPipeline {

  /** São Paulo civil-date bound → UTC instant (the reference localizes
    * bounds as SP midnights, :197-199). */
  private def spMidnightUtc(d: String): Column =
    to_utc_timestamp(to_timestamp(lit(d)), TimeFns.SpTz)

  /** Transform tail over the flattened frame of every court: W2 class
    * filter, W1 date window (null dates pass, bounds optional), L1 limit
    * PER COURT, deterministic under the source's cursor order. The limit
    * is `row_number() over (partition by tribunal order by sort asc nulls
    * last, numero_processo) <= n`, which Spark's WindowGroupLimit applies
    * to each court's rows before the shuffle. */
  def transformTail(df: DataFrame, conf: PipelineConfig): DataFrame = {
    val classed = conf.classeNome.fold(df)(n => df.filter(col("classe") === n))
    // both bounds are SP-midnight INSTANTS and the window is inclusive
    // of exactly those instants — the reference compares against the
    // midnight itself, not end-of-day (:198-199, :208-215)
    val de = conf.de.map(spMidnightUtc).getOrElse(lit(null).cast("timestamp"))
    val ate = conf.ate.map(spMidnightUtc).getOrElse(lit(null).cast("timestamp"))
    val windowed = classed.filter(
      Relational.withinPeriod(col("data_ajuizamento"), de, ate))
    // reference counts the limit post-filter, in cursor order (:225-231)
    conf.maxProcessos.fold(windowed) { n =>
      val cursor = Window.partitionBy(col("tribunal"))
        .orderBy(col("sort").asc_nulls_last, col("numero_processo"))
      windowed.withColumn("_rank", row_number().over(cursor))
        .filter(col("_rank") <= n).drop("_rank")
    }
  }

  /** The court of each scanned row: the one whose directory (qualified,
    * as the FileSystem reports it) prefixes the row's file. Spark's
    * `_metadata.file_path` is the URL-encoded URI (`file:/a%20b/x.json`);
    * decoded, it reads as the file's `Path.toString`. A URI path keeps
    * `+` literal, but the decoder reads `+` as a space, so it is escaped
    * first. */
  private def courtOf(courts: Seq[(String, Path)]): Column = {
    val file = url_decode(replace(col("_metadata.file_path"), lit("+"), lit("%2B")))
    val branches = courts.map { case (trib, dir) => (file.startsWith(s"$dir/"), lit(trib)) }
    branches.tail.foldLeft(when(branches.head._1, branches.head._2)) {
      case (w, (hit, trib)) => w.when(hit, trib) }
  }

  /** Refuse a local court directory whose path the JVM's file-name
    * charset (`sun.jnu.encoding`, fixed from the locale at start-up;
    * ASCII under the POSIX locale) cannot encode: Hadoop's local
    * FileSystem would fail on it with an `InvalidPathException` that
    * names neither the court nor the cure. */
  private def requireNameable(trib: String, dir: Path): Unit =
    Option(System.getProperty("sun.jnu.encoding"))
      .filter(_ => dir.toUri.getScheme == "file")
      .map(java.nio.charset.Charset.forName)
      .foreach { cs =>
        require(cs.newEncoder().canEncode(dir.toUri.getPath),
          s"court $trib: the JVM's file-name charset $cs cannot encode " +
            s"its directory $dir; start the JVM under a UTF-8 locale " +
            "(e.g. LC_ALL=C.UTF-8)")
      }

  /** Full run over raw hit files (one dir per tribunal) + municipio dim.
    * `municipios` must have columns (CD_MUN: long, NM_MUN: string).
    * Every court's directory is one root of ONE JSON scan, so Spark plans
    * its splits over the whole input, and each row's `tribunal` comes
    * from the directory its file lies in. Two courts naming one
    * directory are refused: their rows could not be told apart.
    *
    * W6 error tolerance: a court whose directory is absent contributes
    * zero rows and the run continues — the reference treats a court
    * returning HTTP 400/404 the same way (skip, keep collecting;
    * /root/reference/src/jurimetria_pipeline.py:138-141). Malformed lines
    * inside existing files null out via the PERMISSIVE JSON read over the
    * fully-nullable schema. */
  def run(spark: SparkSession, hitDirs: Map[String, String],
          municipios: DataFrame, conf: PipelineConfig): DataFrame = {
    // directories are qualified and checked through the Hadoop FileSystem
    // of each path — the FS Spark will actually read with — so hdfs:// and
    // s3a:// paths behave the same as local dirs instead of being silently
    // dropped by a driver-local java.nio check
    val courts = hitDirs.toSeq.sortBy(_._1).map { case (trib, dir) =>
      val p = new Path(dir)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val q = fs.makeQualified(p)
      requireNameable(trib, q)
      (trib, q, fs)
    }
    courts.groupBy(_._2).foreach { case (dir, named) =>
      require(named.size == 1,
        s"courts ${named.map(_._1).mkString(", ")} all name the directory $dir")
    }
    val present = courts.collect { case (trib, dir, fs) if fs.exists(dir) => (trib, dir) }
    val flat =
      if (present.isEmpty)
        Hits.parseHits(spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], Hits.hitSchema), lit(""))
      else {
        val raw = spark.read.schema(Hits.hitSchema).json(present.map(_._2.toString): _*)
        // W2 on the numeric class code happens PRE-flatten (the flattened
        // frame keeps only classe.nome) — the ES `term` on classe.codigo;
        // Catalyst pushes it down to the JSON scan
        val classed = conf.classeCodigo.fold(raw)(cc =>
          raw.filter(col("_source.classe.codigo") === cc))
        Hits.parseHits(classed, courtOf(present))
      }
    enrichMunicipio(transformTail(flat, conf), municipios)
      .withColumn("movimentos", Hits.movimentosJson(col("movimentos")))
  }

  /** J1: municipio code → name via broadcast lookup; unmatched keeps the
    * raw code, null stays null (reference :236-237). */
  def enrichMunicipio(processos: DataFrame, municipios: DataFrame): DataFrame = {
    val dim = municipios
      .filter(col("CD_MUN").isNotNull)
      .select(col("CD_MUN").cast("long").as("CD_MUN"), col("NM_MUN"))
    Relational.lookupEnrich(
      processos.withColumn("_mun_key", col("municipio").cast("long")),
      dim, col("_mun_key"), "CD_MUN", "NM_MUN", "municipio_nome",
      fallback = col("municipio"))
      .withColumn("municipio", col("municipio_nome"))
      .drop("_mun_key", "municipio_nome")
  }

  /** K1/K2: persist parquet(zstd) + csv, skipping empty input (K5,
    * reference persist_df :260-268). CSV needs array/timestamp columns
    * stringified (pandas does this implicitly; Spark CSV can't write
    * arrays — SURVEY.md §7.4.3). */
  def persist(df: DataFrame, outDir: String): Boolean = {
    if (df.isEmpty) return false
    df.write.mode("overwrite").option("compression", "zstd")
      .parquet(s"$outDir/processos.parquet")
    val csvReady = df.select(df.schema.fields.map { f =>
      f.dataType match {
        case _: org.apache.spark.sql.types.ArrayType => to_json(col(f.name)).as(f.name)
        case _: org.apache.spark.sql.types.TimestampType =>
          date_format(col(f.name), "yyyy-MM-dd HH:mm:ss").as(f.name)
        case _ => col(f.name)
      }
    }: _*)
    csvReady.write.mode("overwrite").option("header", "true").csv(s"$outDir/processos.csv")
    true
  }

  /** K1 at scale: hive-partitioned zstd parquet. Partitioning by court
    * (and optionally filing month) is what makes the 100 TB layout
    * queryable — per-court readers prune at the directory level and the
    * date filter prunes row groups via parquet stats. */
  def persistPartitioned(df: DataFrame, outDir: String,
                         partitionCols: Seq[String] = Seq("tribunal")): Boolean = {
    if (df.isEmpty) return false
    df.write.mode("overwrite")
      .option("compression", "zstd")
      .partitionBy(partitionCols: _*)
      .parquet(s"$outDir/processos_part.parquet")
    true
  }

  /** A1/F7/O2: the reference's one analytical query — filing-hour
    * histogram in São Paulo wall-clock (plot_horario :271-296). At most
    * 24 rows, so they are sorted in ONE partition: a global `orderBy`
    * would add a range-sampling job and a sort shuffle for them. */
  def hourHistogram(processos: DataFrame): DataFrame =
    processos
      .filter(col("data_ajuizamento").isNotNull)
      .groupBy(TimeFns.hourSp(col("data_ajuizamento")).as("hora"))
      .agg(count(lit(1)).as("cnt"))
      .coalesce(1).sortWithinPartitions("hora")
}
