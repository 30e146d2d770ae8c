package graft.pipeline

import graft.SparkSpec
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** End-to-end pipeline over a JSON hit fixture mirroring the reference's
  * mocked hit (/root/reference/tests/test_anpp_pipeline.py:79-96). */
class HitsSpec extends SparkSpec {
  import spark.implicits._

  // the reference's sample hit + edge rows (null date, null movimento ts)
  private val hitLines = Seq(
    """{"_source":{"numeroProcesso":"0000001-00.2023.8.26.0000","classe":{"codigo":12729,"nome":"ANPP"},"dataAjuizamento":"2023-01-10T03:00:00Z","dataHoraUltimaAtualizacao":"2023-02-01T12:00:00Z","formato":{"nome":"Eletrônico"},"orgaoJulgador":{"codigo":"123","nome":"Vara X","codigoMunicipioIBGE":"3550308"},"grau":"G1","assuntos":[{"codigo":1,"nome":"Assunto A"},{"codigo":2,"nome":null}],"movimentos":[{"codigo":2,"nome":"B","dataHora":"2023-01-12T00:00:00Z"},{"codigo":1,"nome":"A","dataHora":"2023-01-11T00:00:00Z"},{"codigo":3,"nome":"C","dataHora":null}]},"sort":[1673319600000]}""",
    """{"_source":{"numeroProcesso":"0000002-00.2023.8.26.0000","classe":{"codigo":12729,"nome":"ANPP"},"dataAjuizamento":null,"formato":{"nome":"Físico"},"orgaoJulgador":{"codigo":"9","nome":"Vara Y","codigoMunicipioIBGE":"9999999"},"grau":"G1","assuntos":[],"movimentos":[]},"sort":[9]}""")

  private lazy val hitsDir = Files.createTempDirectory("hits")

  private lazy val dir = {
    val f = new java.io.File(hitsDir.toFile, "tjsp.json")
    val w = new java.io.PrintWriter(f, "UTF-8")
    hitLines.foreach(w.println)
    w.close()
    hitsDir.toFile.getAbsolutePath
  }

  override def afterAll(): Unit =
    try graft.queries.FixtureCache.deleteRecursively(hitsDir)
    finally super.afterAll()

  private lazy val municipios =
    Seq((3550308L, "São Paulo")).toDF("CD_MUN", "NM_MUN")

  test("parseHits: 13-column flatten, null-tolerant, movimentos sorted nulls-first") {
    val raw = spark.read.schema(Hits.hitSchema).json(dir)
    val p = Hits.parseHits(raw, lit("TJSP"))
    assert(p.columns.toSeq == Seq("tribunal", "numero_processo", "classe",
      "data_ajuizamento", "ultima_atualizacao", "formato", "codigo_orgao",
      "orgao_julgador", "municipio", "grau", "assuntos", "movimentos", "sort"))
    val r1 = p.filter($"numero_processo".startsWith("0000001")).head()
    // F2: null assunto nome → ""
    assert(r1.getSeq[String](r1.fieldIndex("assuntos")) == Seq("Assunto A", ""))
    // F3: null dataHora sorts FIRST (as epoch), then by timestamp
    val movs = r1.getSeq[org.apache.spark.sql.Row](r1.fieldIndex("movimentos"))
    assert(movs.map(_.getLong(0)) == Seq(3L, 1L, 2L))
    // null date row survives with null data_ajuizamento
    val r2 = p.filter($"numero_processo".startsWith("0000002")).head()
    assert(r2.isNullAt(r2.fieldIndex("data_ajuizamento")))
  }

  test("run: full DAG — filter passes null date, municipio enriched with fallback") {
    val out = JurimetriaPipeline.run(spark, Map("TJSP" -> dir), municipios,
      PipelineConfig(de = Some("2023-01-01"), ate = Some("2023-06-30")))
    val rows = out.orderBy("numero_processo").collect()
    assert(rows.length == 2) // null-date row passes W1
    assert(rows(0).getAs[String]("municipio") == "São Paulo")     // matched
    assert(rows(1).getAs[String]("municipio") == "9999999")       // fallback
    // F4: movimentos serialized to a JSON string at the sink boundary
    assert(rows(0).getAs[String]("movimentos").startsWith("[{"))
  }

  test("run: empty input and out-of-window input stay total") {
    val out = JurimetriaPipeline.run(spark, Map("TJSP" -> dir), municipios,
      PipelineConfig(de = Some("1990-01-01"), ate = Some("1990-12-31")))
    // only the null-date row passes
    assert(out.count() == 1)
    withTempDir("sink") { sink =>
      assert(!JurimetriaPipeline.persist(out.limit(0), sink)) // K5 empty guard
    }
  }

  test("persist: parquet+csv written, arrays stringified for CSV") {
    val out = JurimetriaPipeline.run(spark, Map("TJSP" -> dir), municipios,
      PipelineConfig())
    withTempDir("sink2") { sink =>
      assert(JurimetriaPipeline.persist(out, sink))
      assert(spark.read.parquet(s"$sink/processos.parquet").count() == 2)
      assert(spark.read.option("header", "true").csv(s"$sink/processos.csv").count() == 2)
    }
  }

  test("K2 golden: CSV byte rendering of arrays/timestamps is pinned") {
    // The reference's pandas to_csv renders list cells as Python repr
    // (['Assunto A', '']) and quotes per RFC4180 (doubled quotes). Our
    // declared deviation (SURVEY.md §7.4.3): arrays render as JSON and
    // Spark's CSV writer escapes embedded quotes with backslash. This
    // golden file pins that rendering byte-for-byte — timestamps as
    // 'yyyy-MM-dd HH:mm:ss', nulls as empty fields, JSON-in-CSV with
    // backslash-escaped quotes — so any drift in the sink contract fails
    // here, not in a downstream consumer.
    val out = JurimetriaPipeline.run(spark, Map("TJSP" -> dir), municipios,
      PipelineConfig())
    withTempDir("sink-golden") { sink =>
      assert(JurimetriaPipeline.persist(out, sink))
      val parts = new java.io.File(s"$sink/processos.csv").listFiles
        .filter(_.getName.startsWith("part-")).sortBy(_.getName)
      val lines = parts.flatMap { f =>
        val src = scala.io.Source.fromFile(f, "UTF-8")
        try src.getLines().toList finally src.close()
      }
      val (hdr, data) = lines.partition(_.startsWith("tribunal,"))
      val actual = (hdr.distinct.toList ++ data.sorted).mkString("\n") + "\n"
      val goldenStream = getClass.getResourceAsStream("/golden/processos_csv.golden")
      val golden = scala.io.Source.fromInputStream(goldenStream, "UTF-8").mkString
      assert(actual == golden,
        s"CSV rendering drifted from the pinned golden:\n--- actual ---\n$actual")
    }
  }

  test("CSV roundtrip (S2 source semantics): typed read-back preserves values") {
    val out = JurimetriaPipeline.run(spark, Map("TJSP" -> dir), municipios,
      PipelineConfig())
    withTempDir("sink-csv") { sink =>
      assert(JurimetriaPipeline.persist(out, sink))
      // read the CSV as a typed source (explicit schema, like the municipio
      // lookup would be): stringified timestamp parses back to the instant
      val schema = "tribunal STRING, numero_processo STRING, classe STRING, " +
        "data_ajuizamento TIMESTAMP, ultima_atualizacao TIMESTAMP, formato STRING, " +
        "codigo_orgao STRING, orgao_julgador STRING, municipio STRING, grau STRING, " +
        "assuntos STRING, movimentos STRING, sort BIGINT"
      val back = spark.read.option("header", "true").schema(schema)
        .csv(s"$sink/processos.csv")
      val r = back.filter($"numero_processo".startsWith("0000001")).head()
      assert(r.getAs[String]("municipio") == "São Paulo")
      assert(r.getAs[java.sql.Timestamp]("data_ajuizamento") ==
        java.sql.Timestamp.valueOf("2023-01-10 03:00:00"))
      assert(r.getAs[Long]("sort") == 1673319600000L)
    }
  }

  test("persistPartitioned: hive layout by tribunal, prunable on read") {
    val out = JurimetriaPipeline.run(spark, Map("TJSP" -> dir), municipios,
      PipelineConfig())
    withTempDir("sink3") { sink =>
      assert(JurimetriaPipeline.persistPartitioned(out, sink))
      val back = spark.read.parquet(s"$sink/processos_part.parquet")
      assert(back.filter($"tribunal" === "TJSP").count() == 2)
      // partition pruning: the tribunal filter appears as a PartitionFilter
      val plan = back.filter($"tribunal" === "TJSP")
        .queryExecution.executedPlan.toString
      assert(plan.contains("PartitionFilters: [isnotnull(tribunal"))
    }
  }

  test("W6 error tolerance: malformed lines null out, absent court yields zero rows") {
    withTempDir("bad-hits") { p =>
      val d = new java.io.File(p)
      val w = new java.io.PrintWriter(new java.io.File(d, "tjx.json"), "UTF-8")
      w.println("""{"_source":{"numeroProcesso":"ok-1","grau":"G1"},"sort":[1]}""")
      w.println("""this is not json at all""")                    // malformed
      w.println("""{"_source":{"numeroProcesso":42},"sort":"x"}""") // type mismatch
      w.close()
      // PERMISSIVE read (the default with a fully-nullable schema): bad rows
      // become all-null records, the reference's skip-and-continue analog
      val out = JurimetriaPipeline.run(spark,
        Map("TJX" -> d.getAbsolutePath,
          "TJGONE" -> (d.getAbsolutePath + "/does-not-exist")),
        municipios, PipelineConfig())
      assert(out.filter($"numero_processo" === "ok-1").count() == 1)
      assert(out.count() == 3) // malformed rows survive as null records, not crashes
    }
  }

  /** A court directory `name` under `root` holding one page file of `hits`
    * (numeroProcesso, sort; a null sort is left out). */
  private def court(root: java.io.File, name: String,
                    hits: (String, Option[Long])*): String = {
    val d = new java.io.File(root, name); d.mkdirs()
    val w = new java.io.PrintWriter(new java.io.File(d, "page-0.json"), "UTF-8")
    hits.foreach { case (n, sort) =>
      w.println(s"""{"_source":{"numeroProcesso":"$n","grau":"G1"}""" +
        sort.fold("}")(v => s""","sort":[$v]}"""))
    }
    w.close()
    d.getAbsolutePath
  }

  private def labelled(out: org.apache.spark.sql.DataFrame): Set[(String, String)] =
    out.select("tribunal", "numero_processo").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet

  test("run: one scan over three courts labels each row with its own court") {
    withTempDir("courts") { p =>
      val root = new java.io.File(p)
      val dirs = Map(
        "TJA" -> court(root, "TJA", "a1" -> Some(1L), "a2" -> Some(2L)),
        "TJB" -> court(root, "TJB", "b1" -> Some(3L)),
        // a court whose name prefixes another's: only its own dir counts
        "TJ" -> court(root, "TJ", "t1" -> Some(4L), "t2" -> None),
        "TJGONE" -> new java.io.File(root, "TJGONE").getAbsolutePath) // absent
      val out = JurimetriaPipeline.run(spark, dirs, municipios, PipelineConfig())
      assert(labelled(out) == Set("TJA" -> "a1", "TJA" -> "a2", "TJB" -> "b1",
        "TJ" -> "t1", "TJ" -> "t2"))
    }
  }

  test("run: court dirs named with a space, %, + and non-ASCII characters") {
    withTempDir("odd courts") { p =>
      val root = new java.io.File(p)
      // a JVM whose file-name charset (the locale's; ASCII under LANG=C)
      // cannot encode a name can neither create nor read such a directory
      val nameable = java.nio.charset.Charset.forName(
        System.getProperty("sun.jnu.encoding")).newEncoder().canEncode(_: String)
      val names = Seq("TJ São Paulo", "TJ 100%", "TJ%20X", "TJ+1", "TJ 1")
        .filter(nameable)
      val dirs = names.zipWithIndex.map { case (n, i) =>
        n -> court(root, n, s"p$i" -> Some(i.toLong)) }.toMap
      val out = JurimetriaPipeline.run(spark, dirs, municipios, PipelineConfig())
      assert(labelled(out) == names.zipWithIndex.map { case (n, i) => n -> s"p$i" }.toSet)
    }
  }

  test("run: a court dir the file-name charset cannot encode is refused, naming the fix") {
    withTempDir("unnameable") { p =>
      val root = new java.io.File(p)
      val name = "TJ São Paulo"
      if (java.nio.charset.Charset.forName(System.getProperty("sun.jnu.encoding"))
          .newEncoder().canEncode(name)) {
        val dirs = Map(name -> court(root, name, "sp1" -> Some(1L)))
        val out = JurimetriaPipeline.run(spark, dirs, municipios, PipelineConfig())
        assert(labelled(out) == Set(name -> "sp1"))
      } else {
        // under an ASCII charset (the POSIX locale) the JVM cannot even
        // create the directory; the run refuses it before looking for it
        val e = intercept[IllegalArgumentException](JurimetriaPipeline.run(spark,
          Map(name -> new java.io.File(root, name).getAbsolutePath), municipios,
          PipelineConfig()))
        assert(e.getMessage.contains(name) && e.getMessage.contains("LC_ALL=C.UTF-8"))
      }
    }
  }

  test("run: maxProcessos is a per-court limit in cursor order") {
    withTempDir("limit") { p =>
      val root = new java.io.File(p)
      val dirs = Map(
        "TJA" -> court(root, "TJA", "a1" -> Some(5L), "a2" -> None, "a3" -> Some(2L)),
        // a null sort ranks last; a tie on sort falls to numero_processo
        "TJB" -> court(root, "TJB", "b0" -> None, "b2" -> Some(7L), "b1" -> Some(7L)))
      val out = JurimetriaPipeline.run(spark, dirs, municipios,
        PipelineConfig(maxProcessos = Some(1)))
      assert(labelled(out) == Set("TJA" -> "a3", "TJB" -> "b1"))
      val two = JurimetriaPipeline.run(spark, dirs, municipios,
        PipelineConfig(maxProcessos = Some(2)))
      assert(labelled(two) == Set("TJA" -> "a3", "TJA" -> "a1", "TJB" -> "b1", "TJB" -> "b2"))
    }
  }

  test("run: a directory named by two courts is refused") {
    withTempDir("twice") { p =>
      val root = new java.io.File(p)
      val d = court(root, "TJA", "a1" -> Some(1L))
      intercept[IllegalArgumentException](JurimetriaPipeline.run(spark,
        Map("TJA" -> d, "TJB" -> s"$d/"), municipios, PipelineConfig()))
      intercept[IllegalArgumentException](JurimetriaPipeline.run(spark,
        Map("TJA" -> d, "TJB" -> s"file:$d"), municipios, PipelineConfig()))
    }
  }

  test("typed Dataset face: Processo encoder round-trips the flattened frame") {
    val raw = spark.read.schema(Hits.hitSchema).json(dir)
    val ds = Hits.typed(Hits.parseHits(raw, lit("TJSP")))
    val p = ds.filter(_.numero_processo.exists(_.startsWith("0000001")))
      .collect().head
    assert(p.tribunal.contains("TJSP") && p.grau.contains("G1"))
    assert(p.assuntos.get == Seq("Assunto A", ""))
    assert(p.movimentos.get.map(_.codigo.get) == Seq(3L, 1L, 2L)) // nulls-first order
    assert(p.movimentos.get.head.dataHora.isEmpty)
  }

  test("hourHistogram: SP wall-clock hour (UTC 03:00 → hour 0)") {
    val out = JurimetriaPipeline.run(spark, Map("TJSP" -> dir), municipios,
      PipelineConfig())
    val h = JurimetriaPipeline.hourHistogram(out
      .withColumn("data_ajuizamento", $"data_ajuizamento")).head()
    assert(h.getLong(0) == 0L && h.getLong(1) == 1L)
    // several hours, out of order across 4 input partitions (and a null
    // date, which has no hour), come back one row per hour, ascending
    val utcHours = Seq(23, 5, 14, 3, 8, 20, 0, 11, 5, 23, 14, 5)
    val filed = spark.sparkContext.parallelize(
      utcHours.map(h => Some(f"2023-01-10 $h%02d:00:00")) :+ None, 4)
      .toDF("s").select(to_timestamp($"s").as("data_ajuizamento"))
    assert(filed.rdd.getNumPartitions == 4)
    val got = JurimetriaPipeline.hourHistogram(filed).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    val want = utcHours.map(h => ((h + 21) % 24).toLong)
      .groupBy(identity).map { case (h, hs) => (h, hs.size.toLong) }
      .toSeq.sorted
    assert(got == want, s"got $got")
  }
}
