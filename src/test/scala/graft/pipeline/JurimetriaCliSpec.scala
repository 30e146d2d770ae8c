package graft.pipeline

import graft.SparkSpec
import java.nio.file.Files

/** E1 CLI surface (SURVEY.md §3): argparse parity + end-to-end run. */
class JurimetriaCliSpec extends SparkSpec {

  test("parseArgs: full flag surface, multi-value tribunais") {
    val a = JurimetriaCli.parseArgs(Seq(
      "--hits-dir", "/data", "--tribunais", "TJSP", "TJCE",
      "--classe", "ANPP", "--de", "2023-01-01", "--ate", "2023-06-30",
      "--max-processos", "500", "--out", "/tmp/o"))
    assert(a.tribunais == Seq("TJSP", "TJCE"))
    assert(a.classeNome.contains("ANPP") && a.maxProcessos.contains(500))
  }

  test("parseArgs: classe and classe-codigo are mutually exclusive; unknown flag rejected") {
    intercept[IllegalArgumentException](JurimetriaCli.parseArgs(Seq(
      "--hits-dir", "/d", "--tribunais", "T", "--out", "/o",
      "--classe", "X", "--classe-codigo", "12729")))
    intercept[IllegalArgumentException](JurimetriaCli.parseArgs(Seq(
      "--hits-dir", "/d", "--tribunais", "T", "--out", "/o", "--bogus", "v")))
    intercept[IllegalArgumentException](JurimetriaCli.parseArgs(Seq("--out", "/o")))
    // a flag token where a value is expected is rejected, like argparse
    intercept[IllegalArgumentException](JurimetriaCli.parseArgs(Seq(
      "--hits-dir", "/d", "--tribunais", "T", "--out", "/o",
      "--classe", "--classe-codigo")))
  }

  test("classeCodigo filters pre-flatten (W2 on the numeric code)") {
    val root = Files.createTempDirectory("cli-hits").toFile
    val tj = new java.io.File(root, "TJSP"); tj.mkdirs()
    val w = new java.io.PrintWriter(new java.io.File(tj, "p1.json"), "UTF-8")
    w.println("""{"_source":{"numeroProcesso":"1","classe":{"codigo":12729,"nome":"ANPP"},"dataAjuizamento":"2023-01-10T03:00:00Z"},"sort":[1]}""")
    w.println("""{"_source":{"numeroProcesso":"2","classe":{"codigo":99,"nome":"Outra"},"dataAjuizamento":"2023-01-11T03:00:00Z"},"sort":[2]}""")
    w.close()
    val municipios = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType.fromDDL("CD_MUN LONG, NM_MUN STRING"))
    val out = JurimetriaPipeline.run(spark,
      Map("TJSP" -> tj.getAbsolutePath), municipios,
      PipelineConfig(classeCodigo = Some(12729L)))
    val rows = out.collect()
    assert(rows.length == 1 && rows.head.getAs[String]("numero_processo") == "1")
    // over several courts too, and the filter sits on the scan, below the
    // flatten's projection
    val tj2 = new java.io.File(root, "TJCE"); tj2.mkdirs()
    val w2 = new java.io.PrintWriter(new java.io.File(tj2, "p1.json"), "UTF-8")
    w2.println("""{"_source":{"numeroProcesso":"3","classe":{"codigo":12729,"nome":"ANPP"}},"sort":[3]}""")
    w2.println("""{"_source":{"numeroProcesso":"4","classe":{"codigo":98,"nome":"ANPP"}},"sort":[4]}""")
    w2.close()
    val both = JurimetriaPipeline.run(spark,
      Map("TJSP" -> tj.getAbsolutePath, "TJCE" -> tj2.getAbsolutePath), municipios,
      PipelineConfig(classeCodigo = Some(12729L)))
    assert(both.select("tribunal", "numero_processo").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet == Set("TJSP" -> "1", "TJCE" -> "3"))
    val onScan = both.queryExecution.optimizedPlan.collect {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter
          if f.condition.sql.contains("codigo") => f.child }
    assert(onScan.nonEmpty && onScan.forall(
      _.isInstanceOf[org.apache.spark.sql.execution.datasources.LogicalRelation]),
      both.queryExecution.optimizedPlan.treeString)
  }
}
