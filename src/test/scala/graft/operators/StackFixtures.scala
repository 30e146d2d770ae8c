package graft.operators

import graft.{SparkSpec, Tables}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, BinaryType, MapType, StructType}

/** Small input frames for the manifest stacks, and the ways the specs
  * compare what a stack holds: its rows by content, the directories
  * under its root. Shared by the specs that build short stack histories
  * (FamilyVacuumSpec, CommitShellSpec). */
trait StackFixtures extends SparkSpec {
  import spark.implicits._

  /** Rows as sorted strings; binary and nested values render by content
    * (hex / json), never by object identity. */
  protected def canon(df: DataFrame): Seq[String] =
    df.select(df.schema.fields.toSeq.map { f =>
      (f.dataType match {
        case BinaryType => hex(col(f.name))
        case _: ArrayType | _: StructType | _: MapType => to_json(col(f.name))
        case _ => col(f.name).cast("string")
      }).as(f.name)
    }: _*).collect().map(_.mkString("|")).toSeq.sorted

  protected def tagged(tag: String, df: DataFrame): Seq[String] =
    canon(df).map(s"$tag:" + _)

  /** Every directory under `root`, relative to it. */
  protected def dirsUnder(root: String): Set[String] = {
    val base = new Path(root)
    val f = base.getFileSystem(spark.sessionState.newHadoopConf())
    def walk(p: Path, rel: String): Seq[String] =
      f.listStatus(p).toSeq.filter(_.isDirectory).flatMap { s =>
        val r = if (rel.isEmpty) s.getPath.getName else s"$rel/${s.getPath.getName}"
        r +: walk(s.getPath, r)
      }
    walk(base, "").toSet
  }

  /** Serve-stack documents: (doc_id, text) over a 7-word vocabulary. */
  protected def docs(ids: Seq[Long], gen: Int = 0): DataFrame =
    ids.map(i => (i, (0L to i % 4).map(t => s"w${(i + t + gen) % 7}").mkString(" ")))
      .toDF("doc_id", "text")

  protected lazy val emb: DataFrame = Tables.embeddings(spark, sf)

  /** 16 vector-stack centroids: the embeddings `lo` until `lo + 16`. */
  protected def vcent(lo: Int): DataFrame =
    emb.filter($"vec_id" >= lo && $"vec_id" < lo + 16)
      .select(($"vec_id" - lo).cast("int").as("cell"), $"embedding".as("c_vec"))

  /** A vector-stack codebook seeded from the embeddings from `lo` on. */
  protected def vcb(lo: Int): DataFrame = Similarity.pqCodebookSeed(
    emb.withColumn("vec_id", $"vec_id" - lo).filter($"vec_id" >= 0),
    "vec_id", "embedding", m = 8, ksub = 16, subDim = 8)

  /** Sketch-stack events: every (key, user) pair. */
  protected def events(keys: Seq[String], users: Seq[Long]): DataFrame =
    (for (k <- keys; u <- users) yield (k, u)).toDF("key", "user")

  protected val splits = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)

  /** A split ledger at `root` (4 buckets) whose conflict family holds
    * rows: docs 1 to 24 draw their splits (1 and 2 share a cluster, the
    * rest stand alone), then arrival 25 bridges all of them into one
    * cluster, whose stored members hold different splits. */
  protected def splitWithConflicts(root: String): Unit = {
    TxSplitStack.init(spark, root)
    TxSplitStack.commitAssign(spark, root, (1L to 24L).toDF("doc_id"),
      Seq((1L, 1L), (2L, 1L), (3L, 3L)).toDF("id", "cluster"), 0L,
      "doc_id", splits, buckets = 4)
    TxSplitStack.commitAssign(spark, root, Seq(25L).toDF("doc_id"),
      (1L to 25L).map(i => (i, 1L)).toDF("id", "cluster"), 1L, "doc_id",
      splits, buckets = 4)
    assert(Manifest.read(spark, root).get.auxV.nonEmpty,
      "the bridge landed no conflict rows")
  }

  private def gvec(i: Int): Array[Float] =
    Array.tabulate(16)(j => (((i * 31 + j * 7) % 17) - 8) / 8.0f)

  /** Graph-stack vectors (vec_id, embedding), 16 dims. */
  protected def gvecs(ids: Seq[Int]): DataFrame =
    ids.map(i => (i.toLong, gvec(i))).toDF("vec_id", "embedding")

  /** Write graph vectors 0 until `n` to `dir`, bucketed on
    * pmod(vec_id, 4), and read them back — the corpus a graph commit
    * scores against. */
  protected def graphCorpus(dir: String, n: Int): DataFrame = {
    gvecs(0 until n)
      .withColumn("bkt", pmod($"vec_id", lit(4L)).cast("int"))
      .write.partitionBy("bkt").mode("overwrite").parquet(dir)
    spark.read.parquet(dir)
  }

  /** A base kNN graph (src_id, nbr_id, cos) over the corpus rows below
    * `n`. */
  protected def baseGraph(corpus: DataFrame, n: Int): DataFrame = {
    val cent = corpus.filter($"vec_id" === 0)
      .select(lit(0).cast("int").as("cell"), $"embedding".as("c_vec"))
    Similarity.knnGraph(corpus.filter($"vec_id" < n), cent, "vec_id",
      "embedding", k = 2).select("src_id", "nbr_id", "cos")
  }

  private def svec(i: Int): Array[Float] = {
    val seed = if (i % 5 == 3) 3 else i
    Array.tabulate(64)(j => (((seed * 31 + j * 7) % 17) - 8) / 8.0f)
  }

  /** Semantic-stack vectors (vec_id, embedding), 64 dims; every id
    * ≡ 3 (mod 5) shares one vector. */
  protected def svecs(ids: Seq[Int]): DataFrame =
    ids.map(i => (i.toLong, svec(i))).toDF("vec_id", "embedding")
}
