package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.operators.{Dedup, Manifest, TxTableStack}

/** Round-18 wave: field-id schema evolution on the keyed table (DROP
  * and RENAME as metadata-only commits), the MERGE delete arm, the
  * table's compaction face, and the MinHash hot-band cap.
  *
  * Reference (jurimetria-etl) has none of these surfaces; they are
  * LLM-training-data extensions (brief §"Beyond the reference") —
  * the evolution faces follow the published table formats' field-id
  * design, independently implemented. */
object Registry25 {

  private def docs(s: SparkSession, d: String) = Tables.documents(s, d)

  private def ddlOf(s: String): org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType.fromDDL(s)

  /** DROP-COLUMN EVOLUTION ([[TxTableStack.evolveDrop]] — the face
    * by-name resolution cannot offer and field ids make safe): fill
    * quality for every doc, DROP it (metadata-only, zero re-pins
    * REQUIREd), then RE-ADD the same name — which allocates a FRESH
    * field id, so every stored row reads null (no resurrection,
    * REQUIREd in-gate: the old bytes are still in the files) — and
    * back-fill the thirds under the new id. The pre-drop snapshot
    * must keep serving the ORIGINAL values (its cut's schema still
    * maps the old id). The oracle sees only the final state: quality
    * non-null exactly where the post-re-add writer put it. */
  val tableSchemaDrop = Q("table_schema_drop",
    """SELECT doc_id, lang,
      |  CASE WHEN doc_id % 3 = 0 THEN n_chars / 50.0 END AS quality
      |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
    val root = StreamHarness.runDir("graft_tbldrop").resolve("tbl").toString
    TxTableStack.init(s, root, "doc_id LONG, lang STRING, quality DOUBLE")
    require(TxTableStack.commitBatch(s, root,
      docs(s, d).select(col("doc_id"), col("lang"),
        (col("n_chars") / lit(100.0)).as("quality")),
      0L, "doc_id", buckets = 8), "the fill batch must commit")   // v1
    val nDocs = docs(s, d).count()
    val pins = Manifest.read(s, root).get.statsV
    require(TxTableStack.evolveDrop(s, root, "quality"))          // v2
    require(Manifest.read(s, root).get.statsV == pins,
      "a drop must be metadata-only: zero re-pins")
    require(TxTableStack.resolve(s, root).columns.toSeq ==
      Seq("doc_id", "lang"),
      "the head must not serve the dropped column")
    // the pre-drop snapshot still serves the dropped column's values
    require(TxTableStack.resolve(s, root, Some(1L))
      .filter(col("quality").isNotNull).count() == nDocs,
      "the pre-drop snapshot must serve the dropped column in full")
    require(TxTableStack.evolveSchema(s, root, "quality DOUBLE"))  // v3
    require(TxTableStack.resolve(s, root)
      .filter(col("quality").isNotNull).count() == 0L,
      "a re-added name gets a fresh field id — stored bytes from the " +
        "dropped column must never resurrect")
    require(scala.util.Try(TxTableStack.evolveDrop(s, root,
      "missing")).isFailure, "dropping an unknown column must refuse")
    require(TxTableStack.commitBatch(s, root,
      docs(s, d).filter(col("doc_id") % 3 === 0)
        .select(col("doc_id"), col("lang"),
          (col("n_chars") / lit(50.0)).as("quality")),
      1L, "doc_id", buckets = 8), "the back-fill must commit")     // v4
    TxTableStack.resolve(s, root).orderBy("doc_id")
  }

  /** RENAME-COLUMN EVOLUTION ([[TxTableStack.evolveRename]] — the
    * name moves, the field id and every stored file stay): rename
    * `lang` → `language` as one pointer swap (zero re-pins
    * REQUIREd); stored rows serve under the new name IMMEDIATELY
    * (id-resolution — no rewrite happened, which the pin check
    * proves); the pre-rename snapshot keeps the old name; a lagging
    * writer still addressing `lang` refuses loudly; an upsert under
    * the new name lands the fifths uppercased. */
  val tableSchemaRename = Q("table_schema_rename",
    """SELECT doc_id,
      |  CASE WHEN doc_id % 5 = 0 THEN upper(lang) ELSE lang END
      |    AS language
      |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
    val root = StreamHarness.runDir("graft_tblren").resolve("tbl").toString
    TxTableStack.init(s, root, "doc_id LONG, lang STRING")
    require(TxTableStack.commitBatch(s, root,
      docs(s, d).select("doc_id", "lang"), 0L, "doc_id",
      buckets = 8))                                               // v1
    val pins = Manifest.read(s, root).get.statsV
    require(TxTableStack.evolveRename(s, root, "lang", "language")) // v2
    require(Manifest.read(s, root).get.statsV == pins,
      "a rename must be metadata-only: zero re-pins")
    require(TxTableStack.resolve(s, root).columns.toSeq ==
      Seq("doc_id", "language"),
      "stored rows must serve under the new name immediately")
    require(ddlOf(TxTableStack.schemaAt(s, root, Some(1L))) ==
      ddlOf("doc_id LONG, lang STRING"),
      "the pre-rename snapshot must keep the old name")
    require(scala.util.Try(TxTableStack.commitBatch(s, root,
      docs(s, d).limit(5).select("doc_id", "lang"), 1L, "doc_id",
      buckets = 8)).isFailure,
      "a lagging writer addressing the old name must refuse")
    require(scala.util.Try(TxTableStack.evolveRename(s, root,
      "language", "DOC_ID")).isFailure,
      "a case-insensitive collision must refuse")
    require(TxTableStack.commitBatch(s, root,
      docs(s, d).filter(col("doc_id") % 5 === 0)
        .select(col("doc_id"), upper(col("lang")).as("language")),
      1L, "doc_id", buckets = 8))                                 // v3
    // the change feed across the rename arrives in the renamed schema
    val feed = TxTableStack.changes(s, root, 1L, 3L, "doc_id")
    require(feed.columns.toSeq == Seq("doc_id", "language", "change"),
      "the feed must classify in the toVersion cut's (renamed) schema")
    TxTableStack.resolve(s, root).orderBy("doc_id")
  }

  /** MERGE DELETE ARM ([[TxTableStack.commitMerge]] `deleteWhen` —
    * `WHEN MATCHED AND <cond> THEN DELETE`, completing MERGE INTO's
    * three row classes in ONE statement): seed the evens, merge the
    * thirds — matched rows with an even batch view count DELETE,
    * other matched rows take the ADDITIVE rule, unmatched rows
    * INSERT, unnamed rows ride through. The replayed merge must
    * absorb whole at the batch high-water (REQUIREd): the delete leg
    * is exactly as non-idempotent as the additive rule — a replayed
    * trigger must neither double-free a bucket's rows nor double-add. */
  val tableMergeDelete = Q("table_merge_delete",
    """WITH seed AS (
      |  SELECT doc_id, n_chars % 1000 AS views
      |  FROM documents WHERE doc_id % 2 = 0),
      |b AS (
      |  SELECT doc_id, n_chars % 1000 AS views
      |  FROM documents WHERE doc_id % 3 = 0),
      |m AS (
      |  SELECT coalesce(s.doc_id, b.doc_id) AS doc_id,
      |    CASE WHEN s.doc_id IS NOT NULL AND b.doc_id IS NOT NULL
      |         THEN s.views + b.views
      |         WHEN s.doc_id IS NULL THEN b.views
      |         ELSE s.views END AS views,
      |    (s.doc_id IS NOT NULL AND b.doc_id IS NOT NULL
      |     AND b.views % 2 = 0) AS del
      |  FROM seed s FULL OUTER JOIN b ON s.doc_id = b.doc_id)
      |SELECT doc_id, views FROM m WHERE NOT del
      |ORDER BY doc_id""".stripMargin) { (s, d) =>
    val root = StreamHarness.runDir("graft_tblmd").resolve("tbl").toString
    TxTableStack.init(s, root, "doc_id LONG, views BIGINT")
    require(TxTableStack.commitBatch(s, root,
      docs(s, d).filter(col("doc_id") % 2 === 0)
        .select(col("doc_id"), (col("n_chars") % 1000).as("views")),
      0L, "doc_id", buckets = 8), "the seed must commit")
    val delta = docs(s, d).filter(col("doc_id") % 3 === 0)
      .select(col("doc_id"), (col("n_chars") % 1000).as("views"))
    val rules = Map("views" -> "s.views + b.views")
    val arm = Some("b.views % 2 = 0")
    require(TxTableStack.commitMerge(s, root, delta, 1L, "doc_id",
      buckets = 8, onMatched = rules, deleteWhen = arm),
      "the merge must commit")
    val after = TxTableStack.resolve(s, root).count()
    require(!TxTableStack.commitMerge(s, root, delta, 1L, "doc_id",
      buckets = 8, onMatched = rules, deleteWhen = arm),
      "the replayed merge must absorb — the delete arm would " +
        "double-free otherwise")
    require(TxTableStack.resolve(s, root).count() == after,
      "the absorbed replay must not change the row set")
    require(scala.util.Try(TxTableStack.commitMerge(s, root, delta, 2L,
      "doc_id", buckets = 8, onMatched = Map.empty,
      deleteWhen = Some("s.views + 1"))).isFailure,
      "a non-boolean delete predicate must refuse at analysis")
    TxTableStack.resolve(s, root).orderBy("doc_id")
  }

  /** TABLE COMPACTION ([[TxTableStack.compact]] — the OPTIMIZE face;
    * [[graft.operators.Ledger.compactBuckets]]'s law under the
    * manifest): the load writes the bases, and the two upsert drains
    * on top append merge-on-read deltas (REQUIREd: the fixture
    * actually fragments — pending deltas or multi-file buckets),
    * compaction elects the deltas' and the multi-file buckets FROM
    * METADATA ALONE, folds and rewrites exactly those to ONE file
    * each in one maintenance commit — batch high-water untouched,
    * unelected buckets' pins (and therefore bytes) untouched, content
    * bit-identical (the oracle's row set is the witness). A second
    * compact finds nothing and commits nothing. */
  val tableCompact = Q("table_compact",
    """SELECT doc_id, lang,
      |  CASE WHEN doc_id % 3 = 0 THEN n_chars * 3
      |       WHEN doc_id % 2 = 0 THEN n_chars * 2
      |       ELSE n_chars END AS n
      |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
    val root = StreamHarness.runDir("graft_tblcmp").resolve("tbl").toString
    TxTableStack.init(s, root, "doc_id LONG, lang STRING, n BIGINT")
    require(TxTableStack.commitBatch(s, root,
      docs(s, d).select(col("doc_id"), col("lang"),
        col("n_chars").as("n")), 0L, "doc_id", buckets = 8))
    require(TxTableStack.commitBatch(s, root,
      docs(s, d).filter(col("doc_id") % 2 === 0)
        .select(col("doc_id"), col("lang"),
          (col("n_chars") * 2).as("n")), 1L, "doc_id", buckets = 8))
    require(TxTableStack.commitBatch(s, root,
      docs(s, d).filter(col("doc_id") % 3 === 0)
        .select(col("doc_id"), col("lang"),
          (col("n_chars") * 3).as("n")), 2L, "doc_id", buckets = 8))
    val st = Manifest.read(s, root).get
    def files(b: Int, v: Long): Int =
      new java.io.File(s"$root/rows/v=$v/bkt=$b").listFiles()
        .count(_.getName.endsWith(".parquet"))
    require(st.deltas.nonEmpty ||
      st.statsV.exists { case (b, v) => files(b, v) > 1 },
      "the drain fixture must actually fragment: pending deltas or " +
        "multi-file buckets")
    val elected = TxTableStack.compact(s, root)
    require(elected.nonEmpty, "compaction must elect the fragmented buckets")
    val st2 = Manifest.read(s, root).get
    require(st2.batchId == st.batchId,
      "compaction is maintenance, not a batch — high-water untouched")
    elected.foreach { b => require(files(b, st2.statsV(b)) == 1,
      s"elected bucket $b must compact to one file") }
    st2.statsV.filterNot(p => elected.contains(p._1)).foreach {
      case (b, v) => require(st.statsV(b) == v,
        s"unelected bucket $b must keep its pin — bytes untouched") }
    require(TxTableStack.compact(s, root).isEmpty &&
      Manifest.read(s, root).get.version == st2.version,
      "a second compact must find nothing and commit nothing")
    TxTableStack.resolve(s, root).orderBy("doc_id")
  }

  /** MINHASH HOT-BAND CAP ([[Dedup.minhashCandidates]] `maxBandDf` —
    * `phashPairs.maxBucket` and the n-gram `maxGramDf` brought to the
    * LSH self-join): every tenth document is replaced by one
    * boilerplate template, collapsing ~10% of the corpus onto ONE
    * band bucket per band — the self-join there is quadratic in
    * occupancy, SILENTLY, at any scale. With the cap: the default
    * REFUSES loudly naming the worst buckets (REQUIREd in-gate), and
    * `dropOverCap = true` degrades per the documented contract —
    * over-cap buckets are template mass, not near-dup signal, so they
    * leave candidacy and every surviving bucket's fan-in is ≤ cap
    * (candidates ≤ corpus × bands × cap — linear by construction).
    * The oracle replays the SAME degrade: band keys grouped, buckets
    * HAVING count ≤ cap, pairs from surviving buckets only. */
  val dedupMinhashCapped = Q("dedup_minhash_capped",
    """WITH docs2 AS (SELECT doc_id,
      |  CASE WHEN doc_id % 10 = 0
      |    THEN 'terms of service apply to all content provided herein'
      |    ELSE text END AS text FROM documents),
      |w AS (SELECT doc_id, string_split(text, ' ') AS wl FROM docs2),
      |sh AS (SELECT doc_id, list_transform(range(1, len(wl) - 1),
      |  i -> wl[i] || ' ' || wl[i+1] || ' ' || wl[i+2]) AS shl FROM w),
      |sig AS (SELECT doc_id, list_transform(range(0, 8),
      |  j -> list_min(list_transform(shl,
      |    x -> substr(md5(CAST(j // 4 AS VARCHAR) || ':' || x),
      |                CAST((j % 4) * 8 + 1 AS INT), 8)))) AS mh
      |  FROM sh),
      |bands AS (SELECT doc_id, t.bnd, md5(mh[2*t.bnd+1] || mh[2*t.bnd+2]) AS bk
      |  FROM sig CROSS JOIN (SELECT unnest(range(0, 4)) AS bnd) t),
      |kept AS (SELECT bnd, bk FROM bands WHERE bk IS NOT NULL
      |  GROUP BY 1, 2 HAVING COUNT(*) <= 8),
      |bk2 AS (SELECT b.doc_id, b.bnd, b.bk FROM bands b
      |  JOIN kept k ON b.bnd = k.bnd AND b.bk = k.bk)
      |SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
      |FROM bk2 a JOIN bk2 b ON a.bnd = b.bnd AND a.bk = b.bk
      |  AND a.doc_id < b.doc_id
      |ORDER BY a_id, b_id""".stripMargin) { (s, d) =>
    val tpl = "terms of service apply to all content provided herein"
    val mod = docs(s, d).select(col("doc_id"),
      when(col("doc_id") % 10 === 0, lit(tpl))
        .otherwise(col("text")).as("text"))
    require(scala.util.Try(Dedup.minhashCandidates(mod, "doc_id",
      "text", maxBandDf = 8)).isFailure,
      "a degenerate band bucket must refuse loudly by default")
    Dedup.minhashCandidates(mod, "doc_id", "text", maxBandDf = 8,
      dropOverCap = true).orderBy("a_id", "b_id")
  }

  lazy val round25: Seq[Q] = Seq(tableSchemaDrop, tableSchemaRename,
    tableMergeDelete, tableCompact, dedupMinhashCapped)
}
