package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** [[TxTableStack]] — the general keyed table with transactional
  * add-column schema evolution. Load-bearing claims:
  * (1) upserts are after-images (replace wholesale, insert, ride
  *     through unnamed rows); deletes drop; both replay-exact;
  * (2) [[TxTableStack.evolveSchema]] is METADATA-ONLY — zero re-pins —
  *     and old rows read null in the new column until re-imaged;
  * (3) a pre-evolution snapshot serves the narrower schema it was
  *     written for, even read after the evolution;
  * (4) lagging writers null-fill; unknown columns refuse; duplicate
  *     evolution refuses;
  * (5) the change feed classifies across the evolution boundary
  *     (before projected onto the after schema) and an
  *     evolution-only window emits nothing;
  * (6) vacuum retires below the floor, the head keeps serving;
  * (7) an upsert or delete into a loaded table runs one SQL action, its
  *     write; a refused one leaves no directory behind. */
class TableStackSpec extends SparkSpec {
  import spark.implicits._

  private val B = 4

  /** DDL equality up to type-name normalization (LONG ≡ BIGINT) —
    * [[TxTableStack.schemaAt]] renders canonical `DataType.sql`. */
  private def sameSchema(a: String, b: String): Boolean =
    org.apache.spark.sql.types.StructType.fromDDL(a) ==
      org.apache.spark.sql.types.StructType.fromDDL(b)

  private def newRoot(): String =
    java.nio.file.Files.createTempDirectory("graft_tbl_spec").toString

  private def rows(root: String, version: Option[Long] = None)
      : Seq[(Long, String, Option[Double])] =
    TxTableStack.resolve(spark, root, version)
      .orderBy("k").collect()
      .map(r => (r.getLong(0), r.getString(1),
        if (r.length < 3 || r.isNullAt(2)) None else Some(r.getDouble(2))))
      .toSeq

  private def mk(): String = {
    val root = newRoot()
    TxTableStack.init(spark, root, "k LONG, lang STRING")
    assert(TxTableStack.commitBatch(spark, root,
      Seq((1L, "pt"), (2L, "en"), (3L, "es")).toDF("k", "lang"),
      0L, "k", B))
    root
  }

  test("after-image upsert, delete, ride-through, replay") {
    val root = mk()
    assert(TxTableStack.commitBatch(spark, root,
      Seq((2L, "de"), (4L, "fr")).toDF("k", "lang"), 1L, "k", B))
    assert(rows(root).map(t => (t._1, t._2)) ==
      Seq((1L, "pt"), (2L, "de"), (3L, "es"), (4L, "fr")))
    // replay absorbs whole
    assert(!TxTableStack.commitBatch(spark, root,
      Seq((9L, "xx")).toDF("k", "lang"), 1L, "k", B))
    assert(TxTableStack.commitDelete(spark, root,
      Seq(3L, 99L).toDF("k"), 2L, "k", B),
      "a delete with an absent key must still commit (no-op member)")
    assert(rows(root).map(_._1) == Seq(1L, 2L, 4L))
  }

  test("evolution is metadata-only; old rows read null; lagging writers null-fill") {
    val root = mk()
    val pins = Manifest.read(spark, root).get.statsV
    assert(TxTableStack.evolveSchema(spark, root, "quality DOUBLE"))
    val st = Manifest.read(spark, root).get
    assert(st.statsV == pins, "evolution must re-pin nothing")
    assert(sameSchema(TxTableStack.schemaAt(spark, root),
      "k LONG, lang STRING, quality DOUBLE"))
    assert(rows(root) == Seq((1L, "pt", None), (2L, "en", None),
      (3L, "es", None)), "stored rows must read null in the new column")
    // current writer populates; lagging writer null-fills by replacing
    assert(TxTableStack.commitBatch(spark, root,
      Seq((1L, "pt", 0.5), (2L, "en", 0.9)).toDF("k", "lang", "quality"),
      1L, "k", B))
    assert(TxTableStack.commitBatch(spark, root,
      Seq((2L, "en")).toDF("k", "lang"), 2L, "k", B))
    assert(rows(root) == Seq((1L, "pt", Some(0.5)), (2L, "en", None),
      (3L, "es", None)))
  }

  test("pre-evolution snapshot serves the narrower schema") {
    val root = mk()
    assert(TxTableStack.evolveSchema(spark, root, "quality DOUBLE"))
    assert(TxTableStack.commitBatch(spark, root,
      Seq((1L, "pt", 0.5)).toDF("k", "lang", "quality"), 1L, "k", B))
    assert(sameSchema(TxTableStack.schemaAt(spark, root, Some(1L)),
      "k LONG, lang STRING"))
    assert(TxTableStack.resolve(spark, root, Some(1L)).columns.toSeq ==
      Seq("k", "lang"))
    assert(rows(root, Some(1L)) == Seq((1L, "pt", None), (2L, "en", None),
      (3L, "es", None)).map(t => (t._1, t._2, None)))
    assert(rows(root).head == ((1L, "pt", Some(0.5))))
  }

  test("unknown columns and duplicate evolution refuse") {
    val root = mk()
    intercept[IllegalArgumentException] {
      TxTableStack.commitBatch(spark, root,
        Seq((1L, "pt", 0.5)).toDF("k", "lang", "quality"), 1L, "k", B)
    }
    intercept[IllegalArgumentException] {
      TxTableStack.evolveSchema(spark, root, "lang STRING")
    }
    intercept[IllegalStateException] {
      TxTableStack.commitBatch(spark, newRoot(),
        Seq((1L, "pt")).toDF("k", "lang"), 0L, "k", B)
    }
    intercept[IllegalArgumentException] {
      TxTableStack.init(spark, root, "again LONG")
    }
  }

  test("change feed classifies across the evolution boundary") {
    val root = mk() // v1: {1 pt, 2 en, 3 es}
    assert(TxTableStack.evolveSchema(spark, root, "quality DOUBLE")) // v2
    assert(TxTableStack.commitBatch(spark, root,
      Seq((1L, "pt", 0.5), (4L, "fr", 0.7)).toDF("k", "lang", "quality"),
      1L, "k", B)) // v3: 1 updated (new column only), 4 inserted
    assert(TxTableStack.commitDelete(spark, root, Seq(2L).toDF("k"),
      2L, "k", B)) // v4
    val feed = TxTableStack.changes(spark, root, 1L, 4L, "k")
      .orderBy("k").collect()
      .map(r => (r.getLong(0), r.getString(3),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toSeq
    assert(feed == Seq((1L, "update", Some(0.5)),
      (2L, "delete", None), (4L, "insert", Some(0.7))),
      s"got $feed") // row 3 rode through unchanged: no emission
    // an evolution-only window emits nothing
    assert(TxTableStack.changes(spark, root, 1L, 2L, "k").isEmpty)
  }

  test("type widening: old files read promoted, snapshots keep the narrow type, unsafe refuses") {
    val root = newRoot()
    TxTableStack.init(spark, root, "k LONG, views INT")
    assert(TxTableStack.commitBatch(spark, root,
      Seq((1L, 10), (2L, 20)).toDF("k", "views"), 0L, "k", B))
    assert(TxTableStack.evolveWiden(spark, root, "views", "BIGINT"))
    assert(sameSchema(TxTableStack.schemaAt(spark, root),
      "k BIGINT, views BIGINT"))
    // old int-typed files read as long under the promoted schema
    val head = TxTableStack.resolve(spark, root).orderBy("k").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(head == Seq((1L, 10L), (2L, 20L)))
    // a post-promotion writer lands past-int-range values
    assert(TxTableStack.commitBatch(spark, root,
      Seq((3L, 5000000000L)).toDF("k", "views"), 1L, "k", B))
    assert(TxTableStack.resolve(spark, root).filter(col("k") === 3L)
      .head().getLong(1) == 5000000000L)
    // the pre-widening snapshot serves the narrow type
    assert(sameSchema(TxTableStack.schemaAt(spark, root, Some(1L)),
      "k LONG, views INT"))
    assert(TxTableStack.resolve(spark, root, Some(1L)).schema("views")
      .dataType == org.apache.spark.sql.types.IntegerType)
    // the change feed across the widening classifies in the after schema
    val feed = TxTableStack.changes(spark, root, 1L, 3L, "k")
      .orderBy("k").collect()
      .map(r => (r.getLong(0), r.getString(2))).toSeq
    assert(feed == Seq((3L, "insert")))
    // refusals: narrowing, cross-kind, unknown column
    intercept[IllegalArgumentException] {
      TxTableStack.evolveWiden(spark, root, "views", "INT")
    }
    intercept[IllegalArgumentException] {
      TxTableStack.evolveWiden(spark, root, "views", "STRING")
    }
    intercept[IllegalArgumentException] {
      TxTableStack.evolveWiden(spark, root, "missing", "BIGINT")
    }
  }

  test("rebucket migrates the whole family; later commits use the new keyspace") {
    val root = mk()
    assert(TxTableStack.evolveSchema(spark, root, "quality DOUBLE"))
    val before = rows(root)
    assert(TxTableStack.rebucket(spark, root, "k", newBuckets = 16))
    assert(rows(root) == before, "content must ride the migration")
    assert(sameSchema(TxTableStack.schemaAt(spark, root),
      "k LONG, lang STRING, quality DOUBLE"),
      "the schema must ride the migration")
    assert(TxTableStack.commitBatch(spark, root,
      Seq((2L, "de", 0.7)).toDF("k", "lang", "quality"), 1L, "k", 16))
    assert(rows(root) == Seq((1L, "pt", None), (2L, "de", Some(0.7)),
      (3L, "es", None)))
    // an empty table refuses the migration as a no-op
    val empty = newRoot()
    TxTableStack.init(spark, empty, "k LONG")
    assert(!TxTableStack.rebucket(spark, empty, "k", 16))
  }

  test("vacuum retires below the floor; the head keeps serving") {
    val root = mk()
    assert(TxTableStack.commitBatch(spark, root,
      Seq((1L, "xx")).toDF("k", "lang"), 1L, "k", B))
    // the upsert appended a delta; folding it supersedes the old base
    // and the delta, which is what vacuum must reclaim
    assert(TxTableStack.compact(spark, root).nonEmpty)
    val head = rows(root)
    val stats = TxTableStack.vacuum(spark, root, retainVersions = 0)
    assert(stats.deletedDirs > 0)
    assert(Manifest.readAt(spark, root, 1L).isEmpty)
    assert(rows(root) == head)
  }

  private def mkCounts(): String = {
    val root = newRoot()
    TxTableStack.init(spark, root, "k LONG, lang STRING, n BIGINT")
    assert(TxTableStack.commitBatch(spark, root,
      Seq((1L, "pt", 10L), (2L, "en", 20L), (3L, "es", 30L))
        .toDF("k", "lang", "n"), 0L, "k", B))
    root
  }

  private def countRows(root: String): Seq[(Long, String, Long)] =
    TxTableStack.resolve(spark, root).orderBy("k").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq

  test("merge: matched rules apply, unruled columns keep stored, " +
    "unmatched insert, unnamed ride through") {
    val root = mkCounts()
    // k=2 matched (n adds, lang unruled → keeps stored "en"),
    // k=4 inserts verbatim, k=1/3 ride through
    assert(TxTableStack.commitMerge(spark, root,
      Seq((2L, "de", 5L), (4L, "fr", 7L)).toDF("k", "lang", "n"),
      1L, "k", B, onMatched = Map("n" -> "s.n + b.n")))
    assert(countRows(root) == Seq((1L, "pt", 10L), (2L, "en", 25L),
      (3L, "es", 30L), (4L, "fr", 7L)))
  }

  test("merge replay absorbs — the additive rule never double-applies") {
    val root = mkCounts()
    val delta = Seq((2L, "de", 5L)).toDF("k", "lang", "n")
    val rules = Map("n" -> "s.n + b.n")
    assert(TxTableStack.commitMerge(spark, root, delta, 1L, "k", B,
      onMatched = rules))
    assert(!TxTableStack.commitMerge(spark, root, delta, 1L, "k", B,
      onMatched = rules))
    assert(countRows(root).find(_._1 == 2L).get._3 == 25L)
  }

  test("merge refuses rules on the key or on unknown columns; a " +
    "lagging merge batch null-fills") {
    val root = mkCounts()
    val delta = Seq((2L, "de", 5L)).toDF("k", "lang", "n")
    intercept[IllegalArgumentException] {
      TxTableStack.commitMerge(spark, root, delta, 1L, "k", B,
        onMatched = Map("k" -> "b.k"))
    }
    intercept[IllegalArgumentException] {
      TxTableStack.commitMerge(spark, root, delta, 1L, "k", B,
        onMatched = Map("bogus" -> "1"))
    }
    // lagging writer: batch without n — matched rule may still read
    // b.n (null) but a coalesce rule keeps the counter
    assert(TxTableStack.commitMerge(spark, root,
      Seq((2L, "de")).toDF("k", "lang"), 1L, "k", B,
      onMatched = Map("n" -> "s.n + coalesce(b.n, 0)",
        "lang" -> "b.lang")))
    assert(countRows(root).find(_._1 == 2L).get == ((2L, "de", 20L)))
  }

  test("merge delete arm: WHEN MATCHED AND cond THEN DELETE; " +
    "replay absorbs the non-idempotent delete") {
    val root = mkCounts() // {1 pt 10, 2 en 20, 3 es 30}
    // matched & n >= 25 → delete (k=3); matched otherwise → additive
    // (k=2); unmatched → insert (k=4); unnamed ride through (k=1)
    val delta = Seq((2L, "de", 5L), (3L, "xx", 1L), (4L, "fr", 7L))
      .toDF("k", "lang", "n")
    assert(TxTableStack.commitMerge(spark, root, delta, 1L, "k", B,
      onMatched = Map("n" -> "s.n + b.n"),
      deleteWhen = Some("s.n >= 25")))
    assert(countRows(root) == Seq((1L, "pt", 10L), (2L, "en", 25L),
      (4L, "fr", 7L)))
    // replay: the delete must not re-fire (k=4 now has n=7 < 25 but
    // the additive rule would corrupt k=2 and the whole batch absorbs)
    assert(!TxTableStack.commitMerge(spark, root, delta, 1L, "k", B,
      onMatched = Map("n" -> "s.n + b.n"),
      deleteWhen = Some("s.n >= 25")))
    assert(countRows(root) == Seq((1L, "pt", 10L), (2L, "en", 25L),
      (4L, "fr", 7L)))
    // a non-boolean predicate refuses loudly
    intercept[IllegalArgumentException] {
      TxTableStack.commitMerge(spark, root, delta, 2L, "k", B,
        onMatched = Map.empty, deleteWhen = Some("s.n + 1"))
    }
  }

  test("merge rule whose type cannot safely cast refuses loudly " +
    "instead of nulling") {
    val root = mkCounts()
    val delta = Seq((2L, "de", 5L)).toDF("k", "lang", "n")
    // a STRING-typed rule into the BIGINT n column would null under a
    // plain cast — must refuse at analysis
    intercept[IllegalArgumentException] {
      TxTableStack.commitMerge(spark, root, delta, 1L, "k", B,
        onMatched = Map("n" -> "concat(s.lang, b.lang)"))
    }
    // a widening rule (INT literal into BIGINT) is fine
    assert(TxTableStack.commitMerge(spark, root, delta, 1L, "k", B,
      onMatched = Map("n" -> "1")))
    assert(countRows(root).find(_._1 == 2L).get._3 == 1L)
  }

  test("duplicate and null batch keys refuse loudly on upsert and merge") {
    val root = mk()
    intercept[IllegalArgumentException] {
      TxTableStack.commitBatch(spark, root,
        Seq((2L, "de"), (2L, "fr")).toDF("k", "lang"), 1L, "k", B)
    }
    intercept[IllegalArgumentException] {
      TxTableStack.commitBatch(spark, root,
        Seq((Some(2L), "de"), (None, "fr")).toDF("k", "lang"),
        1L, "k", B)
    }
    intercept[IllegalArgumentException] {
      TxTableStack.commitMerge(spark, root,
        Seq((2L, "de"), (2L, "fr")).toDF("k", "lang"), 1L, "k", B,
        onMatched = Map("lang" -> "b.lang"))
    }
    // the refused commits must not have advanced the table
    assert(rows(root).map(t => (t._1, t._2)) ==
      Seq((1L, "pt"), (2L, "en"), (3L, "es")))
  }

  test("drop evolution is metadata-only; snapshots keep serving the " +
    "dropped column; a re-added name never resurrects old bytes") {
    val root = newRoot()
    TxTableStack.init(spark, root, "k LONG, lang STRING, quality DOUBLE")
    assert(TxTableStack.commitBatch(spark, root,
      Seq((1L, "pt", 0.5), (2L, "en", 0.9)).toDF("k", "lang", "quality"),
      0L, "k", B)) // v1
    val pins = Manifest.read(spark, root).get.statsV
    assert(TxTableStack.evolveDrop(spark, root, "quality")) // v2
    assert(Manifest.read(spark, root).get.statsV == pins,
      "drop must re-pin nothing")
    assert(TxTableStack.resolve(spark, root).columns.toSeq ==
      Seq("k", "lang"), "the head must not serve the dropped column")
    // the pre-drop snapshot still serves the dropped column's values
    val snap = TxTableStack.resolve(spark, root, Some(1L))
      .orderBy("k").collect().map(r => (r.getLong(0), r.getDouble(2)))
    assert(snap.toSeq == Seq((1L, 0.5), (2L, 0.9)))
    // re-adding the same NAME allocates a fresh id: stored bytes from
    // the dropped column must NOT resurrect
    assert(TxTableStack.evolveSchema(spark, root, "quality DOUBLE")) // v3
    val re = TxTableStack.resolve(spark, root).orderBy("k").collect()
    assert(re.forall(_.isNullAt(2)),
      "a re-added name must read null — old bytes must never resurrect")
    // a write under the re-added column lands under the fresh id
    assert(TxTableStack.commitBatch(spark, root,
      Seq((1L, "pt", 0.7)).toDF("k", "lang", "quality"), 1L, "k", B))
    assert(rows(root) == Seq((1L, "pt", Some(0.7)), (2L, "en", None)))
    // the pre-drop snapshot STILL serves the original values
    assert(TxTableStack.resolve(spark, root, Some(1L))
      .orderBy("k").head().getDouble(2) == 0.5)
    // dropping the only remaining column refuses
    val tiny = newRoot()
    TxTableStack.init(spark, tiny, "k LONG")
    intercept[IllegalArgumentException] {
      TxTableStack.evolveDrop(spark, tiny, "k")
    }
  }

  test("rename evolution is metadata-only: old files serve under the " +
    "new name; snapshots keep the old name; collisions refuse") {
    val root = mk() // k, lang: {1 pt, 2 en, 3 es}
    val pins = Manifest.read(spark, root).get.statsV
    assert(TxTableStack.evolveRename(spark, root, "lang", "language"))
    assert(Manifest.read(spark, root).get.statsV == pins,
      "rename must re-pin nothing")
    // stored bytes serve under the new name immediately (id-resolution)
    val head = TxTableStack.resolve(spark, root)
    assert(head.columns.toSeq == Seq("k", "language"))
    assert(head.orderBy("k").collect().map(_.getString(1)).toSeq ==
      Seq("pt", "en", "es"))
    // the pre-rename snapshot keeps the old name
    assert(TxTableStack.resolve(spark, root, Some(1L)).columns.toSeq ==
      Seq("k", "lang"))
    // a lagging writer still addressing the old name refuses
    intercept[IllegalArgumentException] {
      TxTableStack.commitBatch(spark, root,
        Seq((4L, "fr")).toDF("k", "lang"), 1L, "k", B)
    }
    // a writer on the new name upserts; the change feed classifies in
    // the renamed schema
    assert(TxTableStack.commitBatch(spark, root,
      Seq((2L, "de")).toDF("k", "language"), 1L, "k", B))
    val feed = TxTableStack.changes(spark, root, 1L, 3L, "k")
    assert(feed.columns.toSeq == Seq("k", "language", "change"))
    assert(feed.collect().map(r => (r.getLong(0), r.getString(1),
      r.getString(2))).toSeq == Seq((2L, "de", "update")))
    // collision refusals, case-insensitive
    intercept[IllegalArgumentException] {
      TxTableStack.evolveRename(spark, root, "language", "k")
    }
    intercept[IllegalArgumentException] {
      TxTableStack.evolveRename(spark, root, "language", "K")
    }
    intercept[IllegalArgumentException] {
      TxTableStack.evolveRename(spark, root, "missing", "x")
    }
  }

  test("case-insensitive duplicate checks: evolution onto a " +
    "case-variant name refuses; multi-line DDL normalizes to one " +
    "manifest line") {
    val root = newRoot()
    // stripMargin DDL carries newlines — the codec must normalize
    TxTableStack.init(spark, root,
      """k LONG,
        |lang STRING""".stripMargin)
    assert(!Manifest.read(spark, root).get.schema.contains("\n"),
      "the stored schema must be one line")
    assert(TxTableStack.commitBatch(spark, root,
      Seq((1L, "pt")).toDF("k", "lang"), 0L, "k", B))
    assert(rows(root).map(t => (t._1, t._2)) == Seq((1L, "pt")))
    // evolving a case-variant of an existing column would wedge Spark's
    // case-insensitive resolution — must refuse
    intercept[IllegalArgumentException] {
      TxTableStack.evolveSchema(spark, root, "Lang STRING")
    }
    // a non-identifier column name refuses at init (the codec line)
    intercept[IllegalArgumentException] {
      TxTableStack.init(spark, newRoot(), "`a b` LONG")
    }
  }

  test("compact collapses fragmented buckets to one file, " +
    "content-identically; unelected buckets keep their pins") {
    val root = newRoot()
    TxTableStack.init(spark, root, "k LONG, lang STRING")
    // the first load writes the bases from its shuffle by key; with
    // AQE's partition coalescing off that shuffle keeps its 4
    // partitions, each writing a file into most buckets → multi-file
    // pinned dirs; two more upserts append deltas to the same buckets
    val coalescing = "spark.sql.adaptive.coalescePartitions.enabled"
    spark.conf.set(coalescing, "false")
    try assert(TxTableStack.commitBatch(spark, root,
      (0L to 40L).map(k => (k, "v0")).toDF("k", "lang"), 0L, "k", B))
    finally spark.conf.unset(coalescing)
    for (i <- 1 to 2)
      assert(TxTableStack.commitBatch(spark, root,
        (0L to 40L).map(k => (k, s"v$i")).toDF("k", "lang"),
        i.toLong, "k", B))
    val st = Manifest.read(spark, root).get
    def files(b: Int, v: Long): Int =
      new java.io.File(s"$root/rows/v=$v/bkt=$b").listFiles()
        .count(_.getName.endsWith(".parquet"))
    assert(st.statsV.exists { case (b, v) => files(b, v) > 1 },
      "the fixture must actually fragment")
    val before = rows(root)
    val elected = TxTableStack.compact(spark, root)
    assert(elected.nonEmpty)
    val st2 = Manifest.read(spark, root).get
    assert(st2.batchId == st.batchId,
      "compaction is not a batch — the high-water must not move")
    elected.foreach { b =>
      assert(files(b, st2.statsV(b)) == 1,
        s"bucket $b must compact to one file") }
    st2.statsV.filterNot(p => elected.contains(p._1)).foreach {
      case (b, v) => assert(st.statsV(b) == v,
        s"unelected bucket $b must keep its pin (bytes untouched)") }
    assert(rows(root) == before, "compaction must be content-identical")
    // a second compact finds nothing to do and commits nothing
    val v2 = Manifest.read(spark, root).get.version
    assert(TxTableStack.compact(spark, root).isEmpty)
    assert(Manifest.read(spark, root).get.version == v2)
  }

  private def deltaDirs(root: String): Set[String] =
    Option(new java.io.File(s"$root/delta").listFiles()).toSeq.flatten
      .filter(_.isDirectory).map(_.getName).toSet

  test("merge-on-read: commits into a loaded table append deltas; " +
    "the chain cap and compaction fold them into the bases") {
    val root = mk() // the first commit writes the bases directly
    val st0 = Manifest.read(spark, root).get
    assert(st0.deltas.isEmpty && st0.statsV.nonEmpty)
    for (i <- 1 to 6)
      assert(TxTableStack.commitBatch(spark, root,
        Seq((i.toLong, s"v$i")).toDF("k", "lang"), i.toLong, "k", B))
    val st6 = Manifest.read(spark, root).get
    assert(st6.deltas.size == 6 && st6.statsV == st0.statsV,
      "an upsert into a loaded table must append, not rewrite buckets")
    assert(deltaDirs(root) == st6.deltas.map(d => s"v=${d.token}").toSet)
    assert(TxTableStack.commitDelete(spark, root, Seq(2L).toDF("k"),
      7L, "k", B))
    assert(Manifest.read(spark, root).get.deltas.size == 7)
    // the eighth delta would reach the cap: this commit folds instead
    assert(TxTableStack.commitBatch(spark, root,
      Seq((9L, "nine")).toDF("k", "lang"), 8L, "k", B))
    val st8 = Manifest.read(spark, root).get
    assert(st8.deltas.isEmpty, "the capped commit must fold the chain")
    val want = Seq((1L, "v1"), (3L, "v3"), (4L, "v4"), (5L, "v5"),
      (6L, "v6"), (9L, "nine"))
    assert(rows(root).map(t => (t._1, t._2)) == want)
    assert(TxTableStack.commitBatch(spark, root,
      Seq((3L, "tres")).toDF("k", "lang"), 9L, "k", B))
    assert(Manifest.read(spark, root).get.deltas.size == 1)
    assert(TxTableStack.compact(spark, root).nonEmpty)
    assert(Manifest.read(spark, root).get.deltas.isEmpty)
    assert(rows(root).map(t => (t._1, t._2)) ==
      want.map(t => if (t._1 == 3L) (3L, "tres") else t))
    // the chain's key column cannot be dropped while deltas are pending
    assert(TxTableStack.commitBatch(spark, root,
      Seq((4L, "quatro")).toDF("k", "lang"), 10L, "k", B))
    intercept[IllegalArgumentException] {
      TxTableStack.evolveDrop(spark, root, "k")
    }
  }

  test("a delta written without its swap stays invisible; the replay " +
    "converges bit-identically; vacuum reclaims the orphan") {
    val straight = mk()
    val crashed = mk()
    val up = Seq((2L, "de"), (5L, "it")).toDF("k", "lang")
    val del = Seq(1L).toDF("k")
    assert(TxTableStack.commitBatch(spark, straight, up, 1L, "k", B))
    assert(TxTableStack.commitDelete(spark, straight, del, 2L, "k", B))
    val before = rows(crashed)
    val v = Manifest.read(spark, crashed).get.version
    assert(TxTableStack.commitBatch(spark, crashed, up, 1L, "k", B,
      publish = false))
    assert(deltaDirs(crashed).size == 1, "the crashed delta landed")
    assert(Manifest.read(spark, crashed).get.version == v &&
      rows(crashed) == before, "an unswapped delta leaked to a reader")
    assert(TxTableStack.commitBatch(spark, crashed, up, 1L, "k", B))
    assert(TxTableStack.commitDelete(spark, crashed, del, 2L, "k", B,
      publish = false))
    assert(TxTableStack.commitDelete(spark, crashed, del, 2L, "k", B))
    def all(root: String) = TxTableStack.resolve(spark, root)
      .orderBy("k").collect().toSeq
    assert(all(crashed) == all(straight),
      "crash + replay drifted from the straight-through run")
    val chained = Manifest.read(spark, crashed).get.deltas
      .map(d => s"v=${d.token}").toSet
    assert(deltaDirs(crashed).size == 4 && chained.size == 2)
    val vs = TxTableStack.vacuum(spark, crashed)
    assert(vs.deletedDirs >= 2, "vacuum must reclaim both orphan deltas")
    assert(deltaDirs(crashed) == chained)
    assert(all(crashed) == all(straight))
  }

  test("resolve and changes build their frames without a Spark job") {
    val root = mk()
    assert(TxTableStack.commitBatch(spark, root,
      Seq((2L, "de"), (4L, "fr")).toDF("k", "lang"), 1L, "k", B))
    assert(TxTableStack.evolveSchema(spark, root, "quality DOUBLE"))
    assert(TxTableStack.commitDelete(spark, root, Seq(3L).toDF("k"),
      2L, "k", B))
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    org.apache.spark.GraftTestBridge.drainListenerBus(sc)
    sc.addSparkListener(listener)
    try {
      val head = TxTableStack.resolve(spark, root)
      val snap = TxTableStack.resolve(spark, root, Some(1L))
      val feed = TxTableStack.changes(spark, root, 1L, 4L, "k")
      org.apache.spark.GraftTestBridge.drainListenerBus(sc)
      assert(jobs.get == 0,
        s"building the frames ran ${jobs.get} Spark jobs")
      assert(head.orderBy("k").collect().map(_.getLong(0)).toSeq ==
        Seq(1L, 2L, 4L))
      assert(snap.count() == 3L)
      assert(feed.orderBy("k").collect()
        .map(r => (r.getLong(0), r.getString(3))).toSeq ==
        Seq((2L, "update"), (3L, "delete"), (4L, "insert")))
    } finally sc.removeSparkListener(listener)
  }

  /** The `v=` dirs of the table's base and delta families. */
  private def versionDirs(root: String): Set[String] =
    Seq("rows", "delta").flatMap(f =>
      Option(new java.io.File(s"$root/$f").listFiles()).toSeq.flatten
        .filter(_.isDirectory).map(d => s"$f/${d.getName}")).toSet

  test("on a loaded table an upsert and a delete each run one SQL " +
    "action: the write") {
    val root = mk()
    val sc = spark.sparkContext
    val actions = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      private def add(qe: org.apache.spark.sql.execution.QueryExecution) =
        actions.add(qe.logical.nodeName)
      override def onSuccess(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution, d: Long): Unit =
        add(qe)
      override def onFailure(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = add(qe)
    }
    def actionsOf(commit: => Boolean): Seq[String] = {
      org.apache.spark.GraftTestBridge.drainListenerBus(sc)
      actions.clear()
      assert(commit)
      org.apache.spark.GraftTestBridge.drainListenerBus(sc)
      actions.toArray.toSeq.map(_.toString)
    }
    spark.listenerManager.register(listener)
    try {
      val up = actionsOf(TxTableStack.commitBatch(spark, root,
        Seq((2L, "de"), (4L, "fr")).toDF("k", "lang"), 1L, "k", B))
      assert(up.size == 1 && up.head.contains("Insert"),
        s"the upsert ran ${up.size} SQL actions: $up")
      val del = actionsOf(TxTableStack.commitDelete(spark, root,
        Seq(3L, 99L).toDF("k"), 2L, "k", B))
      assert(del.size == 1 && del.head.contains("Insert"),
        s"the delete ran ${del.size} SQL actions: $del")
    } finally spark.listenerManager.unregister(listener)
    assert(Manifest.read(spark, root).get.deltas.size == 2)
    assert(rows(root).map(t => (t._1, t._2)) ==
      Seq((1L, "pt"), (2L, "de"), (4L, "fr")))
  }

  test("a refused upsert leaves the table as it was and no directory " +
    "behind") {
    val dup = Seq((2L, "de"), (2L, "fr")).toDF("k", "lang")
    val nul = Seq((Some(2L), "de"), (None, "fr")).toDF("k", "lang")
    def refuses(root: String, batch: DataFrame): Unit = {
      val st = Manifest.read(spark, root).get
      val dirs = versionDirs(root)
      val before = rows(root)
      intercept[IllegalArgumentException] {
        TxTableStack.commitBatch(spark, root, batch, st.batchId + 1, "k", B)
      }
      assert(Manifest.read(spark, root).get == st,
        "a refused commit moved the manifest")
      assert(versionDirs(root) == dirs,
        s"a refused commit left ${versionDirs(root) -- dirs} behind")
      assert(rows(root) == before)
    }
    val loaded = mk() // refused deltas
    refuses(loaded, dup)
    refuses(loaded, nul)
    val empty = newRoot() // refused first loads
    TxTableStack.init(spark, empty, "k LONG, lang STRING")
    refuses(empty, dup)
    refuses(empty, nul)
    assert(TxTableStack.commitBatch(spark, empty,
      Seq((5L, "it")).toDF("k", "lang"), 0L, "k", B))
    assert(rows(empty).map(t => (t._1, t._2)) == Seq((5L, "it")))
  }

  test("an empty upsert and a delete of absent keys commit without " +
    "waiting on their observation and pin nothing") {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    def pinsNothing(root: String)(commit: Long => Boolean): Unit = {
      val st = Manifest.read(spark, root).get
      val dirs = versionDirs(root)
      val done = Future(commit(st.batchId + 1))(ExecutionContext.global)
      assert(Await.result(done, 120.seconds))
      val st2 = Manifest.read(spark, root).get
      assert(st2.version == st.version + 1 && st2.batchId == st.batchId + 1,
        "the commit must advance version and batch")
      assert(st2.statsV == st.statsV && st2.deltas == st.deltas,
        "a commit with nothing to land must pin nothing")
      assert(versionDirs(root) == dirs,
        s"a commit with nothing to land left ${versionDirs(root) -- dirs}")
    }
    val noRows = Seq.empty[(Long, String)].toDF("k", "lang")
    val loaded = mk()
    val before = rows(loaded)
    pinsNothing(loaded)(b =>
      TxTableStack.commitBatch(spark, loaded, noRows, b, "k", B))
    pinsNothing(loaded)(b => TxTableStack.commitDelete(spark, loaded,
      Seq(Option.empty[Long]).toDF("k"), b, "k", B))
    assert(rows(loaded) == before)
    val empty = newRoot() // every key is absent from a table with no rows
    TxTableStack.init(spark, empty, "k LONG, lang STRING")
    pinsNothing(empty)(b => TxTableStack.commitDelete(spark, empty,
      Seq(1L, 2L).toDF("k"), b, "k", B))
    pinsNothing(empty)(b =>
      TxTableStack.commitBatch(spark, empty, noRows, b, "k", B))
    assert(rows(empty).isEmpty)
  }

  test("seeded model: random upsert/delete/merge/compact/evolve " +
    "sequences resolve and feed like an in-memory fold") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val rnd = new scala.util.Random(6011L)
    val root = newRoot()
    // `k2` mirrors `k` on every row (same type, so the same bucket):
    // the "up2"/"del2" ops commit keyed by it, which folds a pending
    // chain keyed by `k` (and back) without changing the model
    TxTableStack.init(spark, root, "k LONG, lang STRING, n BIGINT, k2 LONG")
    // the model: field id -> name per cut, and key -> (field id -> value)
    type Rec = Map[Int, Any]
    var names: Seq[(Int, String)] =
      Seq(1 -> "k", 2 -> "lang", 3 -> "n", 4 -> "k2")
    var table = Map.empty[Long, Rec]
    val cuts = scala.collection.mutable.Map[Long, (Seq[(Int, String)],
      Map[Long, Rec])]()
    def record(): Unit =
      cuts(Manifest.read(spark, root).get.version) = (names, table)
    record()
    def nameOf(id: Int) = names.find(_._1 == id).get._2
    def frame(recs: Seq[Rec], ids: Seq[Int]): DataFrame = {
      val types = Map(1 -> LongType, 2 -> StringType, 3 -> LongType,
        4 -> LongType, 5 -> DoubleType)
      spark.createDataFrame(
        spark.sparkContext.parallelize(
          recs.map(r => Row.fromSeq(ids.map(r.getOrElse(_, null)))), 2),
        StructType(ids.map(i => StructField(nameOf(i), types(i)))))
    }
    def someKeys(n: Int): Seq[Long] =
      rnd.shuffle((0L until 64L).toList).take(n)
    val langs = Seq("pt", "en", "es", "de")
    val plan = Seq("up", "up", "merge", "del", "up", "evolve", "merge",
      "up", "del", "up", "rename", "up", "compact", "merge", "del", "up",
      "up2", "del2", "up", "up2", "merge", "del", "del2")
    // the folds a commit (not compact) made: at the chain cap, and on a
    // key differing from the pending chain's
    var capFolds, keyFolds = 0
    var batch = 0L
    plan.foreach { op =>
      batch += 1
      val pre = Manifest.read(spark, root).get
      val keyId = if (op.endsWith("2")) 4 else 1
      op match {
        case "up" | "up2" =>
          val withQ = names.exists(_._1 == 5) && rnd.nextBoolean()
          val recs = someKeys(1 + rnd.nextInt(12)).map { k =>
            Map[Int, Any](1 -> k, 2 -> langs(rnd.nextInt(4)),
              3 -> rnd.nextInt(100).toLong, 4 -> k) ++
              (if (withQ) Map(5 -> k * 0.5) else Map.empty) }
          val ids = Seq(1, 2, 3, 4) ++ (if (withQ) Seq(5) else Nil)
          assert(TxTableStack.commitBatch(spark, root, frame(recs, ids),
            batch, nameOf(keyId), B))
          recs.foreach(r => table += r(1).asInstanceOf[Long] -> r)
        case "del" | "del2" =>
          val ks = someKeys(1 + rnd.nextInt(6))
          assert(TxTableStack.commitDelete(spark, root,
            ks.toDF(nameOf(keyId)), batch, nameOf(keyId), B))
          table --= ks
        case "merge" =>
          val recs = someKeys(1 + rnd.nextInt(10)).map { k =>
            Map[Int, Any](1 -> k, 2 -> langs(rnd.nextInt(4)),
              3 -> rnd.nextInt(100).toLong, 4 -> k) }
          assert(TxTableStack.commitMerge(spark, root,
            frame(recs, Seq(1, 2, 3, 4)), batch, "k", B,
            onMatched = Map(nameOf(3) -> s"s.${nameOf(3)} + b.${nameOf(3)}"),
            deleteWhen = Some(s"s.${nameOf(3)} >= 90")))
          recs.foreach { b =>
            val k = b(1).asInstanceOf[Long]
            table.get(k) match {
              case None => table += k -> b
              case Some(s) if s.get(3).exists(_.asInstanceOf[Long] >= 90) =>
                table -= k
              case Some(s) => table += k -> (s + (3 ->
                (s(3).asInstanceOf[Long] + b(3).asInstanceOf[Long])))
            }
          }
        case "evolve" =>
          assert(TxTableStack.evolveSchema(spark, root, "q DOUBLE"))
          names :+= 5 -> "q"
        case "rename" =>
          assert(TxTableStack.evolveRename(spark, root, "lang", "language"))
          names = names.map(f => if (f._1 == 2) 2 -> "language" else f)
        case "compact" =>
          TxTableStack.compact(spark, root)
      }
      val post = Manifest.read(spark, root).get
      if (pre.deltas.nonEmpty && post.deltas.isEmpty && op != "compact") {
        if (pre.deltaKey != keyId) keyFolds += 1
        else if (pre.deltas.size + 1 == TxTableStack.ChainCap) capFolds += 1
      }
      record()
    }
    assert(capFolds > 0 && keyFolds > 0,
      s"the plan must reach both commit folds: $capFolds at the chain " +
        s"cap, $keyFolds on a key change")
    assert(cuts.size == plan.size + 1, "every op must have committed")
    def render(ns: Seq[(Int, String)], r: Rec): Seq[Any] =
      ns.map(f => r.getOrElse(f._1, null))
    cuts.toSeq.sortBy(_._1).foreach { case (v, (ns, t)) =>
      val got = TxTableStack.resolve(spark, root, Some(v)).collect()
        .map(_.toSeq).toSeq.sortBy(_.head.asInstanceOf[Long])
      assert(got == t.toSeq.sortBy(_._1).map(e => render(ns, e._2)),
        s"resolve at v$v differs from the model")
      if (v > 0) {
        val (_, prev) = cuts(v - 1)
        val want = (prev.keySet ++ t.keySet).toSeq.sorted.flatMap { k =>
          (prev.get(k), t.get(k)) match {
            case (None, Some(a)) => Some(render(ns, a) :+ "insert")
            case (Some(_), None) =>
              Some((k +: ns.tail.map(_ => null)) :+ "delete")
            case (Some(b), Some(a)) if render(ns, b) != render(ns, a) =>
              Some(render(ns, a) :+ "update")
            case _ => None
          }
        }
        val feed = TxTableStack.changes(spark, root, v - 1, v, "k")
          .collect().map(_.toSeq).toSeq.sortBy(_.head.asInstanceOf[Long])
        assert(feed == want, s"changes(v${v - 1}, v$v) differs from the model")
      }
    }
  }
}
