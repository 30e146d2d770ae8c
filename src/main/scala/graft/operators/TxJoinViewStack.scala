package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** CHANGE-FEED-MAINTAINED MATERIALIZED JOIN VIEW across TWO upstream
  * stacks — the delta-join face of incremental view maintenance:
  * the doc-level join of the lexical serve stack's document norms
  * ([[TxServeStack.docChanges]] — which docs are indexed, and how many
  * tokens each carries) with the split ledger's assignment
  * ([[TxSplitStack.changes]] — which cut of train/val/test each doc
  * belongs to). The rollup it exists to serve — documents and tokens
  * per split over the CURRENTLY-indexed corpus — is the admission
  * dashboard a training-data platform reads before every packing run.
  *
  * Classical IVM for a join maintains Δ(A ⋈ B) = ΔA ⋈ B ∪ A ⋈ ΔB ∪
  * ΔA ⋈ ΔB — each delta must be joined against the OTHER side's full
  * relation. This stack avoids re-reading either upstream at refresh
  * time the same way [[TxViewStack]] does: its single asset family is
  * the FULL OUTER mirror of both sides' current rows, co-bucketed by
  * the join key — (doc_id, split NULLABLE, dl NULLABLE). A feed row
  * from either side upserts ITS columns inside exactly the key's
  * bucket; the other side's columns ride through verbatim, so the
  * "join the delta against the other relation" read IS the pruned
  * member-bucket read. A row lives while either side claims it; the
  * inner-join face filters both-present at serve time, and the
  * OUTER faces are first-class: `indexed_only` (docs the index serves
  * that no split has admitted — un-servable for training) and
  * `assigned_only` (split rows whose document was taken down — the
  * retention audit). Maintenance is O(feed + touched buckets); serve
  * is O(buckets read); nothing ever scales with either upstream's
  * corpus except the one-time [[build]].
  *
  * The view rides the [[Manifest]] protocol unchanged — per-bucket
  * MVCC pins in `statsV`, ONE atomic swap per refresh, snapshot reads,
  * vacuum — and carries TWO replay cursors, one per upstream:
  * `State.baseV` is the lexical-stack version the view is current as
  * of, `State.baseBatch` the split-ledger version (the field names
  * come from the compaction-base pointer this stack does not have;
  * the manifest format is shared). Each refresh face advances its own
  * cursor exactly-once — a replayed window (`toVersion` at or below
  * the cursor) returns false and changes nothing — so the two
  * consumer loops can run on independent cadences and interleave
  * freely: the view is always SOME product of one cut per upstream,
  * and which pair is stamped in the manifest.
  *
  * No reference counterpart (jurimetria-etl has no materialized-view
  * surface); the shape follows published IVM + table-format CDF
  * designs, independently implemented.
  */
object TxJoinViewStack {

  private[operators] val families: Seq[Manifest.Family] =
    Seq(Manifest.Bucketed("members", _.statsV))

  /** Member rows (doc_id, split, dl, bkt); split and dl are null on
    * the side no upstream claims. */
  private val MemberCols = org.apache.spark.sql.types.StructType.fromDDL(
    "doc_id BIGINT, split STRING, dl BIGINT, bkt INT")

  private def bktOf(c: Column, buckets: Int): Column =
    pmod(xxhash64(c), lit(buckets.toLong)).cast("int")

  /** The indexed documents of a lexical cut, with their norms:
    * (doc_id, dl) — dl rides every posting row (norms-in-the-index),
    * so this is one grouped pass over the live postings. */
  private def lexDocs(spark: SparkSession, lexRoot: String,
                      atVersion: Long): DataFrame =
    TxServeStack.resolve(spark, lexRoot, version = Some(atVersion))._1
      .groupBy("doc_id").agg(max(col("dl")).as("dl"))

  /** One-time full materialization at a cut PAIR (one version per
    * upstream, default both heads): the full-outer mirror of the
    * lexical cut's (doc_id, dl) against the split cut's
    * (doc_id, split), co-bucketed by doc_id — the only corpus-sized
    * pass this stack ever takes. Returns the (lexVersion,
    * splitVersion) pair the committed cursors stamp. */
  def build(spark: SparkSession, viewRoot: String, lexRoot: String,
            splitRoot: String, buckets: Int,
            atLexVersion: Option[Long] = None,
            atSplitVersion: Option[Long] = None): (Long, Long) = {
    val st = Manifest.create(spark, viewRoot,
        s"join view already built at $viewRoot — refresh instead") {
      def headOf(root: String): Long =
        Manifest.read(spark, root).getOrElse(
          throw new IllegalStateException(
            s"no committed upstream manifest at $root")).version
      val lexV = atLexVersion.getOrElse(headOf(lexRoot))
      val splV = atSplitVersion.getOrElse(headOf(splitRoot))
      val members = lexDocs(spark, lexRoot, lexV)
        .join(TxSplitStack.resolve(spark, splitRoot, Some(splV)),
          Seq("doc_id"), "full_outer")
        .select(col("doc_id"), col("split"), col("dl"))
        .withColumn("bkt", bktOf(col("doc_id"), buckets))
      val pins = Manifest.moveFamily(members, "members", viewRoot,
        Manifest.attemptVersion(0L))
      Manifest.State(0L, 0L, -1L, pins, baseV = lexV, baseBatch = splV)
    }
    (st.baseV, st.baseBatch)
  }

  /** The shared one-sided refresh kernel: apply `feed` (doc_id + this
    * side's after-image columns, classified insert/update/delete) to
    * the touched member buckets — this side's columns replace, the
    * other side's ride through, a row with NEITHER side left drops —
    * then commit with `advance` stamping the moved cursor. An empty
    * feed window still advances (an upstream maintenance rewrite must
    * not wedge the consumer loop). */
  private def applyFeed(spark: SparkSession, viewRoot: String,
                        feed: Manifest.State => DataFrame, setCol: String,
                        buckets: Int, publish: Boolean,
                        replayed: Manifest.State => Boolean,
                        advance: Manifest.State => Manifest.State): Boolean =
    Manifest.transact(spark, viewRoot, publish)(
      throw new IllegalStateException(
        s"join view not built at $viewRoot — call build first")) {
      (st, vNew) =>
        Option.when(!replayed(st)) {
          // feed-sized; feeds election + merge. LAZY: the election
          // collect right below drains every partition, so it
          // materializes the checkpoint in the same action (guide §2.4)
          val f = feed(st)
            .withColumn("bkt", bktOf(col("doc_id"), buckets))
            .localCheckpoint(eager = false)
          val touched = Manifest.elect(f, col("bkt"))
          val next =
            if (touched.isEmpty) st
            else {
              val keepCol = if (setCol == "dl") "split" else "dl"
              val replaced = Manifest.readBucketed(spark, viewRoot,
                  "members", st.statsV, Some(touched), MemberCols)
                .drop("bkt")
                .withColumnRenamed(setCol, "_old")
                .join(f.select(col("doc_id"), col("change"),
                  col(setCol).as("_new")), Seq("doc_id"), "full_outer")
                .withColumn(setCol,
                  when(col("change").isNull, col("_old"))
                    .when(col("change") === "delete",
                      lit(null).cast(if (setCol == "dl") "long" else "string"))
                    .otherwise(col("_new")))
                .filter(col("dl").isNotNull || col(keepCol).isNotNull)
                .select(col("doc_id"), col("split"), col("dl"))
                .withColumn("bkt", bktOf(col("doc_id"), buckets))
              st.copy(statsV = Manifest.writeRepin(replaced, "members",
                viewRoot, vNew, touched, st.statsV))
            }
          advance(next).copy(version = vNew, batchId = vNew)
        }
    }

  /** Advance the LEXICAL side to the upstream cut `toVersion` by the
    * doc-level change feed alone ([[TxServeStack.docChanges]] with
    * `stats = true` — the dl after-image rides the feed): inserts and
    * updates set the member's dl, deletes null it (the row survives
    * while a split still claims it — the `assigned_only` audit face),
    * members the feed never named ride through verbatim. Exactly-once
    * by the lexical cursor. */
  def refreshLex(spark: SparkSession, viewRoot: String, lexRoot: String,
                 toVersion: Long, lexDocBuckets: Int, buckets: Int,
                 publish: Boolean = true): Boolean =
    applyFeed(spark, viewRoot,
      st => TxServeStack.docChanges(spark, lexRoot, st.baseV, toVersion,
          lexDocBuckets, stats = true)
        .select(col("doc_id"), col("change"), col("dl_after").as("dl")),
      "dl", buckets, publish,
      replayed = st => toVersion <= st.baseV,
      advance = st => st.copy(baseV = toVersion))

  /** Advance the SPLIT side to the upstream cut `toVersion` by the
    * assignment change feed alone ([[TxSplitStack.changes]] — the
    * after-image split rides the feed): inserts set the member's
    * split (the write-once ledger's normal face), deletes null it,
    * the dl column rides through. Exactly-once by the split cursor. */
  def refreshSplit(spark: SparkSession, viewRoot: String,
                   splitRoot: String, toVersion: Long, buckets: Int,
                   publish: Boolean = true): Boolean =
    applyFeed(spark, viewRoot,
      st => TxSplitStack.changes(spark, splitRoot, st.baseBatch, toVersion)
        .select(col("doc_id"), col("change"), col("split")),
      "split", buckets, publish,
      replayed = st => toVersion <= st.baseBatch,
      advance = st => st.copy(baseBatch = toVersion))

  /** Member rows of a committed cut — optionally a snapshot
    * `version`. */
  def members(spark: SparkSession, root: String,
              version: Option[Long] = None): DataFrame =
    Manifest.readBucketed(spark, root, "members",
      Manifest.stateAt(spark, root, version).statsV, None, MemberCols)
      .drop("bkt")

  /** The INNER-join rollup the view exists to serve: per split,
    * document and token totals over members BOTH sides claim —
    * indexed AND admitted, the packable corpus per cut. */
  def serveTokens(spark: SparkSession, root: String,
                  version: Option[Long] = None): DataFrame =
    members(spark, root, version)
      .filter(col("dl").isNotNull && col("split").isNotNull)
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("n_tokens"))

  /** The AUDIT rollup over ALL members, classified by which sides
    * claim each: `joined` (packable), `indexed_only` (served by the
    * index, admitted by no split — the consumer-lag/unassigned face),
    * `assigned_only` (split rows whose document was taken down — the
    * retention audit). Token totals count only rows with a norm. */
  def serveLag(spark: SparkSession, root: String,
               version: Option[Long] = None): DataFrame =
    members(spark, root, version)
      .groupBy(when(col("dl").isNotNull && col("split").isNotNull,
          lit("joined"))
        .when(col("dl").isNotNull, lit("indexed_only"))
        .otherwise(lit("assigned_only")).as("status"))
      .agg(count(lit(1)).as("n_docs"),
        coalesce(sum(col("dl")), lit(0L)).as("n_tokens"))

  /** Garbage-collect unpinned member versions and retire history below
    * the retention floor. */
  def vacuum(spark: SparkSession, root: String,
             retainVersions: Int = 0): TxServeStack.VacuumStats =
    Manifest.vacuum(spark, root, retainVersions, families)
}
