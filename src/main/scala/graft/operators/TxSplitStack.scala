package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** STICKY dataset-split ledger under the [[Manifest]] commit protocol
  * — the stability face [[Sampling.assignSplitLeakFree]]'s scaladoc
  * caveats: the CC min-label representative CHANGES when a smaller id
  * joins a cluster, so re-running the leak-free split over a grown
  * corpus can move an entire cluster across the train/test cut —
  * silently invalidating every eval computed against the old split.
  * A dataset with versioned evals needs assignment to be WRITE-ONCE:
  * a document's split is drawn when it first arrives and never moves.
  *
  * The ledger is one asset family (`assign/v=V/bkt=B`, rows
  * (doc_id, split), pmod(doc_id, B), pinned in
  * [[Manifest.State.statsV]]). [[commitAssign]] takes the arrivals
  * and the CURRENT near-dup labels and draws each arrival's split as:
  * the stored split of its cluster's MINIMUM-id already-assigned
  * member (deterministic inheritance — leak-freedom against
  * everything already ingested), else the
  * [[Sampling.assignSplit]] ladder over its cluster representative
  * (leak-freedom within the batch). Stored rows ride through
  * untouched; re-delivered docs are absorbed by anti-join; the whole
  * batch is one versioned write + one swap, exactly-once by batch id.
  *
  * The tension this design makes EXPLICIT instead of hiding: sticky
  * assignment and leak-freedom cannot both survive a cluster MERGE
  * (two clusters assigned to different splits at different times, a
  * later arrival bridges them — re-drawing would break stability,
  * keeping both breaks leak-freedom). [[quarantine]] is the honest
  * resolution: list every assigned doc whose current cluster carries
  * ≥ 2 distinct stored splits, for eval-time exclusion — the
  * downstream consumer decides, with the conflict visible, instead
  * of a silent leak or a silent re-shuffle. */
object TxSplitStack {

  /** Assignments per bucket in `statsV`, conflicts in `auxV`. */
  private[operators] val families: Seq[Manifest.Family] = Seq(
    Manifest.Bucketed("assign", _.statsV),
    Manifest.Bucketed("conflict", _.auxV))

  private val AssignCols = StructType.fromDDL("doc_id BIGINT, split STRING, bkt INT")
  private val ConflictCols =
    StructType.fromDDL("doc_id BIGINT, split STRING, cl BIGINT, bkt INT")

  private def bktOf(c: org.apache.spark.sql.Column, buckets: Int) =
    pmod(c, lit(buckets.toLong)).cast("int")

  /** Create an empty ledger: first manifest pins nothing. */
  def init(spark: SparkSession, root: String): Unit =
    Manifest.create(spark, root, s"split ledger already initialized at $root")(
      Manifest.State(0L, -1L, -1L, Map.empty))

  private def readAssigned(spark: SparkSession, root: String,
                           st: Manifest.State,
                           restrict: Option[Seq[Int]]): DataFrame =
    Manifest.readBucketed(spark, root, "assign", st.statsV, restrict,
      AssignCols)

  /** The committed assignment (doc_id, split), optionally pinned to a
    * snapshot `version` — the exact split an old eval ran against is
    * always reconstructible. */
  def resolve(spark: SparkSession, root: String,
              version: Option[Long] = None): DataFrame =
    readAssigned(spark, root, Manifest.stateAt(spark, root, version),
      None).drop("bkt")

  /** CHANGE DATA FEED between two committed cuts of the assignment
    * ledger — which (doc_id, split) rows a downstream consumer (the
    * eval runner shipping new train/val/test members) must pick up,
    * classified `insert` / `delete` / `update` with the after-image
    * split riding along (null on delete). The pin diff bounds the
    * read to re-pinned buckets at both cuts
    * ([[Manifest.repinnedBuckets]]).
    *
    * The WRITE-ONCE contract makes this feed insert-only in normal
    * operation: stored rows never move, so `update` / `delete` rows
    * signal a takedown face this ledger does not have yet — a
    * consumer can treat them as alarms. A [[rebucket]] migration
    * re-pins every bucket with identical content: the feed across it
    * correctly emits NOTHING (row equality, not pin equality, decides
    * — one O(ledger) read, the migration's own amortized cost). */
  def changes(spark: SparkSession, root: String, fromVersion: Long,
              toVersion: Long): DataFrame = {
    val (stF, stT) = Manifest.changeWindow(spark, root, fromVersion, toVersion)
    val changed = Manifest.repinnedBuckets(stF.statsV, stT.statsV)
    val before = readAssigned(spark, root, stF, Some(changed))
      .select(col("doc_id"), col("split").as("_fs"))
    val after = readAssigned(spark, root, stT, Some(changed))
      .select(col("doc_id"), col("split"))
    before.join(after, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        when(col("_fs").isNull, lit("insert"))
          .when(col("split").isNull, lit("delete"))
          .when(col("split") =!= col("_fs"), lit("update")).as("change"),
        col("split"))
      .filter(col("change").isNotNull)
  }

  /** The incrementally-maintained CONFLICT family (doc_id, split, cl,
    * bkt): rows for every assigned doc whose cluster was found
    * split-conflicted the last time a commit touched it. Doc-bucketed
    * like the assignment family, pinned in [[Manifest.State.auxV]]. */
  private def readConflicts(spark: SparkSession, root: String,
                            st: Manifest.State,
                            restrict: Option[Seq[Int]]): DataFrame =
    Manifest.readBucketed(spark, root, "conflict", st.auxV, restrict,
      ConflictCols)

  /** Assign `arrivals` (a frame with `idCol`) under the CURRENT
    * near-dup `labels` ((id, cluster) — [[Dedup.connectedComponents]]
    * over everything ingested so far, the dedup stage's artifact).
    * Already-assigned docs are skipped whole (write-once); the rest
    * draw by inheritance-then-ladder (scaladoc above). One commit:
    * the touched buckets' replacement = stored rows ∪ new rows.
    * Idempotent by batch id; `publish = false` is the crash face.
    *
    * Scale shape — every ledger read is O(touched): the
    * already-assigned anti-join reads the arrivals' elected buckets,
    * and the INHERITANCE leg first narrows `labels` to the arrival
    * clusters' members (bounded by the labels frame, itself the dedup
    * stage's artifact), elects THOSE members' buckets (≤ B collect),
    * and reads only those pinned paths — a batch never scans the
    * corpus-sized assignment ledger. */
  def commitAssign(spark: SparkSession, root: String, arrivals: DataFrame,
                   labels: DataFrame, batchId: Long, idCol: String,
                   splits: Seq[(String, Double)], buckets: Int,
                   salt: String = "graft",
                   publish: Boolean = true): Boolean =
    Manifest.commitGuard(spark, root, batchId, publish)(
      throw Manifest.notInitialized("split ledger", root)) { (st, vNew) =>
    // LAZY checkpoints throughout this face: each one's very next
    // election collect computes every partition (distinct drains the
    // frame), materializing the blocks in the SAME action instead of
    // a checkpoint-then-collect pair (guide §2.4)
    val ids = arrivals.select(col(idCol).as("doc_id")).distinct()
      .withColumn("bkt", bktOf(col("doc_id"), buckets))
      .localCheckpoint(eager = false)
    val lab = labels.select(col("id").as("doc_id"),
      col("cluster").as("cl"))
    // the member frame for the inheritance read, derived from ALL
    // arrivals' clusters rather than just the not-yet-assigned ones:
    // identical in the write-once normal case (every arrival in a
    // non-replayed batch is fresh — a replayed batch absorbs at the
    // high-water mark before this), a correct SUPERSET otherwise (an
    // already-assigned arrival's cluster members ride the pruned
    // reads and the audit verbatim). Deriving it without the stored
    // anti-join frees the member election from the touched-set
    // dependency, so ONE tagged collect below elects BOTH bucket sets
    // — arrival buckets + member buckets — in a single action where
    // the former pair ran two (guide §2.4).
    val arrivalClsAll = ids.join(lab, Seq("doc_id"), "left")
      .select(coalesce(col("cl"), col("doc_id")).as("cl")).distinct()
    val memberIds = lab.join(arrivalClsAll, Seq("cl"), "left_semi")
      .localCheckpoint(eager = false) // materialized by the election
    val election = ids.select(col("bkt"), lit(0).as("_s"))
      .unionByName(memberIds
        .select(bktOf(col("doc_id"), buckets).as("bkt"), lit(1).as("_s")))
      .distinct().collect()
    val touched = election.filter(_.getInt(1) == 0)
      .map(_.getInt(0)).toSeq
    val mBkts = election.filter(_.getInt(1) == 1)
      .map(_.getInt(0)).toSeq
    if (touched.isEmpty)
      // empty arrivals still advance the high-water mark (replay safe)
      st.copy(version = vNew, batchId = batchId)
    else {
    // arrivals not yet assigned, with their cluster (own id when
    // unclustered — the same fallback the leak-free split uses)
    val newIds = ids
      .join(readAssigned(spark, root, st, Some(touched))
        .select("doc_id"), Seq("doc_id"), "left_anti")
      .join(lab, Seq("doc_id"), "left")
      .select(col("doc_id"), col("bkt"),
        coalesce(col("cl"), col("doc_id")).as("cl"))
    // inheritance: the stored split of the cluster's minimum-id
    // already-assigned member (deterministic, order-free). The read
    // prunes to the member buckets elected above (≤ B), opening only
    // those pinned paths — never the whole ledger.
    val storedMembers = readAssigned(spark, root, st, Some(mBkts))
      .drop("bkt")
      .join(memberIds, Seq("doc_id"))
      // feeds the inheritance fold AND the conflict audit; lazy — the
      // inheritance fold inside drawn's EAGER checkpoint materializes
      // it, the conflict audit reuses the blocks
      .localCheckpoint(eager = false)
    val clusterStored = storedMembers
      .groupBy("cl")
      .agg(min(struct(col("doc_id"), col("split"))).as("_m"))
      .select(col("cl"), col("_m.split").as("_inherit"))
    val drawn = Sampling.assignSplit(
      newIds.join(clusterStored, Seq("cl"), "left"),
      col("cl"), splits, salt, outCol = "_ladder")
      .select(col("doc_id"), col("cl"),
        coalesce(col("_inherit"), col("_ladder")).as("split"),
        col("bkt"))
      .localCheckpoint()
    val newRows = drawn.select("doc_id", "split", "bkt")
    val replaced = readAssigned(spark, root, st, Some(touched))
      .unionByName(newRows)
    // the assign-family write and the conflict audit both read only
    // the COMMITTED state plus the checkpointed storedMembers/drawn,
    // and write DISJOINT families published by the one pointer swap —
    // order-free, so the two legs overlap (guide §2.6 / Par scaladoc)
    val (pins, auxPins) = Par.both(
      Manifest.writeRepin(replaced, "assign", root, vNew,
        touched, st.statsV),
      {
        // INCREMENTAL conflict maintenance: merge conflicts can only be
        // CREATED by a commit (an arrival's labels bridging
        // differently-assigned clusters), so re-auditing exactly the
        // batch's clusters here keeps [[quarantineIncremental]]'s serve
        // O(conflicted) instead of [[quarantine]]'s O(ledger) scan. The
        // member assignments (stored ∪ just-drawn) decide each touched
        // cluster's status; member docs' conflict rows REPLACE wholesale
        // — a cluster audited clean drops its members' stale rows.
        val memberAssigned = storedMembers
          .unionByName(drawn.select("doc_id", "split", "cl"))
        val confCl = memberAssigned.groupBy("cl")
          .agg(count_distinct(col("split")).as("_k"))
          .filter(col("_k") > 1).select("cl")
        val confRows = memberAssigned.join(confCl, Seq("cl"), "left_semi")
          .select(col("doc_id"), col("split"), col("cl"))
          .withColumn("bkt", bktOf(col("doc_id"), buckets))
        // memberAssigned = storedMembers (buckets ⊆ mBkts by its
        // pruned read) ∪ drawn (buckets ⊆ touched by construction), so
        // mBkts ∪ touched is a SUPERSET of the exact touched set —
        // correct by the ride-through law (an extra bucket's stored
        // rows survive the anti-join verbatim and re-pin with
        // identical content; an extra bucket with no rows is a no-op)
        // — and costs no election action where the former exact
        // distinct-collect re-ran the member plan per commit (§2.4)
        val touchedC = (mBkts ++ touched).distinct
        val replacedC = readConflicts(spark, root, st, Some(touchedC))
          .join(memberAssigned.select("doc_id"), Seq("doc_id"),
            "left_anti")
          .unionByName(confRows)
        Manifest.writeRepin(replacedC, "conflict", root, vNew,
          touchedC, st.auxV)
      })
    st.copy(version = vNew, batchId = batchId, statsV = pins,
      auxV = auxPins)
    }
    }

  /** The incrementally-maintained quarantine serve — equal to
    * [[quarantine]] whenever every conflicted cluster was touched (its
    * bridging labels passed to some [[commitAssign]]) since its last
    * merge, which is the natural cadence: a merge IS an arrival's
    * labels, and that arrival's commit audits the cluster. Reads ONLY
    * the pinned conflict rows — O(conflicted), never the assignment
    * ledger. Contract, stated: each cluster's status is as of the
    * labels the LAST commit touching it passed; labels that merge
    * already-stored clusters WITHOUT any arrival are only visible to
    * the full-scan [[quarantine]]. */
  def quarantineIncremental(spark: SparkSession, root: String,
                            version: Option[Long] = None): DataFrame =
    readConflicts(spark, root,
      Manifest.stateAt(spark, root, version), None).drop("bkt")

  /** The MERGE-CONFLICT quarantine: every assigned doc whose current
    * cluster (under `labels`) carries ≥ 2 distinct stored splits —
    * the docs an eval must exclude to stay leak-free without breaking
    * anyone's stored assignment. Returns (doc_id, split, cl). Empty
    * when no merge ever bridged differently-assigned clusters. */
  def quarantine(spark: SparkSession, root: String,
                 labels: DataFrame): DataFrame = {
    val assigned = resolve(spark, root)
    val lab = labels.select(col("id").as("doc_id"),
      col("cluster").as("cl"))
    val withCl = assigned.join(lab, Seq("doc_id"), "left")
      .select(col("doc_id"), col("split"),
        coalesce(col("cl"), col("doc_id")).as("cl"))
    val conflicted = withCl.groupBy("cl")
      .agg(count_distinct(col("split")).as("_k"))
      .filter(col("_k") > 1)
      .select("cl")
    withCl.join(conflicted, Seq("cl"), "left_semi")
      .select("doc_id", "split", "cl")
  }

  /** Transactional RE-BUCKET — [[TxSketchStack.rebucket]]'s twin for
    * the split ledger: every committed assignment row (and every
    * conflict row) re-derives `bkt` under B′ and lands at one fresh
    * version, both pin maps move wholesale, one swap. The cure for the
    * undersized-B law the probe measures: with B fixed while the
    * corpus grows, each batch's touched-bucket replacement rewrites
    * ledger/B rows per bucket — B′ ∝ corpus restores write ∝ batch.
    * Callers pass B′ to every subsequent commit — the shared
    * migration contract. O(ledger) by definition, amortized. */
  def rebucket(spark: SparkSession, root: String,
               newBuckets: Int, publish: Boolean = true): Boolean = {
    require(newBuckets > 0, "newBuckets must be positive")
    Manifest.transact(spark, root, publish)(
      Manifest.stateAt(spark, root, None)) { (st, vNew) =>
      Option.when(st.statsV.nonEmpty) {
        def move(read: DataFrame, family: String): Map[Int, Long] =
          Manifest.moveFamily(
            read.withColumn("bkt", bktOf(col("doc_id"), newBuckets)),
            family, root, vNew)
        // both legs read only the COMMITTED state and write disjoint
        // families published by the one swap — order-free, overlap them
        // (guide §2.6 / Par scaladoc)
        val (pins, auxPins) = Par.both(
          move(readAssigned(spark, root, st, None), "assign"),
          if (st.auxV.isEmpty) st.auxV
          else move(readConflicts(spark, root, st, None), "conflict"))
        st.copy(version = vNew, statsV = pins, auxV = auxPins)
      }
    }
  }

  /** [[TxServeStack.vacuum]]'s twin for the assignment ledger. */
  def vacuum(spark: SparkSession, root: String,
             retainVersions: Int = 0): TxServeStack.VacuumStats =
    Manifest.vacuum(spark, root, retainVersions, families)
}
