package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** The SEMANTIC-DEDUP family under the [[Manifest]] commit protocol —
  * the transactional face of `streaming_semantic_ingest`'s drain,
  * which maintains THREE mutually-derived assets per micro-batch:
  *
  *  - the label ledger BY ID (`labels/v=V/bkt=B`, bkt = pmod(id, B)) —
  *    the seen check, the endpoint-label lookups, the authoritative
  *    output; pinned per-bucket in [[Manifest.State.statsV]];
  *  - the SAME facts keyed BY CLUSTER
  *    (`labels_by_cluster/v=V/bkt=B`, bkt = pmod(cluster, B)) — the
  *    relabel side, where touched COMPONENTS' members are found by
  *    cluster key; pinned in [[Manifest.State.auxV]];
  *  - the block index (`blkidx/base/v=0` + `blkidx/batch=N`,
  *    bkt = pmod(xxhash64(blk), B)) — append-only PQ-prefix blocking
  *    rows; the base pointer + batch-id window, like postings.
  *
  * The in-place drain commits these with three independent dynamic
  * overwrites — a crash between them leaves the dual-keyed label views
  * DISAGREEING (the fact table forked), and the replayed batch's
  * seen-check/lookup reads run against the half-mutated state. Under
  * the protocol every write lands at a fresh versioned path, one swap
  * publishes all three, and a replayed batch re-derives from the
  * committed cut — the torn window is structurally gone. Per-bucket
  * MVCC also absorbs the one layout hazard the in-place drain had to
  * special-case: a touched cluster-bucket whose every row migrated out
  * simply UNPINS (the in-place form had to delete the stale directory
  * behind dynamic overwrite's back).
  *
  * Scale shape unchanged: all reads pruned to elected buckets at the
  * PATH level, writes ∝ touched buckets, incremental CC label-graph-
  * sized ([[Dedup.connectedComponentsIncrementalDelta]]).
  */
object TxSemanticStack {

  /** The by-id label view per bucket in `statsV`, the by-cluster view
    * in `auxV`; block-index rows and takedown tombstones under the base
    * pointer + batch window. */
  private[operators] val families: Seq[Manifest.Family] = Seq(
    Manifest.Bucketed("labels", _.statsV),
    Manifest.Bucketed("labels_by_cluster", _.auxV),
    Manifest.Appended("blkidx"), Manifest.Appended("deletes"))

  private val LabelCols = StructType.fromDDL("id BIGINT, cluster BIGINT, bkt INT")
  private val BlockCols = StructType.fromDDL("id BIGINT, blk STRING, bkt INT")

  private def ibktOf(buckets: Int) =
    pmod(col("id"), lit(buckets.toLong)).cast("int")
  private def cbktOf(buckets: Int) =
    pmod(col("cluster"), lit(buckets.toLong)).cast("int")
  private def kbktOf(buckets: Int) =
    pmod(xxhash64(col("blk")), lit(buckets.toLong)).cast("int")

  /** Create the stack from a batch-built base: the label ledger
    * (id, cluster) lands in BOTH keyed layouts at v=0 and the block
    * index (id, blk) as the blkidx base; one commit pins all three. */
  def init(spark: SparkSession, root: String, ledger: DataFrame,
           blockIndex: DataFrame, buckets: Int): Unit =
    Manifest.create(spark, root,
        s"semantic stack already initialized at $root") {
      val l = ledger.select(col("id"), col("cluster")).localCheckpoint()
      val (byId, byCluster) = (s"$root/labels/v=0", s"$root/labels_by_cluster/v=0")
      // three disjoint family writes published by the ONE commit —
      // order-free, overlap them (guide §2.6); l is EAGER above because
      // two legs consume it concurrently
      Par.all[Any](
        () => Manifest.writeBuckets(l.withColumn("bkt", ibktOf(buckets)), byId),
        () => Manifest.writeBuckets(l.withColumn("bkt", cbktOf(buckets)),
          byCluster),
        () => Manifest.writeBuckets(blockIndex.select(col("id"), col("blk"))
          .withColumn("bkt", kbktOf(buckets)), s"$root/blkidx/base/v=0"))
      // pin what the writes landed (driver listings, no Spark action)
      def pins(dir: String) = Manifest.writtenBuckets(spark, dir)
        .map(_ -> 0L).toMap
      Manifest.State(0L, -1L, -1L, pins(byId), baseV = 0L, baseBatch = -1L,
        auxV = pins(byCluster))
    }

  /** Pinned per-bucket read of one label family, path-pruned to
    * `restrict`'s buckets when given. */
  private def readPinned(spark: SparkSession, root: String,
                         family: String, pins: Map[Int, Long],
                         restrict: Option[Seq[Int]]): DataFrame =
    Manifest.readBucketed(spark, root, family, pins, restrict,
      LabelCols)

  /** Resolve the committed label ledger (id, cluster) — the
    * authoritative by-id view, optionally path-pruned to `idBuckets`
    * and/or pinned to a snapshot `version`. */
  def resolveLabels(spark: SparkSession, root: String,
                    idBuckets: Option[Seq[Int]] = None,
                    version: Option[Long] = None): DataFrame =
    readPinned(spark, root, "labels",
      Manifest.stateAt(spark, root, version).statsV, idBuckets)
      .select("id", "cluster")

  /** The by-cluster view of the same facts — exposed so consumers (and
    * the drift gate) can verify the dual-keyed views agree at every
    * committed cut, which the one-swap commit makes invariant. */
  def resolveLabelsByCluster(spark: SparkSession, root: String,
                             clusterBuckets: Option[Seq[Int]] = None,
                             version: Option[Long] = None): DataFrame =
    readPinned(spark, root, "labels_by_cluster",
      Manifest.stateAt(spark, root, version).auxV, clusterBuckets)
      .select("id", "cluster")

  /** The committed LIVE block index (id, blk), path-pruned to
    * `keyBuckets` (the batch's block keys' buckets) when given — the
    * ordered-liveness rule applied after the prune (a semantic no-op
    * on the blk-equi pair join). Removed ids' block rows never pair an
    * arriving batch again. */
  def resolveBlockIndex(spark: SparkSession, root: String,
                        keyBuckets: Option[Seq[Int]] = None,
                        version: Option[Long] = None): DataFrame = {
    val st = Manifest.stateAt(spark, root, version)
    // block rows carry batch provenance `_b`, so the takedown
    // tombstones are ORDERED like [[TxServeStack]]'s: a
    // takedown-then-re-ingest of an id just lands
    val all = Manifest.readAppended(spark, root, st, "blkidx", BlockCols)
    val pruned = keyBuckets match {
      case None => all
      case Some(bs) => all.filter(col("bkt").isin(bs.map(Int.box): _*))
    }
    Manifest.liveOnly(pruned, Manifest.readTombstones(spark, root, st, "id"),
        "id")
      .select("id", "blk")
  }

  /** One arrival batch through the protocol, the in-place drain's
    * exact dataflow with every read against the COMMITTED cut and
    * every write versioned: anti-join already-seen ids (their own
    * id-buckets only), encode the fresh rows against the FROZEN
    * `codebooks`, block vs the stored index (batch block-keys'
    * buckets only) + within the batch, merge incident edges with
    * label-graph-sized incremental CC, land the touched cluster- and
    * id-buckets' replacement content at v=N and the block delta at
    * `blkidx/batch=N`, swap ONCE. Exactly-once by batch id;
    * `publish = false` is the crash face. */
  def commitBatch(spark: SparkSession, root: String, batch: DataFrame,
                  batchId: Long, codebooks: DataFrame, corpus: DataFrame,
                  idCol: String, vecCol: String, threshold: Double,
                  prefix: Int, buckets: Int,
                  publish: Boolean = true): Boolean =
    Manifest.commitGuard(spark, root, batchId, publish)(
      throw Manifest.notInitialized("semantic stack", root)) { (st, vNew) =>
    // LAZY checkpoints in this face: each frame's very next bucket
    // election (or an eager downstream checkpoint) drains it, so the
    // materialization fuses into that action (guide §2.4)
    val bIds = batch.select(col(idCol)).distinct()
      .localCheckpoint(eager = false)
    // seen check: batch ids can only live in their own id-buckets
    val seen = readPinned(spark, root, "labels", st.statsV,
      Some(Manifest.elect(bIds, pmod(col(idCol), lit(buckets.toLong)).cast("int"))))
      .select(col("id").as(idCol))
    val fresh = batch.join(seen, Seq(idCol), "left_anti")
      .localCheckpoint(eager = false)
    val bIdx = Similarity.semanticBlockIndex(fresh, codebooks,
      idCol, vecCol, prefix).localCheckpoint(eager = false)
    // pair join: only the batch's block keys' buckets are probed
    val sIdx = resolveBlockIndex(spark, root,
      Some(Manifest.elect(bIdx, kbktOf(buckets))))
    val incident = Similarity.semanticPqPairsAgainst(bIdx, sIdx,
        corpus, idCol, vecCol, threshold)
      .unionByName(Similarity.semanticPqPairs(fresh, codebooks, idCol,
        vecCol, threshold, prefix))
      .localCheckpoint(eager = false)
    // endpoint-label lookup: endpoints' id-buckets only
    val ends = incident.select(col("a_id").as("id"))
      .unionByName(incident.select(col("b_id").as("id"))).distinct()
    val lookup = readPinned(spark, root, "labels", st.statsV,
      Some(Manifest.elect(ends, ibktOf(buckets)))).select("id", "cluster")
    val (mapping0, fresh0) = Dedup.connectedComponentsIncrementalDelta(
      lookup, fresh.select(col(idCol)), idCol, incident, "a_id", "b_id")
    val mapping = mapping0.localCheckpoint(eager = false)
    val freshLb = fresh0.localCheckpoint(eager = false)
    // touched CLUSTER buckets: old labels, their new labels, and the
    // fresh rows' labels — every bucket whose content changes
    val tcb = (Manifest.elect(mapping,
        pmod(col("_old"), lit(buckets.toLong)).cast("int")) ++
      Manifest.elect(mapping, pmod(col("_new"), lit(buckets.toLong)).cast("int")) ++
      Manifest.elect(freshLb, cbktOf(buckets))).distinct
    var idPins = st.statsV
    var clPins = st.auxV
    if (tcb.nonEmpty) {
      val relabel: DataFrame => DataFrame = df => df
        .join(broadcast(mapping), df("cluster") === col("_old"), "left")
        .select(df("id"),
          coalesce(col("_new"), df("cluster")).as("cluster"))
      // by-cluster replacement: touched components' member rows are IN
      // the touched cluster-buckets by construction (a row's bucket
      // only changes when its label does, and both old and new label
      // buckets are in tcb); reads come from the PINNED old versions,
      // so no self-overwrite checkpoint is needed
      // EAGER: oldCl feeds both parallel write legs below — a lazy
      // checkpoint would be raced by two concurrent materializers
      val oldCl = readPinned(spark, root, "labels_by_cluster", st.auxV,
        Some(tcb)).select("id", "cluster").localCheckpoint()
      // a touched cluster-bucket whose every row migrated out (and
      // gained none) has an empty replacement: it UNPINS — per-bucket
      // MVCC's answer to the stale-directory hazard the in-place
      // drain had to delete around ([[Manifest.writeRepin]]'s kernel)
      // the two label-family writes read only pinned old versions and
      // checkpointed frames, write DISJOINT families, and publish in
      // the one swap — order-free, overlap them (guide §2.6)
      val (cl2, id2) = Par.both(
        Manifest.writeRepin(
          relabel(oldCl).unionByName(freshLb)
            .withColumn("bkt", cbktOf(buckets)),
          "labels_by_cluster", root, vNew, tcb, st.auxV),
        {
          // by-id replacement: only the id-buckets holding a CHANGED
          // row or a fresh id rewrite (an id never changes ITS bucket)
          val changedRows = oldCl.join(broadcast(mapping),
              oldCl("cluster") === col("_old"))
            .select(oldCl("id"))
          val tib = (Manifest.elect(changedRows, ibktOf(buckets)) ++
            Manifest.elect(freshLb, ibktOf(buckets))).distinct
          Manifest.writeRepin(
            relabel(readPinned(spark, root, "labels", st.statsV,
                Some(tib)).select("id", "cluster"))
              .unionByName(freshLb)
              .withColumn("bkt", ibktOf(buckets)),
            "labels", root, vNew, tib, st.statsV)
        })
      clPins = cl2
      idPins = id2
    }
    // block-index delta append: O(batch) rows, the positional posture
    Manifest.writeBuckets(bIdx.withColumn("bkt", kbktOf(buckets)),
      s"$root/blkidx/batch=$batchId")
    st.copy(version = vNew, batchId = batchId, statsV = idPins,
      auxV = clPins)
    }

  /** TRANSACTIONAL TAKEDOWN — [[Similarity.semanticClustersRemove]]'s
    * dataflow under the protocol, in ONE commit: removing a vector can
    * SPLIT its component (it may be the only cosine bridge), so the
    * touched components' surviving members genuinely re-pair (via the
    * stored block index + exact-cosine confirm) and re-propagate —
    * a label mapping cannot express it. The commit writes: (1) a tiny
    * tombstone file at `deletes/batch=N` retiring the removed ids'
    * block-index rows at read (ORDERED — asof kills rows born before
    * it, so a takedown-then-re-ingest just lands); (2) the touched
    * cluster-buckets' replacement content on the by-cluster view —
    * old touched buckets ∪ the rebuilt labels' buckets, untouched
    * components riding through; (3) the touched id-buckets on the
    * by-id view (removed rows DROP, relabeled members update). One
    * swap publishes all three; crash anywhere leaves the pre-takedown
    * cut serving.
    *
    * Scale shape: removal + touched-cluster + member frames broadcast
    * (takedown batches are small by contract); label reads prune to
    * elected buckets; the one full-asset access is the members'
    * block-row semi-join (id-keyed access on the blk-bucketed index —
    * a slim (id, blk) scan, the same honest cost as the in-flow
    * face); re-propagation runs over touched-component pairs only.
    * Rebuilt labels are indistinguishable from never having ingested
    * the removed vectors — the gate's oracle. */
  def commitRemove(spark: SparkSession, root: String,
                   removals: DataFrame, batchId: Long, corpus: DataFrame,
                   idCol: String, vecCol: String, threshold: Double,
                   buckets: Int, publish: Boolean = true): Boolean =
    Manifest.commitGuard(spark, root, batchId, publish)(
      Manifest.stateAt(spark, root, None)) { (st, vNew) =>
    // LAZY: rm materializes inside its own bucket election; rmLabels
    // and touchedCl materialize inside tcbOld's election one line down
    // (guide §2.4). rm then has multiple consumers but is already
    // materialized by the election before any of them run.
    val rm = removals.select(col(idCol).as("id")).distinct()
      .localCheckpoint(eager = false)
    // removed ids' committed labels: their own id-buckets only
    val rmLabels = readPinned(spark, root, "labels", st.statsV,
        Some(Manifest.elect(rm, ibktOf(buckets))))
      .join(broadcast(rm), Seq("id"))
      .select("id", "cluster").localCheckpoint(eager = false)
    val touchedCl = rmLabels.select("cluster").distinct()
      .localCheckpoint(eager = false)
    val tcbOld = Manifest.elect(touchedCl,
      pmod(col("cluster"), lit(buckets.toLong)).cast("int"))
    // surviving members of touched components, found BY CLUSTER KEY
    val members = readPinned(spark, root, "labels_by_cluster", st.auxV,
        Some(tcbOld))
      .join(broadcast(touchedCl), Seq("cluster"))
      .join(broadcast(rm), Seq("id"), "left_anti")
      .select("id").localCheckpoint()
    // members' LIVE block rows (slim full-asset semi-join — id-keyed
    // access on the blk-bucketed index, the in-flow face's cost), then
    // re-pair within the touched components and re-propagate
    val mIdx = resolveBlockIndex(spark, root)
      .join(broadcast(members), Seq("id"))
      .select("id", "blk").localCheckpoint()
    val confirmed = Similarity.semanticPqPairsAgainst(mIdx, mIdx,
        corpus, idCol, vecCol, threshold)
      .filter(col("a_id") =!= col("b_id"))
    val rebuilt = Dedup.connectedComponents(confirmed, "a_id", "b_id")
      .select(col("id"), col("cluster").as("_nc"))
    val relabeled = members.join(rebuilt, Seq("id"), "left")
      .select(col("id"), coalesce(col("_nc"), col("id")).as("cluster"))
      .localCheckpoint()
    // the three asset legs read only checkpointed frames and pinned
    // old versions, write DISJOINT families, and publish in the one
    // swap — order-free, overlap them (guide §2.6 / Par scaladoc)
    val legs = Par.all[Any](() => {
      // (1) tombstones — retire the removed ids' block rows at read
      rm.write.mode("overwrite").parquet(s"$root/deletes/batch=$batchId")
    }, () => {
      // (2) by-cluster: old touched buckets lose their components'
      // rows (and the removed ids); the rebuilt labels' buckets gain
      // them
      val wb = (tcbOld ++ Manifest.elect(relabeled, cbktOf(buckets))).distinct
      Manifest.writeRepin(
        readPinned(spark, root, "labels_by_cluster", st.auxV, Some(wb))
          .join(broadcast(touchedCl), Seq("cluster"), "left_anti")
          .select("id", "cluster")
          .unionByName(relabeled)
          .withColumn("bkt", cbktOf(buckets)),
        "labels_by_cluster", root, vNew, wb, st.auxV)
    }, () => {
      // (3) by-id: removed ids' buckets (rows drop) + relabeled
      // members' buckets (labels update); a bucket emptied by the
      // removal unpins
      val tib = (Manifest.elect(rm, ibktOf(buckets)) ++
        Manifest.elect(members, ibktOf(buckets))).distinct
      val newLb = relabeled.select(col("id"), col("cluster").as("_nc"))
      Manifest.writeRepin(
        readPinned(spark, root, "labels", st.statsV, Some(tib))
          .join(broadcast(rm), Seq("id"), "left_anti")
          .join(broadcast(newLb), Seq("id"), "left")
          .select(col("id"),
            coalesce(col("_nc"), col("cluster")).as("cluster"))
          .withColumn("bkt", ibktOf(buckets)),
        "labels", root, vNew, tib, st.statsV)
    })
    val clPins = legs(1).asInstanceOf[Map[Int, Long]]
    val idPins = legs(2).asInstanceOf[Map[Int, Long]]
    st.copy(version = vNew, batchId = batchId, statsV = idPins,
      auxV = clPins)
    }

  /** [[TxServeStack.vacuum]]'s twin for the semantic stack: reclaim
    * superseded label-bucket versions on BOTH keyed views, crash
    * orphans, compacted-away block deltas, and history manifests below
    * the retention floor. */
  def vacuum(spark: SparkSession, root: String,
             retainVersions: Int = 0): TxServeStack.VacuumStats =
    Manifest.vacuum(spark, root, retainVersions, families)
}
