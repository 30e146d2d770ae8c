package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** The kNN-GRAPH ledger under the [[Manifest]] commit protocol — the
  * transactional face of `streaming_graph_ingest`'s drain, closing the
  * torn-commit window its in-place form carries: a dynamic partition
  * overwrite of N touched bucket directories is not atomic, and a
  * mid-write crash leaves the ledger half-replaced — fatal HERE
  * specifically, because a graph append is NOT idempotent by anti-join
  * (the recap derives each touched source's new edge list from its
  * STORED list, so a replay against partially-overwritten state
  * recaps garbage and commits it).
  *
  * Under the protocol the hazard disappears structurally: the graph is
  * ONE asset family (`edges/v=V/bkt=B`) under per-bucket MVCC —
  * [[Manifest.State.statsV]] pins each bucket at the version that last
  * replaced it — and a batch writes its touched buckets' replacement
  * content ([[Similarity.graphAppendBucketDelta]], the same
  * O(touched) read+write discipline) to the FRESH version directory
  * nothing pins, then ONE manifest swap re-pins exactly the touched
  * buckets. A crash anywhere before the swap leaves every committed
  * pin intact; the replayed batch re-derives its delta from the
  * COMMITTED cut (not the mutated one), overwrites the same fresh
  * paths, and commits once — exactly-once by batch-id high-water.
  * Snapshot reads ([[Manifest.readAt]]) and vacuum come free: every
  * commit freezes its pin map in an immutable history file.
  *
  * TAKEDOWN is the soft-delete design every other stack here uses,
  * adapted to a graph's two-sided rows: node tombstones live in a
  * second per-bucket-MVCC family (`tomb/v=V/bkt=B`, pinned in
  * [[Manifest.State.auxV]]) as (id, asof), and edge rows carry their
  * BIRTH batch (`b`) so the liveness rule is ORDERED on both
  * endpoints — an edge is dead iff either endpoint carries a
  * tombstone with asof > b. Ordering is what makes re-ingest after
  * takedown just work: the removed node's OLD rows (and every stale
  * in-edge pointing at it from untouched buckets — rows no bucket
  * prune could cheaply rewrite) stay dead forever, while the
  * re-inserted node's new edges are born past the tombstone.
  * [[commitRepair]] restores reachability into the orphaned
  * neighborhoods; [[compactEdges]] is the physical purge that also
  * retires the tombstone window.
  *
  * Scale shape is unchanged from the in-place drain (the protocol adds
  * two metadata files per commit): reads under literal `bkt IN`
  * partition filters over the pinned paths, writes ∝ touched buckets;
  * the tombstone family broadcasts by the compaction-cadence contract.
  */
object TxGraphStack {

  /** Edges per bucket in `statsV`, node tombstones in `auxV`. */
  private[operators] val families: Seq[Manifest.Family] = Seq(
    Manifest.Bucketed("edges", _.statsV), Manifest.Bucketed("tomb", _.auxV))

  private val EdgeCols = StructType.fromDDL(
    "src_id BIGINT, nbr_id BIGINT, cos DOUBLE, b BIGINT, bkt INT")
  private val TombCols = StructType.fromDDL("id BIGINT, asof BIGINT, bkt INT")

  private def bktOf(c: org.apache.spark.sql.Column, buckets: Int) =
    pmod(c, lit(buckets.toLong)).cast("int")

  /** Create the stack from a built base graph (src_id, nbr_id, cos):
    * all present buckets land at `edges/v=0` (birth batch −1) and the
    * first manifest pins them. `buckets` fixes the ledger's
    * pmod(src_id, B) layout — the same B every subsequent commit must
    * pass. */
  def init(spark: SparkSession, root: String, edges: DataFrame,
           buckets: Int): Unit =
    Manifest.create(spark, root,
        s"graph stack already initialized at $root") {
      val dir = s"$root/edges/v=0"
      Manifest.writeBuckets(Ledger.withBucket(
        edges.select(col("src_id"), col("nbr_id"), col("cos"),
          lit(-1L).as("b")),
        "src_id", buckets), dir)
      // pin what the ONE write landed (a driver listing, no Spark action)
      Manifest.State(0L, -1L, -1L,
        Manifest.writtenBuckets(spark, dir).map(_ -> 0L).toMap)
    }

  /** RAW committed edge rows (src_id, nbr_id, cos, b, bkt), each
    * bucket read at ITS pinned version; `restrict` prunes the read to
    * an elected bucket set at the PATH level (an unelected bucket's
    * directory is never listed — the serve-side O(touched) law).
    * Tombstoned rows included — [[liveEdges]] applies the rule. */
  private def readEdges(spark: SparkSession, root: String,
                        st: Manifest.State,
                        restrict: Option[Seq[Int]]): DataFrame =
    Manifest.readBucketed(spark, root, "edges", st.statsV, restrict,
      EdgeCols)

  /** Visible node tombstones (id, asof), each bucket at its pinned
    * version — tiny by the compaction-cadence contract. */
  private def readTombstones(spark: SparkSession, root: String,
                             st: Manifest.State,
                             restrict: Option[Seq[Int]] = None): DataFrame =
    Manifest.readBucketed(spark, root, "tomb", st.auxV, restrict, TombCols)

  /** The ordered two-endpoint rule, parameterized: `keepLive = true`
    * keeps edges NEITHER endpoint's tombstone postdates (the serve
    * side); `false` keeps the complement — the DEAD rows, which are
    * not garbage: a dead row S→X is [[commitRepair]]'s evidence that
    * S lost an out-edge, so bucket rewrites must carry touched
    * sources' dead rows through untouched. The tombstone side
    * broadcasts. */
  private def edgesWhere(raw: DataFrame, tomb: DataFrame,
                         keepLive: Boolean): DataFrame = {
    val alive = (col("_sa").isNull || col("b") >= col("_sa")) &&
      (col("_na").isNull || col("b") >= col("_na"))
    raw
      .join(broadcast(tomb.select(col("id").as("src_id"),
        col("asof").as("_sa"))), Seq("src_id"), "left_outer")
      .join(broadcast(tomb.select(col("id").as("nbr_id"),
        col("asof").as("_na"))), Seq("nbr_id"), "left_outer")
      .filter(if (keepLive) alive else !alive)
      .select(col("src_id"), col("nbr_id"), col("cos"), col("b"),
        col("bkt"))
  }

  private def liveEdges(raw: DataFrame, tomb: DataFrame): DataFrame =
    edgesWhere(raw, tomb, keepLive = true)

  /** Resolve the committed LIVE graph for searching — optionally
    * pruned to `buckets` (path-level; a semantic no-op on src-keyed
    * consumers) and/or pinned to a snapshot `version` (time travel:
    * the graph exactly as of that commit, concurrent with later
    * commits). Returns (src_id, nbr_id, cos, bkt). */
  def resolve(spark: SparkSession, root: String,
              buckets: Option[Seq[Int]] = None,
              version: Option[Long] = None): DataFrame = {
    val st = Manifest.stateAt(spark, root, version)
    liveEdges(readEdges(spark, root, st, buckets),
        readTombstones(spark, root, st))
      .select("src_id", "nbr_id", "cos", "bkt")
  }

  /** Reattach birth batches to a replacement frame: rows matching a
    * LIVE stored (src, nbr) keep that row's birth; everything else —
    * the genuinely new edges — is born at `batchId`. (A dead stored
    * row must NOT lend its birth: the re-formed edge is new.) */
  private def withBirth(replaced: DataFrame, live: DataFrame,
                        batchId: Long): DataFrame =
    replaced.join(live.select(col("src_id"), col("nbr_id"),
        col("b").as("_ob")), Seq("src_id", "nbr_id"), "left_outer")
      .select(col("src_id"), col("nbr_id"), col("cos"),
        coalesce(col("_ob"), lit(batchId)).as("b"), col("bkt"))

  /** One arrival batch through the protocol: beam-link the batch nodes
    * against the committed LIVE graph (every ledger read
    * bucket-pruned — [[Similarity.graphAppendBucketDelta]]'s
    * discipline, reading only manifest-pinned paths), write the
    * touched buckets' replacement content at `edges/v=N` with birth
    * batches attached, swap. `corpus` is the scoring-vector table
    * (bucket-partitioned on pmod(id, `corpusBuckets`) when set, so
    * per-hop vector reads prune too). A previously-removed id that
    * re-arrives just lands: the anti-join sees no live out-edges, the
    * re-link's edges are born past its tombstone's asof. Idempotent by
    * batch id; `publish = false` is the crash face — the crashed
    * batch's partial writes are invisible orphans, so its replay
    * recaps against clean committed state. */
  def commitBatch(spark: SparkSession, root: String, corpus: DataFrame,
                  batch: DataFrame, batchId: Long, idCol: String,
                  vecCol: String, k: Int, buckets: Int, beam: Int = 8,
                  hops: Int = 3, maxDegree: Int = 8,
                  corpusBuckets: Option[Int] = None,
                  publish: Boolean = true): Boolean =
    Manifest.commitGuard(spark, root, batchId, publish)(
      throw Manifest.notInitialized("graph stack", root)) { (st, vNew) =>
    val raw = readEdges(spark, root, st, None)
    // lazy: tombstones are tiny and first materialize inside the
    // recapped delta's truncate action (guide §2.4 — no separate pass)
    val tomb = readTombstones(spark, root, st).localCheckpoint(eager = false)
    // the live view stays LAZY: the append's bucket-pruned legs filter
    // `bkt` above the (broadcast) tombstone joins, and the predicate
    // pushes through to the pinned-path scans — checkpointing here
    // would materialize the whole graph per micro-batch and sever the
    // partition layout the O(touched) law depends on (the in-place
    // drain's self-overwrite rationale for a checkpoint is gone: the
    // protocol only ever writes fresh versioned paths)
    val live = liveEdges(raw, tomb)
    // touched sources' complete new lists only (every ledger leg
    // bucket-pruned) — the bucket replacement composes below so the
    // pass-through leg can come from RAW rows, not the live view
    val recapped = Lineage.truncate(Similarity.graphAppendDelta(
      live, corpus, batch, idCol, vecCol, k = k, beam = beam,
      hops = hops, maxDegree = maxDegree,
      edgeBuckets = Some(buckets), corpusBuckets = corpusBuckets))
    val touched = Manifest.elect(recapped, bktOf(col("src_id"), buckets))
    val pins =
      if (touched.isEmpty) st.statsV
      else {
        val rawTb = raw.filter(col("bkt").isin(touched.map(Int.box): _*))
        val srcs = recapped.select(col("src_id")).distinct()
        // three legs: untouched sources' RAW rows (live AND dead) ride
        // through; touched sources' lists replace with their recapped
        // LIVE content; and touched sources' DEAD rows ride through too
        // — they are commitRepair's orphan-election evidence, which a
        // live-only rewrite would silently destroy
        Manifest.writeRepin(
          rawTb.join(srcs, Seq("src_id"), "left_anti")
            .select(col("src_id"), col("nbr_id"), col("cos"), col("b"),
              col("bkt"))
            .unionByName(withBirth(
              recapped.withColumn("bkt", bktOf(col("src_id"), buckets)),
              live, batchId))
            .unionByName(edgesWhere(rawTb, tomb, keepLive = false)
              .join(srcs, Seq("src_id"), "left_semi")),
          "edges", root, vNew, touched, st.statsV)
      }
    st.copy(version = vNew, batchId = batchId, statsV = pins)
    }

  /** TRANSACTIONAL TAKEDOWN — node tombstones under per-bucket MVCC:
    * the removed ids land as (id, asof = this batch) in their own
    * tombstone buckets (pinned old content ∪ the new rows — a re-removal
    * of the same id keeps the LATEST asof), and ONE swap makes every
    * edge touching them dead at read ([[liveEdges]]' ordered
    * two-endpoint rule) — zero edge rows rewritten, the soft-delete
    * law. Searches over the resolved graph can neither traverse nor
    * return removed nodes; [[commitRepair]] restores reachability into
    * the orphaned neighborhoods; [[compactEdges]] purges physically.
    * Idempotent by batch id. */
  def commitRemove(spark: SparkSession, root: String,
                   removals: DataFrame, batchId: Long, idCol: String,
                   buckets: Int, publish: Boolean = true): Boolean =
    Manifest.commitGuard(spark, root, batchId, publish)(
      Manifest.stateAt(spark, root, None)) { (st, vNew) =>
    val rm = removals.select(col(idCol).as("id")).distinct()
      // lazy: the bucket election drains the frame and materializes
      // the checkpoint in the same action (guide §2.4)
      .localCheckpoint(eager = false)
    val tb = Manifest.elect(rm, bktOf(col("id"), buckets))
    val replaced = readTombstones(spark, root, st, Some(tb))
      .join(broadcast(rm), Seq("id"), "left_anti")
      .select("id", "asof")
      .unionByName(rm.select(col("id"), lit(batchId).as("asof")))
      .withColumn("bkt", bktOf(col("id"), buckets))
    val auxPins = Manifest.writeRepin(replaced, "tomb", root, vNew, tb,
      st.auxV)
    st.copy(version = vNew, batchId = batchId, auxV = auxPins)
    }

  /** TRANSACTIONAL REPAIR — [[Similarity.graphRepair]]'s dataflow
    * under the protocol: elect the orphaned neighborhood (surviving
    * sources whose stored rows point at a tombstoned node — the
    * election reads the RAW rows, since the dead edges ARE the
    * evidence), beam-search each orphan's k nearest over the LIVE
    * graph, union both directions, and write the touched sources'
    * recapped lists as their buckets' replacement (survivors keep
    * their birth, repair edges are born at this batch), one swap.
    * Composes with [[commitRemove]] to the in-flow
    * remove-then-repair semantics bit-for-bit — the gate pins it.
    * `corpus` is the full vector table; tombstoned rows are excluded
    * from the search inside. */
  def commitRepair(spark: SparkSession, root: String, corpus: DataFrame,
                   batchId: Long, idCol: String, vecCol: String,
                   k: Int, buckets: Int, beam: Int = 8, hops: Int = 3,
                   maxDegree: Int = 8,
                   publish: Boolean = true): Boolean = {
    require(maxDegree >= k,
      "maxDegree must be >= k (repairs add k edges per side)")
    Manifest.commitGuard(spark, root, batchId, publish)(
      Manifest.stateAt(spark, root, None)) { (st, vNew) =>
    val raw = readEdges(spark, root, st, None)
    // lazy: first materialized by the orphans truncate (guide §2.4)
    val tomb = readTombstones(spark, root, st).localCheckpoint(eager = false)
    val live = liveEdges(raw, tomb) // lazy — see commitBatch
    // orphaned neighborhood: live sources whose RAW row at a dead
    // nbr proves a lost out-edge
    val rmIds = tomb.select(col("id").as("_rid"), col("asof"))
    val orphanIds = raw
      .join(broadcast(rmIds), col("nbr_id") === col("_rid") &&
        col("b") < col("asof"))
      .select(col("src_id").as(idCol)).distinct()
      .join(broadcast(rmIds.select(col("_rid"))),
        col(idCol) === col("_rid"), "left_anti")
    val survivors = corpus.join(
      broadcast(tomb.select(col("id").as(idCol))), Seq(idCol),
      "left_anti")
    val orphans = Lineage.truncate(
      survivors.join(orphanIds, Seq(idCol), "left_semi"))
    val found = Similarity.graphSearchTopK(orphans, survivors, live,
      idCol, vecCol, k, beam, hops)
    val newE = Lineage.truncate(found.select(col("q_id").as("src_id"),
        col("n_id").as("nbr_id"), col("cos"))
      .unionByName(found.select(col("n_id").as("src_id"),
        col("q_id").as("nbr_id"), col("cos")))
      .distinct())
    val touchedSrc = newE.select(col("src_id")).distinct()
    val liveEdgesOnly = live.select("src_id", "nbr_id", "cos", "b")
    val newOnly = newE.join(
      liveEdgesOnly.select(col("src_id"), col("nbr_id")),
      Seq("src_id", "nbr_id"), "left_anti")
    val recapped = liveEdgesOnly.join(touchedSrc, Seq("src_id"))
      .select(col("src_id"), col("nbr_id"), col("cos"))
      .unionByName(newOnly)
      .withColumn("_r", row_number().over(
        Window.partitionBy("src_id")
          .orderBy(col("cos").desc, col("nbr_id").asc)))
      .filter(col("_r") <= maxDegree)
      .select(col("src_id"), col("nbr_id"), col("cos"))
      // lazy: the bucket election below materializes it (guide §2.4)
      .localCheckpoint(eager = false)
    val tbkts = Manifest.elect(recapped, bktOf(col("src_id"), buckets))
    // touched buckets' replacement, three legs (commitBatch's shape):
    // untouched sources' RAW rows ride through; touched sources' lists
    // replace with their recapped LIVE content; touched sources' DEAD
    // rows ride through too — evidence for a LATER repair after
    // further takedowns must survive this rewrite
    val rawTb = raw.filter(
      if (tbkts.isEmpty) lit(false)
      else col("bkt").isin(tbkts.map(Int.box): _*))
    val srcs = recapped.select(col("src_id")).distinct()
    val replaced = rawTb.join(srcs, Seq("src_id"), "left_anti")
      .select(col("src_id"), col("nbr_id"), col("cos"), col("b"),
        col("bkt"))
      .unionByName(withBirth(
        recapped.withColumn("bkt", bktOf(col("src_id"), buckets)),
        live, batchId))
      .unionByName(edgesWhere(rawTb, tomb, keepLive = false)
        .join(srcs, Seq("src_id"), "left_semi"))
    val pins = Manifest.writeRepin(replaced, "edges", root, vNew, tbkts,
      st.statsV)
    st.copy(version = vNew, batchId = batchId, statsV = pins)
    }
  }

  /** Graph COMPACTION under the protocol — the physical purge the
    * soft deletes defer to: consolidate the LIVE rows into fresh
    * versions of exactly their buckets (one file per bucket) and
    * RETIRE the whole tombstone family in the same swap (every pinned
    * tombstone bucket unpins — dead rows are gone physically, so the
    * window closes). Serves bit-identically; superseded versions
    * become vacuum-collectable garbage. */
  def compactEdges(spark: SparkSession, root: String,
                   publish: Boolean = true): Boolean =
    Manifest.transact(spark, root, publish)(
      Manifest.stateAt(spark, root, None)) { (st, vNew) =>
    Option.when(st.statsV.nonEmpty) {
      val dir = s"$root/edges/v=$vNew"
      Manifest.writeBuckets(liveEdges(readEdges(spark, root, st, None),
          readTombstones(spark, root, st))
        .select("src_id", "nbr_id", "cos", "b", "bkt")
        .repartition(col("bkt")), dir)
      // pin what the ONE write landed (a driver listing, no Spark action)
      val present = Manifest.writtenBuckets(spark, dir)
      st.copy(version = vNew,
        statsV = st.statsV.keySet.filter(present).map(_ -> vNew).toMap,
        auxV = Map.empty)
    }
    }

  /** Transactional RE-BUCKET — [[Similarity.rebucketLedger]]'s
    * migration protocol ("write to a NEW path, then swap readers")
    * made executable in ONE commit: the live rows re-derive `bkt`
    * under B′ = `newBuckets`, land as fresh one-file-per-bucket
    * versions (the rewrite is also a physical purge, so the tombstone
    * family retires in the same swap), and the manifest's pin map
    * moves wholesale to the new keyspace. A crash anywhere leaves the
    * old B serving; a reader can never observe the two numberings
    * interleaved — the exact hazard the in-place migration note warns
    * about. Callers pass B′ to every subsequent [[commitBatch]], the
    * same contract as [[init]]. A re-bucket is inherently O(ledger);
    * it amortizes over every batch-sized append after it (the
    * measured rebucket law: an undersized-B ledger's per-batch writes
    * shrink ~46× at 100× — SCALE.md). */
  def rebucket(spark: SparkSession, root: String, newBuckets: Int,
               publish: Boolean = true): Boolean = {
    require(newBuckets > 0, "newBuckets must be positive")
    Manifest.transact(spark, root, publish)(
      Manifest.stateAt(spark, root, None)) { (st, vNew) =>
      Option.when(st.statsV.nonEmpty)(st.copy(version = vNew,
        statsV = Manifest.moveFamily(
          liveEdges(readEdges(spark, root, st, None),
              readTombstones(spark, root, st))
            .withColumn("bkt", bktOf(col("src_id"), newBuckets)),
          "edges", root, vNew),
        auxV = Map.empty))
    }
  }

  /** [[TxServeStack.vacuum]]'s twin for the graph stack: reclaim
    * superseded bucket versions on BOTH families (edges, tombstones),
    * crash orphans, and history manifests below the retention floor. */
  def vacuum(spark: SparkSession, root: String,
             retainVersions: Int = 0): TxServeStack.VacuumStats =
    Manifest.vacuum(spark, root, retainVersions, families)
}
