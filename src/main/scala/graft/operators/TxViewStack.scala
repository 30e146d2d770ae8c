package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** CHANGE-FEED-MAINTAINED MATERIALIZED VIEW over the sketch ledger —
  * the downstream consumer the CDC kernels ([[TxSketchStack.changes]])
  * exist for: a GROUP-level rollup (tally + distinct-count per group
  * of keys) kept current by applying feed windows, never by re-reading
  * the upstream corpus or ledger wholesale.
  *
  * The design point is the non-subtractable aggregate. Exact tallies
  * maintain by pure delta arithmetic (after − before, O(feed)), but an
  * HLL register array cannot un-see a value, so a shrinking group
  * (upstream key-replace or takedown) cannot be maintained by algebra
  * on the group's stored sketch. The classical fixes are (a) keep the
  * per-key state needed to rebuild a group — which is the upstream
  * ledger itself — or (b) recompute shrunk groups from the base
  * relation, an O(corpus) pass. This stack does (a) WITHOUT the extra
  * copy being waste: its single asset family is the upstream's
  * (key, n_rows, sk, th) rows RE-BUCKETED BY GROUP — a secondary
  * index. Feed rows upsert member rows in exactly their groups'
  * buckets (after-images replace wholesale; deletes drop; untouched
  * members ride through byte-verbatim), and any group-level answer —
  * including the sketch union a shrink forces — aggregates one
  * bucket's handful of member rows at serve time. Maintenance is
  * O(feed + touched-group buckets); serve is O(queried groups);
  * nothing ever scales with the corpus, and the only full pass is the
  * one-time [[build]].
  *
  * The view rides the [[Manifest]] protocol unchanged: per-bucket MVCC
  * pins in `statsV`, ONE atomic swap per refresh, snapshot reads,
  * vacuum. Its replay cursor is the UPSTREAM version: `State.baseV`
  * holds the upstream cut the view is current as of, and a refresh to
  * `toVersion` commits with `batchId = toVersion` — upstream versions
  * are monotone, so the batch-id high-water makes a replayed refresh
  * window (a restarted consumer loop) skip whole, exactly-once.
  * Windows are contiguous by construction: each refresh opens its feed
  * at the stored cursor.
  *
  * Grouping is a pure function of the key (`grpOf`), so a member can
  * never migrate between groups — an update touches one group, not
  * two. Upstream maintenance rewrites that change no logical content
  * (re-bucketing, compaction) emit an empty feed and the view rides
  * through untouched.
  *
  * No reference counterpart (jurimetria-etl has no incremental-view
  * surface); the shape follows published IVM + table-format CDF
  * designs, independently implemented. */
object TxViewStack {

  private[operators] val families: Seq[Manifest.Family] =
    Seq(Manifest.Bucketed("members", _.statsV))

  private val MemberCols = org.apache.spark.sql.types.StructType.fromDDL(
    "grp STRING, key STRING, n_rows BIGINT, sk BINARY, th BINARY, bkt INT")

  private def bktOf(c: Column, buckets: Int): Column =
    pmod(xxhash64(c), lit(buckets.toLong)).cast("int")

  /** Committed member rows (grp, key, n_rows, sk, th, bkt), each
    * bucket at its pinned version; `restrict` prunes at the PATH
    * level. */
  private def readMembers(spark: SparkSession, root: String,
                          st: Manifest.State,
                          restrict: Option[Seq[Int]]): DataFrame =
    Manifest.readBucketed(spark, root, "members", st.statsV, restrict,
      MemberCols)

  /** One-time full materialization at an upstream cut (default: its
    * head): mirror the upstream's rows under the view's group
    * bucketing — the single corpus-ledger pass this stack ever takes.
    * The committed state's cursor (`baseV` = the upstream version
    * mirrored, `batchId` likewise) is where the first [[refresh]]
    * opens its feed. */
  def build(spark: SparkSession, viewRoot: String, upstreamRoot: String,
            grpOf: Column => Column, buckets: Int,
            atVersion: Option[Long] = None): Long =
    Manifest.create(spark, viewRoot,
        s"view stack already built at $viewRoot — refresh instead") {
      val upV = atVersion.getOrElse(
        Manifest.read(spark, upstreamRoot).getOrElse(
          throw new IllegalStateException(
            s"no committed upstream manifest at $upstreamRoot")).version)
      val members = TxSketchStack
        .resolve(spark, upstreamRoot, version = Some(upV))
        .select(grpOf(col("key")).cast("string").as("grp"), col("key"),
          col("n_rows"), col("sk"), col("th"))
        .withColumn("bkt", bktOf(col("grp"), buckets))
      val pins = Manifest.moveFamily(members, "members", viewRoot,
        Manifest.attemptVersion(0L))
      Manifest.State(0L, upV, -1L, pins, baseV = upV)
    }.baseV

  /** Advance the view to the upstream cut `toVersion` by the FEED
    * ALONE: open [[TxSketchStack.changes]] at the stored cursor
    * (`baseV` → `toVersion` — one window may span many upstream
    * commits), elect the feed keys' GROUPS' buckets, and rewrite
    * exactly those: feed after-images replace their member rows
    * wholesale (insert and update alike — the after-image IS the
    * key's new state), deletes drop theirs, members the feed never
    * named ride through byte-verbatim inside their rewritten buckets,
    * unelected buckets keep their pins untouched. One swap publishes
    * the advanced cursor. Exactly-once by the upstream-version
    * high-water: a replayed window returns false and changes nothing.
    * An EMPTY feed window still advances the cursor (a maintenance
    * rewrite upstream must not wedge the consumer loop). */
  def refresh(spark: SparkSession, viewRoot: String, upstreamRoot: String,
              toVersion: Long, grpOf: Column => Column, buckets: Int,
              publish: Boolean = true): Boolean =
    Manifest.commitGuard(spark, viewRoot, toVersion, publish)(
      throw new IllegalStateException(
        s"view stack not built at $viewRoot — call build first")
    ) { (st, vNew) =>
      val feed = TxSketchStack
        .changes(spark, upstreamRoot, st.baseV, toVersion)
        .withColumn("grp", grpOf(col("key")).cast("string"))
        .withColumn("bkt", bktOf(col("grp"), buckets))
        // changed-keys-sized; feeds election + merge. LAZY: the
        // election collect right below drains every partition, so it
        // materializes the checkpoint in the same action (guide §2.4)
        .localCheckpoint(eager = false)
      val touched = Manifest.elect(feed, col("bkt"))
      val next =
        if (touched.isEmpty) st
        else {
          val old = readMembers(spark, viewRoot, st, Some(touched))
            .select(col("key"), col("grp").as("_og"),
              col("n_rows").as("_on"), col("sk").as("_os"),
              col("th").as("_ot"))
          val replaced = old.join(
              feed.select(col("key"), col("change"), col("n_rows_after"),
                col("sk").as("_ns"), col("th").as("_nt"),
                col("grp").as("_ng")),
              Seq("key"), "full_outer")
            .filter(col("change").isNull || col("change") =!= "delete")
            .select(coalesce(col("_ng"), col("_og")).as("grp"), col("key"),
              coalesce(col("n_rows_after"), col("_on")).as("n_rows"),
              coalesce(col("_ns"), col("_os")).as("sk"),
              coalesce(col("_nt"), col("_ot")).as("th"))
            .withColumn("bkt", bktOf(col("grp"), buckets))
          val pins = Manifest.writeRepin(replaced, "members", viewRoot,
            vNew, touched, st.statsV)
          st.copy(statsV = pins)
        }
      next.copy(version = vNew, batchId = toVersion, baseV = toVersion)
    }

  /** Member rows of a committed cut — optionally pruned to `groups`'
    * buckets (query-sized election; an unelected bucket's directory is
    * never listed) and/or a snapshot `version`. */
  def members(spark: SparkSession, root: String,
              groups: Option[(DataFrame, Int)] = None,
              version: Option[Long] = None): DataFrame = {
    val st = Manifest.stateAt(spark, root, version)
    groups match {
      case None => readMembers(spark, root, st, None).drop("bkt")
      case Some((gs, buckets)) =>
        val gf = gs.select(col(gs.columns.head).cast("string").as("grp"))
          // query-sized; LAZY — the election collect materializes it
          // in the same action, the semi-join reuses the blocks (§2.4)
          .distinct().localCheckpoint(eager = false)
        readMembers(spark, root, st,
            Some(Manifest.elect(gf, bktOf(col("grp"), buckets))))
          .join(gf, Seq("grp"), "left_semi")
          .drop("bkt")
    }
  }

  /** The GROUP rollup the view exists to serve: per group, member
    * count, exact row tally (sum of member tallies — the delta-
    * maintained column), and the distinct-count estimate (HLL union
    * across exactly the group's member sketches — including after a
    * shrink, because the members ARE current state, not history).
    * Strict register-width union: cross-member lgK drift fails loudly
    * ([[TxSketchStack.rollup]]'s law). */
  def serveRollup(spark: SparkSession, root: String,
                  groups: Option[(DataFrame, Int)] = None,
                  version: Option[Long] = None): DataFrame =
    members(spark, root, groups, version)
      .groupBy(col("grp"))
      .agg(count(lit(1)).as("n_keys"), sum(col("n_rows")).as("n_rows"),
        round(hll_sketch_estimate(hll_union_agg(col("sk"), lit(false))))
          .cast("long").as("est"))

  /** Garbage-collect unpinned member versions and retire history below
    * the retention floor. */
  def vacuum(spark: SparkSession, root: String,
             retainVersions: Int = 0): TxServeStack.VacuumStats =
    Manifest.vacuum(spark, root, retainVersions, families)
}
