package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** MERGEABLE-SKETCH ledger under the [[Manifest]] commit protocol: a
  * distinct-count profile (HLL sketch + exact row tally per key)
  * maintained incrementally from a stream and served WITHOUT touching
  * raw data — the cardinality face of the stats-ledger idea
  * ([[Ledger]]'s "the ledger IS the state").
  *
  * Why sketches and not exact distinct state: at 100 TB the per-key
  * distinct sets (users per event type, n-grams per shard, URLs per
  * domain) are themselves corpus-scale, so an exact serve either
  * re-scans raw data per query or stores state ∝ cardinality. An HLL
  * register array is KBs per key at any cardinality, merges by
  * slot-max (order- and partition-insensitive — the estimate is a pure
  * function of the observed value SET), and unions across keys for
  * roll-ups the raw data would need another full pass to answer. The
  * kernels are Spark's codegen'd Datasketches expressions
  * (`hll_sketch_agg` / `hll_union` / `hll_sketch_estimate`) — no UDFs.
  *
  * Layout: one family (`sketch/v=V/bkt=B`) of rows
  * (key, n_rows, sk, th) under per-bucket MVCC, bucketed by
  * pmod(xxhash64(key), B) and pinned in [[Manifest.State.statsV]]:
  * `sk` an HLL register array (cheapest cardinality), `th` a Theta
  * sample set (cardinality + [[overlap]]'s set algebra) — both ride
  * the same merge pass.
  * A batch aggregates ONCE map-side (hll_sketch_agg has a partial
  * merge, so the shuffle carries one sketch per key per partition,
  * never raw values), merges against exactly its touched buckets'
  * pinned rows, writes the replacement at the fresh version, and ONE
  * swap re-pins. Exactly-once by batch-id high-water; a crashed
  * batch's writes are invisible orphans. Serve = elect buckets from
  * the queried keys (bounded collect), read only their pinned paths.
  *
  * Accuracy contract: standard HLL relative error ≈ 1.04/√2^lgK
  * (~1.6% at the default lgK=12); the estimate is deterministic for a
  * given value set, so gates pin it with an exact-twin witness. */
object TxSketchStack {

  private[operators] val families: Seq[Manifest.Family] =
    Seq(Manifest.Bucketed("sketch", _.statsV))

  private val SketchCols = org.apache.spark.sql.types.StructType.fromDDL(
    "key STRING, n_rows BIGINT, sk BINARY, th BINARY, bkt INT")

  private def bktOf(c: Column, buckets: Int): Column =
    pmod(xxhash64(c), lit(buckets.toLong)).cast("int")

  /** Create an EMPTY stack: first manifest pins nothing; `buckets`
    * fixes the pmod(xxhash64(key), B) layout every commit must pass
    * (recorded here only as convention — the protocol state keeps pin
    * maps, not B; callers own B exactly as the graph stack's do). */
  def init(spark: SparkSession, root: String): Unit =
    Manifest.create(spark, root, s"sketch stack already initialized at $root")(
      Manifest.State(0L, -1L, -1L, Map.empty))

  /** Raw committed sketch rows (key, n_rows, sk, th, bkt), each bucket
    * at its pinned version; `restrict` prunes at the PATH level (an
    * unelected bucket's directory is never listed). `sk` is the HLL
    * register array (cardinality), `th` the Theta sample set (same
    * cardinality PLUS set algebra — intersection/difference across
    * keys, which HLL registers cannot express). Both maintain by the
    * same slot/sample union, so one merge pass carries both. */
  private def readSketches(spark: SparkSession, root: String,
                           st: Manifest.State,
                           restrict: Option[Seq[Int]]): DataFrame =
    Manifest.readBucketed(spark, root, "sketch", st.statsV, restrict,
      SketchCols)

  /** One arrival batch through the protocol: aggregate the batch to
    * (key, count, sketch) — one partial-merge shuffle on the key —
    * merge with exactly the touched buckets' pinned rows (slot-max
    * union; exact tallies add), write the replacement, swap.
    * Idempotent by batch id: a replayed micro-batch skips whole, so a
    * value double-delivered by the source can never double-count
    * `n_rows` (HLL would absorb it; the exact tally would not).
    * `publish = false` is the crash face.
    *
    * `lgK` is the stack's contract like `buckets` is (same value every
    * commit): unlike the positional-family hazard this repo fixed by
    * recording the property in [[Manifest.State]], a mismatched lgK
    * cannot tear silently — `hll_union` REFUSES differing register
    * widths (allowDifferentLgConfigK is deliberately not passed), so
    * the drift surfaces as a loud per-batch failure, never as a
    * degraded estimate. */
  def commitBatch(spark: SparkSession, root: String, batch: DataFrame,
                  batchId: Long, keyCol: String, valCol: String,
                  buckets: Int, lgK: Int = 12, thetaLgNom: Int = 12,
                  publish: Boolean = true): Boolean =
    Manifest.commitGuard(spark, root, batchId, publish)(
      throw Manifest.notInitialized("sketch stack", root)) { (st, vNew) =>
    val agg = batch
      .filter(col(keyCol).isNotNull && col(valCol).isNotNull)
      .groupBy(col(keyCol).cast("string").as("key"))
      .agg(count(lit(1)).as("_bn"),
        hll_sketch_agg(col(valCol), lit(lgK)).as("_bsk"),
        // theta merges across nominal sizes (union keeps min θ), so a
        // drifted thetaLgNom degrades gracefully rather than failing —
        // still pass the stack's contract value like lgK
        theta_sketch_agg(col(valCol), lit(thetaLgNom)).as("_bth"))
      .withColumn("bkt", bktOf(col("key"), buckets))
      // keys-sized; feeds election + merge. LAZY: the election collect
      // drains every partition, materializing the checkpoint in the
      // same action (guide §2.4 — one pass, not two)
      .localCheckpoint(eager = false)
    val touched = Manifest.elect(agg, col("bkt"))
    if (touched.nonEmpty) {
      val old = readSketches(spark, root, st, Some(touched))
        .select(col("key"), col("n_rows").as("_on"),
          col("sk").as("_osk"), col("th").as("_oth"))
      val replaced = old.join(agg.drop("bkt"), Seq("key"), "full_outer")
        .select(col("key"),
          (coalesce(col("_on"), lit(0L)) + coalesce(col("_bn"), lit(0L)))
            .as("n_rows"),
          when(col("_osk").isNull, col("_bsk"))
            .when(col("_bsk").isNull, col("_osk"))
            .otherwise(hll_union(col("_osk"), col("_bsk"))).as("sk"),
          when(col("_oth").isNull, col("_bth"))
            .when(col("_bth").isNull, col("_oth"))
            .otherwise(theta_union(col("_oth"), col("_bth"))).as("th"))
        .withColumn("bkt", bktOf(col("key"), buckets))
      val pins = Manifest.writeRepin(replaced, "sketch", root, vNew,
        touched, st.statsV)
      st.copy(version = vNew, batchId = batchId, statsV = pins)
    } else st.copy(version = vNew, batchId = batchId)
    }

  /** Resolve committed sketch rows (key, n_rows, sk) — optionally
    * restricted to `keys` under the stack's bucket count B (the
    * election derives the queried keys' buckets from the QUERY frame,
    * a query-sized collect, and the storage read prunes to exactly
    * those pinned paths — an unelected bucket's directory is never
    * listed) and/or pinned to a snapshot `version`
    * ([[Manifest.readAt]] time travel). B is the caller's contract,
    * the same one every [[commitBatch]] passes. */
  def resolve(spark: SparkSession, root: String,
              keys: Option[(DataFrame, Int)] = None,
              version: Option[Long] = None): DataFrame = {
    val st = Manifest.stateAt(spark, root, version)
    keys match {
      case None => readSketches(spark, root, st, None).drop("bkt")
      case Some((ks, buckets)) =>
        val kf = ks.select(col(ks.columns.head).cast("string").as("key"))
          .distinct().localCheckpoint(eager = false) // the election collect materializes
        readSketches(spark, root, st,
            Some(Manifest.elect(kf, bktOf(col("key"), buckets))))
          .join(kf, Seq("key"), "left_semi")
          .drop("bkt")
    }
  }

  /** Estimates view over [[resolve]] output: (key, n_rows, est) with
    * est = round(HLL estimate) — the serve a dashboard reads. */
  def estimates(resolved: DataFrame): DataFrame =
    resolved.select(col("key"), col("n_rows"),
      round(hll_sketch_estimate(col("sk"))).cast("long").as("est"))

  /** CHANGE DATA FEED between two committed cuts of the profile
    * (`fromVersion` → `toVersion`, both resolved through
    * [[Manifest.readAt]] time travel): which keys a downstream
    * consumer must re-read, classified `insert` / `delete` / `update`,
    * with the after-image (`n_rows_after`, `sk`, `th`) riding along so
    * a replica can be maintained from the feed ALONE — no snapshot
    * diff, no raw pass.
    *
    * The scale law is the PIN DIFF: a bucket whose pinned version is
    * identical between the cuts cannot contain a changed row (commits
    * replace touched buckets at fresh versions and carry untouched
    * rows through BYTE-VERBATIM — the merge coalesces an absent batch
    * side to the stored row), so only re-pinned buckets are read, at
    * both cuts — O(changed buckets), never O(ledger). Change detection
    * compares the exact tally and the sketch ESTIMATES (deterministic
    * functions of the observed value set — the stack's serveable
    * content), not register bytes: a maintenance rewrite that
    * re-serializes the same set (e.g. a replace whose exclusion
    * matched nothing) is not a logical change. Bounded by vacuum
    * retention exactly like any snapshot read. */
  def changes(spark: SparkSession, root: String, fromVersion: Long,
              toVersion: Long): DataFrame = {
    val (stF, stT) = Manifest.changeWindow(spark, root, fromVersion, toVersion)
    val changed = Manifest.repinnedBuckets(stF.statsV, stT.statsV)
    val before = readSketches(spark, root, stF, Some(changed))
      .select(col("key"), col("n_rows").as("_fn"),
        round(hll_sketch_estimate(col("sk"))).cast("long").as("_fe"))
    val after = readSketches(spark, root, stT, Some(changed))
      .select(col("key"), col("n_rows"), col("sk"), col("th"),
        round(hll_sketch_estimate(col("sk"))).cast("long").as("_te"))
    before.join(after, Seq("key"), "full_outer")
      .select(col("key"),
        when(col("_fn").isNull, lit("insert"))
          .when(col("n_rows").isNull, lit("delete"))
          .when(col("n_rows") =!= col("_fn") || col("_te") =!= col("_fe"),
            lit("update")).as("change"),
        col("_fn").as("n_rows_before"),
        col("n_rows").as("n_rows_after"), col("sk"), col("th"))
      .filter(col("change").isNotNull)
  }

  /** Cross-key ROLL-UP: union the sketches of `resolved` rows into one
    * estimate — "distinct users over ALL event types" without a raw
    * pass (sketch union is exact over the union of the observed sets,
    * not a sum of per-key estimates — overlap between keys is handled
    * by construction). */
  def rollup(resolved: DataFrame): DataFrame =
    resolved.agg(sum(col("n_rows")).as("n_rows"),
      // strict like hll_union: cross-KEY lgK drift must fail loudly too,
      // not silently degrade the rolled-up estimate to the coarsest row
      round(hll_sketch_estimate(hll_union_agg(col("sk"), lit(false))))
        .cast("long").as("est"))

  /** Cross-key SET ALGEBRA over the theta family: |A∩B|, |A∖B|, |A∪B|
    * estimates between two keys' stored sample sets — the
    * audience-overlap / retention question a register sketch cannot
    * answer (HLL unions; it cannot intersect). Two 1-row lookups from
    * the resolved frame, a 1×1 cross, three sample-set operations —
    * no raw pass at any corpus size. Below the theta nominal-entries
    * threshold (4096) the sample set IS the distinct set, so the
    * estimates are exact; above it they carry the published
    * sampling error. Both keys MUST have a stored row: a typo'd or
    * never-ingested key would otherwise make the cross join silently
    * empty — indistinguishable from "no data" — so the lookup REQUIREs
    * exactly one row per key (keys are unique in the ledger by the
    * full-outer merge; 0 means absent). */
  def overlap(resolved: DataFrame, keyA: String, keyB: String): DataFrame = {
    val a = resolved.filter(col("key") === keyA)
      .select(col("th").as("_ta")).localCheckpoint(eager = false)
    val b = resolved.filter(col("key") === keyB)
      .select(col("th").as("_tb")).localCheckpoint(eager = false)
    // lazy: each REQUIRE count below materializes its frame in the
    // same action the guard already pays (guide §2.4)
    require(a.count() == 1,
      s"overlap: key '$keyA' has no stored sketch row")
    require(b.count() == 1,
      s"overlap: key '$keyB' has no stored sketch row")
    a.crossJoin(broadcast(b)).select(
      round(theta_sketch_estimate(theta_intersection(col("_ta"),
        col("_tb")))).cast("long").as("inter_est"),
      round(theta_sketch_estimate(theta_difference(col("_ta"),
        col("_tb")))).cast("long").as("diff_est"),
      round(theta_sketch_estimate(theta_union(col("_ta"), col("_tb"))))
        .cast("long").as("union_est"))
  }

  /** KEY-LEVEL REPLACE — the takedown face, shaped by what sketches
    * are: HLL registers and theta samples are NOT invertible (a
    * slot-max cannot un-see a value), so "remove user X" or "drop the
    * events before T" cannot edit a sketch — the honest operation is
    * to REBUILD the affected keys' rows from a re-scan and swap them
    * in whole. One commit: the re-derived (key, tally, sketches) rows
    * replace exactly their keys in exactly their buckets (other keys
    * in touched buckets ride through); keys in `drop` with no
    * replacement row disappear. O(touched buckets) write, one swap —
    * the same discipline as every other stack's upsert, with the
    * rebuild cost ∝ the re-scanned slice, not the ledger.
    * Idempotent by batch id. */
  def commitReplace(spark: SparkSession, root: String,
                    rebuilt: DataFrame, drop: DataFrame, batchId: Long,
                    keyCol: String, valCol: String, buckets: Int,
                    lgK: Int = 12, thetaLgNom: Int = 12,
                    publish: Boolean = true): Boolean =
    Manifest.commitGuard(spark, root, batchId, publish)(
      throw Manifest.notInitialized("sketch stack", root)) { (st, vNew) =>
    val agg = rebuilt
      .filter(col(keyCol).isNotNull && col(valCol).isNotNull)
      .groupBy(col(keyCol).cast("string").as("key"))
      .agg(count(lit(1)).as("n_rows"),
        hll_sketch_agg(col(valCol), lit(lgK)).as("sk"),
        theta_sketch_agg(col(valCol), lit(thetaLgNom)).as("th"))
      .withColumn("bkt", bktOf(col("key"), buckets))
      .localCheckpoint(eager = false)
    val dropKeys = drop
      .select(col(drop.columns.head).cast("string").as("key")).distinct()
      .withColumn("bkt", bktOf(col("key"), buckets))
      .localCheckpoint(eager = false)
    // lazy pair: the union election below drains BOTH frames,
    // materializing two checkpoints in one action (guide §2.4)
    val touched = Manifest.elect(
      agg.select(col("bkt")).unionByName(dropKeys.select(col("bkt"))),
      col("bkt"))
    if (touched.nonEmpty) {
      val untouched = readSketches(spark, root, st, Some(touched))
        .join(agg.select("key"), Seq("key"), "left_anti")
        .join(dropKeys.select("key"), Seq("key"), "left_anti")
        .select("key", "n_rows", "sk", "th", "bkt")
      val replaced = untouched.unionByName(agg)
      val pins = Manifest.writeRepin(replaced, "sketch", root, vNew,
        touched, st.statsV)
      st.copy(version = vNew, batchId = batchId, statsV = pins)
    } else st.copy(version = vNew, batchId = batchId)
    }

  /** Transactional RECONFIGURATION — `ann_index_reencode`'s twin for
    * the sketch family: change the accuracy budget (HLL lgK and/or the
    * theta nominal-entries exponent) of a LIVE stack. Sketches are NOT
    * mergeable across register widths (`hll_union` refuses — the
    * stack's loud-failure contract), so the migration cannot re-encode
    * stored rows: it re-aggregates the WHOLE profile from `raw` (the
    * retained source slice every non-invertible-state migration needs
    * — the same contract as [[commitReplace]]'s rebuild) under the new
    * parameters, replaces the ledger wholesale at one fresh version,
    * and swaps once. The old cut stays reconstructible via
    * [[Manifest.readAt]] until vacuumed — its rows still carry the old
    * lgK, which is exactly why snapshot reads never mix cuts.
    *
    * Callers pass the new `lgK`/`thetaLgNom` to every subsequent
    * [[commitBatch]]/[[commitReplace]] — the shared migration contract
    * (a later batch at the OLD lgK fails loudly at its merge).
    * O(raw) by definition, amortized over every batch-sized commit
    * after it; `n_rows` tallies rebuild exactly from the slice.
    * Idempotent by batch id; `publish = false` is the crash face. */
  def commitResize(spark: SparkSession, root: String, raw: DataFrame,
                   batchId: Long, keyCol: String, valCol: String,
                   buckets: Int, lgK: Int = 12, thetaLgNom: Int = 12,
                   publish: Boolean = true): Boolean =
    Manifest.commitGuard(spark, root, batchId, publish)(
      throw Manifest.notInitialized("sketch stack", root)) { (st, vNew) =>
    val rebuilt = raw
      .filter(col(keyCol).isNotNull && col(valCol).isNotNull)
      .groupBy(col(keyCol).cast("string").as("key"))
      .agg(count(lit(1)).as("n_rows"),
        hll_sketch_agg(col(valCol), lit(lgK)).as("sk"),
        theta_sketch_agg(col(valCol), lit(thetaLgNom)).as("th"))
      .withColumn("bkt", bktOf(col("key"), buckets))
    st.copy(version = vNew, batchId = batchId,
      statsV = Manifest.moveFamily(rebuilt, "sketch", root,
        Manifest.attemptVersion(vNew)))
    }

  /** Transactional RE-BUCKET — [[TxGraphStack.rebucket]]'s twin for
    * the sketch family: every committed row re-derives `bkt` under B′
    * and lands at one fresh version, the pin map moves wholesale, one
    * swap. Callers pass B′ to every subsequent commit/serve election
    * — the shared migration contract. O(keys), amortized over every
    * batch after it. */
  def rebucket(spark: SparkSession, root: String,
               newBuckets: Int, publish: Boolean = true): Boolean = {
    require(newBuckets > 0, "newBuckets must be positive")
    Manifest.transact(spark, root, publish)(
      Manifest.stateAt(spark, root, None)) { (st, vNew) =>
      Option.when(st.statsV.nonEmpty)(st.copy(version = vNew,
        statsV = Manifest.moveFamily(
          readSketches(spark, root, st, None)
            .withColumn("bkt", bktOf(col("key"), newBuckets)),
          "sketch", root, vNew)))
    }
  }

  /** [[TxServeStack.vacuum]]'s twin: reclaim superseded sketch-bucket
    * versions, crash orphans, and history manifests below the floor. */
  def vacuum(spark: SparkSession, root: String,
             retainVersions: Int = 0): TxServeStack.VacuumStats =
    Manifest.vacuum(spark, root, retainVersions, families)
}
