package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Bucket-partitioned ledger discipline, shared by every streaming
  * ingest family whose state lives in storage rather than the stream
  * engine (the PQ index, tf, and positional ledgers; the graph and
  * semantic-label ledgers carry their own variants inside
  * [[Similarity]] / the drains because their read legs are
  * multi-stage).
  *
  * The problem it closes: an append-only drain's WRITE is batch-sized
  * (`deltaOnly` + parquet append), but the idempotency anti-join reads
  * the stored ledger's id column — O(ledger) per micro-batch at 10⁹
  * rows. Because the ledger is partitioned on `bkt = pmod(key, B)`
  * and pmod is a FUNCTION of the key, a batch row can only collide
  * with stored rows in the batch's own buckets — so pre-filtering the
  * stored side to the batch's elected bucket set is a semantic no-op
  * on the anti-join (bit-identical delta) that turns the read into a
  * literal `bkt IN (...)` partition filter: O(touched buckets ×
  * ledger/B), the same law as the graph sink's write side
  * (SCALE.md's gsink table). Size B ∝ corpus and the per-batch read
  * stays batch-sized at any scale; [[Similarity.rebucketLedger]] is
  * the migration face when the corpus outgrows B. */
object Ledger {

  /** The ONE bucket law both layouts share: `pmod(k, B)` over the raw
    * key (numeric layout) or `xxhash64(key)` (string layout). Every
    * public face below derives from this expression, so the cast, the
    * positivity check, and the partition-column name can never diverge
    * between the two layouts. */
  private def bucketCol(keyCol: String, buckets: Int,
                        hashed: Boolean): org.apache.spark.sql.Column = {
    require(buckets > 0, "buckets must be positive")
    pmod(if (hashed) xxhash64(col(keyCol)) else col(keyCol),
      lit(buckets.toLong)).cast("int")
  }

  /** `bkt = pmod(key, buckets)` — the write-side column every
    * bucket-partitioned ledger derives before `partitionBy("bkt")`. */
  def withBucket(df: DataFrame, keyCol: String, buckets: Int): DataFrame =
    df.withColumn("bkt", bucketCol(keyCol, buckets, hashed = false))

  /** The bucket set an arriving batch's keys can touch — a driver
    * `collect` bounded by B (≤ buckets distinct ints, regardless of
    * batch or corpus size). */
  def batchBuckets(batch: DataFrame, keyCol: String,
                   buckets: Int): Seq[Int] =
    Manifest.elect(batch, bucketCol(keyCol, buckets, hashed = false)).sorted

  /** Prune a stored bucket-partitioned ledger to the buckets `batch`'s
    * keys elect: the anti-join read leg of an idempotent append scans
    * only those partition directories (a literal `bkt IN` / `bkt = N`
    * partition filter in the executed plan). Rows outside the elected
    * buckets cannot share a key with any batch row, so downstream
    * key-equi anti-joins and joins see a bit-identical world. */
  def prunedToBatch(stored: DataFrame, batch: DataFrame, keyCol: String,
                    buckets: Int): DataFrame = {
    val bkts = batchBuckets(batch, keyCol, buckets)
    stored.filter(col("bkt").isin(bkts: _*))
  }

  /** [[withBucket]]'s STRING-keyed face: `bkt = pmod(xxhash64(key), B)`
    * — the layout for term-sharded posting and term-stats ledgers,
    * where the key is text and arithmetic pmod does not apply.
    * xxhash64 with the default seed is deterministic across sessions
    * and executors (a pure function of the bytes), so the bucket is a
    * function of the key exactly as pmod(id, B) is. */
  def withHashBucket(df: DataFrame, keyCol: String,
                     buckets: Int): DataFrame =
    df.withColumn("bkt", bucketCol(keyCol, buckets, hashed = true))

  /** The bucket set a key frame elects under the HASH layout — driver
    * collect bounded by min(buckets, distinct keys). Serve-side
    * callers pass the QUERY's term set (query-sized by contract); the
    * collect is the same bounded election [[batchBuckets]] performs
    * for arriving batches. */
  def keyHashBuckets(keys: DataFrame, keyCol: String,
                     buckets: Int): Seq[Int] =
    Manifest.elect(keys, bucketCol(keyCol, buckets, hashed = true)).sorted

  /** Prune a HASH-bucketed stored ledger to the buckets `keys` elect —
    * the SERVE-side pruning law: a query's key-equi join against the
    * ledger can only match rows in the query keys' own buckets, so the
    * filter is a semantic no-op on the join while the scan becomes a
    * literal `bkt IN` partition filter (query-sized read at any corpus
    * size — the read-side twin of [[prunedToBatch]]). */
  def prunedToKeys(stored: DataFrame, keys: DataFrame, keyCol: String,
                   buckets: Int): DataFrame = {
    val bkts = keyHashBuckets(keys, keyCol, buckets)
    stored.filter(col("bkt").isin(bkts: _*))
  }

  /** [[prunedToKeys]] with the election already in hand: serves that
    * prune SEVERAL stored assets to one query's buckets elect once
    * ([[keyHashBuckets]] / [[batchBuckets]]) and prune each scan with
    * this — one driver collect per query instead of one per asset
    * (guide §2.4: the repeated election re-ran the key frame's whole
    * plan as an extra action each time). */
  def prunedToBuckets(stored: DataFrame, bkts: Seq[Int]): DataFrame =
    stored.filter(col("bkt").isin(bkts: _*))

  /** O(touched) TAKEDOWN on a bucket-partitioned ledger: the removal
    * keys elect buckets (pmod layout), the replacement content is the
    * touched buckets' survivors (pruned read + key anti-join), and the
    * caller dynamic-partition-overwrites just those directories —
    * every other bucket holds no row with a removal key, so
    * overwrite(touched) ≡ the full-ledger anti-join rewrite
    * [[graft.operators.Retrieval.bm25IndexRemove]] pays. Returns the
    * replacement rows WITH their `bkt` column (the overwrite's
    * partition column); an empty intersection returns an empty frame,
    * and dynamic overwrite of an empty frame touches nothing —
    * removing never-indexed keys is a no-op end to end. */
  def removeBucketDelta(stored: DataFrame, removals: DataFrame,
                        keyCol: String, buckets: Int): DataFrame = {
    val keys = removals.select(col(keyCol)).distinct()
    prunedToBatch(stored, keys, keyCol, buckets)
      .join(keys, Seq(keyCol), "left_anti")
  }

  /** Commit a touched-bucket replacement to a `bkt`-partitioned parquet
    * ledger: dynamic partition-overwrite writes the delta's buckets,
    * then any TOUCHED bucket the delta no longer populates is deleted
    * outright — dynamic overwrite only rewrites partitions PRESENT in
    * the written frame, so a takedown that empties a whole bucket
    * would otherwise silently leave its stale directory behind (the
    * one failure mode of overwrite-by-delta ledgers; witnessed by
    * LedgerSpec's emptied-bucket case). `delta` should be
    * materialized (localCheckpoint) by the caller when it was read
    * from `dir` itself; the `bkt` collect is bounded by `touched` and
    * runs BEFORE the overwrite — after it, `dir` no longer holds the
    * state the delta's lineage read, so a post-write re-evaluation
    * could elect the wrong present set (and would re-run the delta
    * plan a second time besides).
    *
    * `neverEmpties = true` is the APPEND-fold fast path (guide §2.4):
    * when the caller can PROVE present ≡ touched — a merge fold whose
    * delta itself carries ≥ 1 row in every touched bucket, e.g. the
    * term-stats append where `touched` is elected by the delta's own
    * terms — the present-set collect is a redundant action and the
    * emptied-dir sweep a no-op, so both are skipped: the write is the
    * fold's ONLY action. Self-read safety holds without the collect's
    * pre-materialization because dynamic partition overwrite STAGES
    * task output (`.spark-staging-*`) and only deletes/renames the
    * matching partition directories at job COMMIT, after every task —
    * every source read — has finished; a lazily-checkpointed delta is
    * therefore never recomputed from a path the write already cleared
    * (LedgerSpec pins this with a self-read append fold). Callers
    * whose delta can empty a bucket (takedowns) must keep the
    * default. */
  def overwriteBuckets(delta: DataFrame, touched: Seq[Int],
                       dir: String, neverEmpties: Boolean = false): Unit = {
    val present =
      if (neverEmpties) touched.toSet
      else delta.select(col("bkt").cast("int")).distinct()
        .collect().map(_.getInt(0)).toSet
    delta.write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("bkt").parquet(dir)
    val emptied = touched.filterNot(present)
    if (emptied.nonEmpty) {
      val base = new org.apache.hadoop.fs.Path(dir)
      val fs = base.getFileSystem(
        delta.sparkSession.sessionState.newHadoopConf())
      emptied.foreach { b =>
        fs.delete(new org.apache.hadoop.fs.Path(base, s"bkt=$b"), true)
      }
    }
  }

  /** Parquet-file census per bucket directory of a `bkt`-partitioned
    * ledger — the fragmentation signal an append-only drain
    * accumulates: every micro-batch's `mode("append")` adds one file
    * per touched bucket, so after F batches a hot bucket holds F
    * small files and its scans pay F footer reads + F row-group
    * starts for batch-sized content. Driver-side FS listing, bounded
    * by the ledger's file count (metadata, never data). */
  def bucketFileCounts(spark: org.apache.spark.sql.SparkSession,
                       dir: String): Map[Int, Int] = {
    val base = new org.apache.hadoop.fs.Path(dir)
    val fs = base.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(base)) Map.empty
    else fs.listStatus(base).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("bkt="))
      .map { s =>
        val b = s.getPath.getName.stripPrefix("bkt=").toInt
        val n = fs.listStatus(s.getPath)
          .count(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
        b -> n
      }.toMap
  }

  /** The buckets whose file count exceeds `maxFiles` — the compaction
    * CADENCE's election ([[compactBuckets]]'s natural input): compact
    * when fragmentation crosses the threshold, not on every batch. */
  def fragmentedBuckets(spark: org.apache.spark.sql.SparkSession,
                        dir: String, maxFiles: Int): Seq[Int] = {
    require(maxFiles > 0, "maxFiles must be positive")
    bucketFileCounts(spark, dir).filter(_._2 > maxFiles)
      .keys.toSeq.sorted
  }

  /** COMPACT the elected buckets of a `bkt`-partitioned ledger:
    * content-identical rewrite that collapses each bucket to ONE
    * parquet file — the maintenance face that pays down
    * [[overwriteBuckets]]/append-drain fragmentation on a cadence
    * (what a table format's OPTIMIZE does), completing the ledger
    * life cycle next to build/append/remove. Only the elected buckets
    * are read (literal `bkt IN` partition filter) and only they are
    * rewritten (dynamic partition overwrite through
    * [[overwriteBuckets]]); rows, values, and bucket assignment are
    * untouched by contract — a compacted ledger serves bit-identically
    * (witnessed by the gate). The repartition on `bkt` puts each
    * bucket's rows in exactly one task, hence one output file per
    * bucket directory; localCheckpoint materializes the read before
    * the overwrite clears the directories it came from. */
  def compactBuckets(spark: org.apache.spark.sql.SparkSession,
                     dir: String, bkts: Seq[Int]): Unit = {
    if (bkts.nonEmpty) {
      val pruned = spark.read.parquet(dir)
        .filter(col("bkt").isin(bkts.map(Int.box): _*))
        .repartition(col("bkt"))
        // LAZY is safe here ONLY because overwriteBuckets runs its
        // present-set collect BEFORE the write: that collect drains
        // every partition and materializes the checkpoint, so the
        // dynamic overwrite that then clears the source directories
        // reads blocks, never the paths (guide §2.4 — the former
        // eager call was a separate pass over the same rows)
        .localCheckpoint(eager = false)
      overwriteBuckets(pruned, bkts, dir)
    }
  }
}
