package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Deduplication family for large-scale training-data pipelines: exact,
  * MinHash+LSH, SimHash, and blocked n-gram Jaccard. All hashing is
  * md5-based (hex strings): engine-portable (oracle-checkable in DuckDB)
  * and cluster-stable (no JVM-private hash seeds).
  *
  * Scale notes (the whole point of these operators):
  *  - exact dedup is one hash-shuffle on a 32-byte digest, never on the
  *    full text;
  *  - MinHash/LSH turns the O(n²) pair problem into a shuffle on band
  *    keys: only documents sharing a band collide, so the join fan-out is
  *    bounded by real near-duplicate density, not corpus size;
  *  - n-gram Jaccard is only ever evaluated on candidate pairs produced by
  *    a blocking key — never on the cross product.
  */
object Dedup {

  /** Word k-shingles (k=3): the standard unit for near-dup detection.
    * Documents with fewer than k words get an empty shingle set.
    * Codegen'd single-pass expression ([[graft.expressions.WordShingles]])
    * — the equivalent `transform(sequence(...), i -> concat_ws(...))`
    * evaluates interpreted and dominated the dedup pipelines. */
  def shingles(text: Column, k: Int = 3): Column =
    org.apache.spark.sql.GraftExpr.col(
      graft.expressions.WordShingles(
        org.apache.spark.sql.GraftExpr.expr(text), k))

  /** MinHash+LSH candidate pairs: (a_id, b_id) with a < b for documents
    * sharing at least one band. The self-join shuffles on (band index,
    * band key) — at 100 TB this is the only way the pair search scales. */
  /** (id, band, bk) LSH band keys per document — the probe structure
    * behind [[minhashCandidates]] (self-join) and
    * [[minhashCandidatesAgainst]] (batch-vs-corpus join).
    *
    * Explode + codegen'd projection + partial-agg min, NOT array lambdas:
    * higher-order functions evaluate interpreted (per-element lambda
    * dispatch), while md5/min over exploded rows stay inside
    * WholeStageCodegen with map-side combine — ~8× faster here and the
    * shape a 100 TB corpus needs anyway (the min() partial-aggregates
    * before the shuffle on doc id).
    * Docs with no shingles vanish at explode — same result as the null
    * band keys they'd otherwise produce (null never joins).
    * `k` is the shingle width; both sides of any band join must be
    * built at the SAME k (a k-mismatch never collides — silence, not
    * an error — which is why every composite operator threads one k). */
  def bandedKeys(docs: DataFrame, idCol: String, textCol: String,
                 numHashes: Int = 8, bands: Int = 4, k: Int = 3): DataFrame = {
    val exploded = docs
      .select(col(idCol).as("id"), shingles(col(textCol), k).as("sh"))
      .select(col("id"), explode(col("sh")).as("s"))
    // materialize the salted digests once; each feeds 4 slice-minhashes
    val nDigests = (numHashes + 3) / 4
    val digested = exploded.select(
      col("id") +: (0 until nDigests).map(d =>
        md5(concat(lit(s"$d:"), col("s"))).as(s"dg$d")): _*)
    val mh = (0 until numHashes).map { j =>
      min(substring(col(s"dg${j / 4}"), (j % 4) * 8 + 1, 8)).as(s"mh$j")
    }
    val sig = digested.groupBy("id").agg(mh.head, mh.tail: _*)
    val rows = numHashes / bands
    val bandCols = (0 until bands).map { b =>
      md5(concat((0 until rows).map(r => col(s"mh${b * rows + r}")): _*)).as(s"bk$b")
    }
    sig.select(col("id") +: bandCols: _*)
      .selectExpr("id",
        s"stack($bands, ${(0 until bands).map(b => s"$b, bk$b").mkString(", ")}) AS (band, bk)")
  }

  /** HOT-BAND GUARD for the LSH self-join, [[Multimodal.phashPairs]]'
    * `maxBucket` and the n-gram `maxGramDf` cap brought to minhash: a
    * template-heavy corpus (boilerplate headers, license blocks, empty
    * bodies) collapses thousands of documents onto ONE (band, key)
    * bucket, and the self-join on that bucket is QUADRATIC in its
    * occupancy — silently, since every other bucket stays small. With
    * `maxBandDf` set, bucket occupancy is counted first (one cheap agg
    * over the band keys — never the pairs); a bucket over the cap
    * either REFUSES loudly (`dropOverCap = false`, the default — the
    * operator names the worst buckets so the caller can raise bands,
    * pre-filter boilerplate, or opt into the degrade) or is DROPPED
    * from candidacy (`dropOverCap = true` — the documented degrade: a
    * band key shared by more than `maxBandDf` documents is template
    * mass, not near-duplication signal; dropping it bounds every
    * bucket's fan-in by the cap, so candidate count is ≤ corpus ×
    * bands × cap — LINEAR in the corpus by construction, the same
    * argument as the n-gram df cap). Pairs that co-occur ONLY in a
    * dropped bucket are lost — that is the degrade contract; genuine
    * near-dups still collide in their other, non-degenerate bands. */
  def minhashCandidates(docs: DataFrame, idCol: String, textCol: String,
                        numHashes: Int = 8, bands: Int = 4,
                        maxBandDf: Int = Int.MaxValue,
                        dropOverCap: Boolean = false): DataFrame = {
    // the self-join's two sides share the sig-agg exchange (ReusedExchange
    // — measured: an explicit localCheckpoint here buys nothing), so the
    // shingle-explode + minhash agg runs once despite the two references
    val banded = bandedKeys(docs, idCol, textCol, numHashes, bands)
    val kept =
      if (maxBandDf == Int.MaxValue) banded
      else {
        val occ = banded.groupBy("band", "bk")
          .agg(count(lit(1)).as("_df"))
        if (dropOverCap)
          banded.join(occ.filter(col("_df") <= maxBandDf)
            .select("band", "bk"), Seq("band", "bk"))
        else {
          val worst = occ.filter(col("_df") > maxBandDf)
            .orderBy(col("_df").desc).limit(5).collect()
          if (worst.nonEmpty)
            throw new IllegalStateException(
              s"minhashCandidates: ${worst.length}+ band buckets " +
                s"exceed maxBandDf=$maxBandDf (worst: " +
                worst.map(r => s"band=${r.getInt(0)} df=${r.getLong(2)}")
                  .mkString(", ") +
                ") — the self-join on a hot bucket is quadratic in its " +
                "occupancy. Pre-filter template text, raise bands, or " +
                "pass dropOverCap=true to degrade per the documented " +
                "contract")
          banded
        }
      }
    kept.alias("a")
      .join(kept.alias("b"),
        col("a.band") === col("b.band") && col("a.bk") === col("b.bk") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("a_id"), col("b.id").as("b_id"))
      .distinct()
  }

  /** Incremental near-dup candidates: band keys of the arriving `batch`
    * joined against the pre-banded `corpus` — candidates are
    * batch × corpus only, never corpus², which is what makes nightly
    * near-dup sweeps affordable (the corpus band index is the persisted
    * asset; only the batch recomputes). */
  def minhashCandidatesAgainst(batch: DataFrame, corpus: DataFrame,
                               idCol: String, textCol: String,
                               numHashes: Int = 8, bands: Int = 4,
                               k: Int = 3): DataFrame =
    bandedKeys(batch, idCol, textCol, numHashes, bands, k).alias("a")
      .join(bandedKeys(corpus, idCol, textCol, numHashes, bands, k).alias("b"),
        col("a.band") === col("b.band") && col("a.bk") === col("b.bk"))
      .select(col("a.id").as("batch_id"), col("b.id").as("corpus_id"))
      .distinct()

  /** SimHash signature as a bit-string of length `bits` (≤32 with md5 hex
    * digits): bit p is 1 when the majority of tokens have a high p-th hex
    * digit in their md5. Hamming-close signatures ⇒ similar documents. */
  /** Per-token md5 digests — the shared input of every simhash bit. Must
    * be materialized in its OWN projection (see [[simhashed]]) so the
    * digest work is linear in tokens, not tokens × bits. */
  def wordDigests(text: Column): Column = transform(split(text, " "), t => md5(t))

  /** SimHash bits from pre-materialized digests: bit p is 1 when the
    * majority of tokens have a high p-th hex digit. */
  def simhashFromDigests(digests: Column, bits: Int = 16): Column =
    concat((1 to bits).map { p =>
      when(size(filter(digests, dg => substring(dg, p, 1) >= "8")) * 2 > size(digests), "1")
        .otherwise("0")
    }: _*)

  /** Convenience single-expression form — fine for tests/small data, but
    * recomputes the digests once per bit; use the staged [[simhashed]]
    * for real corpora. */
  def simhash(text: Column, bits: Int = 16): Column =
    simhashFromDigests(wordDigests(text), bits)

  /** Staged simhash frame: (idCol, sig), explode + aggregate shape.
    *
    * The array-lambda form ([[simhashFromDigests]]) evaluates `bits`
    * interpreted `filter` passes per row; here tokens explode to rows,
    * md5 runs ONCE per token inside WholeStageCodegen, and the per-bit
    * majority votes are `bits` conditional-sum aggregates with map-side
    * partial aggregation — the shuffle carries (id, 17 longs), never the
    * token strings. Same result, ~5× faster at bench scale, and the
    * explode/partial-agg shape is what a 100 TB corpus needs anyway.
    *
    * NULL text: explode_outer keeps the row (one null token → zero votes),
    * so NULL-text documents get the same all-zero sig the array-lambda
    * form produces — the two paths stay row-for-row equivalent on
    * nullable corpora. */
  def simhashed(docs: DataFrame, idCol: String, textCol: String,
                bits: Int = 16,
                carry: Seq[(String, Column)] = Nil): DataFrame = {
    // one md5 digest yields 32 hex digits = 32 bits; wider sigs draw bits
    // 32d..32d+31 from a d-salted digest md5("d:" || token). Bits ≤ 32
    // keep the plain-md5(token) definition (= the lambda form / oracle).
    // The per-token vote mask is one codegen'd kernel call
    // ([[graft.expressions.SimhashMask]]) packing two positions per long
    // as 32-bit lanes, so the majority vote needs ⌈bits/2⌉ lane sums.
    // `carry`: per-document expressions (e.g. a blocking key) carried
    // through the explode into the vote groupBy — they must be
    // functionally dependent on the document, so adding them to the
    // grouping changes no group boundaries, only the output schema.
    val nSlots = (bits + 1) / 2
    val carried = carry.map { case (n, c) => c.as(n) }
    val ex = docs
      .select(col(idCol) +: carried :+
        explode_outer(split(col(textCol), " ")).as("t"): _*)
      .select(col(idCol) +: carry.map(c => col(c._1)) :+
        org.apache.spark.sql.GraftExpr.col(
          graft.expressions.SimhashMask(
            org.apache.spark.sql.GraftExpr.expr(col("t")), bits)).as("m"): _*)
    val votes = (0 until nSlots).map(i =>
      sum(element_at(col("m"), i + 1)).as(s"s$i"))
    val counted = ex.groupBy(col(idCol) +: carry.map(c => col(c._1)): _*)
      .agg(votes.head, (votes.tail :+ count(lit(1)).as("n")): _*)
    val lane = (p: Int) => // 1-based position p → its 32-bit lane count
      shiftright(col(s"s${(p - 1) / 2}"), ((p - 1) % 2) * 32)
        .bitwiseAND(lit(0xFFFFFFFFL))
    counted.select(col(idCol) +: carry.map(c => col(c._1)) :+
      concat((1 to bits).map(p =>
        when(lane(p) * 2 > col("n"), "1").otherwise("0")): _*).as("sig"): _*)
  }

  /** SimHash near-dup PAIRS — the step [[simhashed]] feeds: signatures
    * are blocked on `chunks` equal bit-slices (pigeonhole: two sigs
    * within hamming ≤ chunks-1 share at least one intact slice), so the
    * self-join shuffles only (slice-idx, slice) keys; candidates are then
    * filtered by exact hamming distance, computed as
    * bit_count(xor) over the numeric sigs — codegen'd built-ins, no UDF.
    * Wider sigs mean wider slices and a bigger slice alphabet (64 bits →
    * 16-bit slices → 65 536 values): on a vocabulary-dense corpus this is
    * the difference between 7.5 M and 0.6 M candidates per 5 k docs —
    * slice width is THE selectivity knob at corpus scale. 64-bit sigs
    * with 16-bit slices are sized for ~10⁵–10⁶ docs per shuffle
    * partition; for 10⁸+ use `bits = 128, chunks = 4` (32-bit slices,
    * alphabet 2³² — the `dedup_simhash_wide` configuration, whose
    * candidate growth the scale probe measures as linear where the
    * 64-bit path saturates super-linearly). */
  /** `blockCol`: optional compound blocking — candidates must share the
    * block key (e.g. language + length bucket) IN ADDITION to an intact
    * slice. The round-8 1000× probe measured why this knob exists:
    * simhash bits are majority votes, so on a homogeneous corpus the
    * slice-value distribution CONCENTRATES and Σp² (collision entropy)
    * caps what any slice alphabet can spread — the 128-bit config's
    * candidate growth turned super-linear again at 5·10⁶ docs. A block
    * key multiplies the effective key space by the block count without
    * widening signatures; the explicit trade is recall only WITHIN a
    * block (pigeonhole completeness holds per block; cross-block
    * near-dups are excluded by design, the same contract as
    * [[ngramJaccardPairs]]' blockKey). Null block keys never join. */
  /** `maxDocs`: refuse-don't-corrupt guard for the UNBLOCKED configs.
    * The repo's own 1000× probe (SCALE.md round 8) measured the simhash
    * family's candidate growth turning super-linear past ~5·10⁶
    * homogeneous documents — simhash bits are majority votes, so the
    * slice-value distribution concentrates and collision entropy (Σp²)
    * caps what ANY slice alphabet can spread; widening signatures moves
    * the level, not the exponent. Above the cap an unblocked run is a
    * quadratic-bound candidate join waiting to happen, so the operator
    * THROWS (the hot-cell-guard posture) with the measured
    * prescription: wide MinHash+LSH (linear through the same probe) or
    * a compound `blockCol` (which also disables this guard — the block
    * key multiplies the effective key space, and per-block sizing
    * becomes the caller's knob). Raise deliberately for heterogeneous
    * corpora, where vote concentration is weaker. The check is one
    * count over the input — the join it prevents is unboundedly
    * larger. */
  def simhashPairs(docs: DataFrame, idCol: String, textCol: String,
                   bits: Int = 64, chunks: Int = 4,
                   maxHamming: Int = 3,
                   blockCol: Option[Column] = None,
                   maxDocs: Long = 5L * 1000 * 1000): DataFrame = {
    require(bits % chunks == 0, "bits must divide into equal chunks")
    require(maxHamming < chunks,
      "pigeonhole blocking is only complete for maxHamming < chunks")
    if (blockCol.isEmpty) {
      val n = docs.count()
      require(n <= maxDocs,
        s"simhashPairs: $n docs exceeds maxDocs=$maxDocs for an UNBLOCKED " +
          "simhash config — the 1000x probe measured candidate growth " +
          "turning super-linear past ~5e6 homogeneous docs (vote " +
          "concentration caps any slice alphabet; SCALE.md round 8). Use " +
          "wide MinHash+LSH (minhashCandidates, measured linear), supply a " +
          "compound blockCol, or raise maxDocs deliberately for a " +
          "heterogeneous corpus")
    }
    val w = bits / chunks
    // numeric sig in 32-bit halves: conv of a full 64-bit binary string
    // would overflow the signed-long cast for sigs with the top bit set
    val nHalf = (bits + 31) / 32
    val halfCols = (0 until nHalf).map(h =>
      conv(substring(col("sig"), h * 32 + 1, math.min(32, bits - h * 32)), 2, 10)
        .cast("long").as(s"n$h"))
    val carry = blockCol.map(b => "_graft_blk" -> b).toSeq
    val blkCols = carry.map(c => col(c._1))
    // materialize the signatures before the self-join: Spark plans the
    // two join sides as separate subtrees (no exchange reuse across a
    // broadcast), which would run the token-explode + vote aggregation
    // twice. Signatures are ~9 bytes/doc — the asset a corpus-scale
    // pipeline persists anyway.
    val sigs = Lineage.truncate(simhashed(docs, idCol, textCol, bits, carry)
      .select(col(idCol).as("id") +: (col("sig") +: blkCols) ++: halfCols: _*))
    val chunkArr = array((0 until chunks).map(b =>
      substring(col("sig"), b * w + 1, w)): _*)
    val chunked = sigs.select(
      (col("id") +: blkCols) ++: (0 until nHalf).map(h => col(s"n$h")) :+
        posexplode(chunkArr).as(Seq("ci", "ck")): _*)
    val hamming = (0 until nHalf).map(h =>
      bit_count(col(s"a.n$h").bitwiseXOR(col(s"b.n$h"))))
      .reduce(_ + _).cast("long")
    val joinCond = carry.foldLeft(
      col("a.ci") === col("b.ci") && col("a.ck") === col("b.ck") &&
        col("a.id") < col("b.id")) { case (cond, (n, _)) =>
      cond && col(s"a.$n") === col(s"b.$n")
    }
    chunked.alias("a")
      .join(chunked.alias("b"), joinCond)
      .select(col("a.id").as("a_id"), col("b.id").as("b_id"),
        hamming.as("hamming"))
      // filter BEFORE distinct: only close pairs ride the dedup exchange
      // (candidates can match in up to `chunks` slices)
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** Blocked n-gram Jaccard: exact Jaccard over distinct word-shingle
    * sets, evaluated only for pairs sharing `blockKey` (e.g. language +
    * length bucket). Returns (a_id, b_id, jaccard) above `threshold`.
    *
    * `maxGramDf`: drop grams whose corpus-wide document frequency
    * exceeds the cap BEFORE the join, and compute Jaccard over the
    * surviving gram space. A gram shared by d documents contributes
    * d(d−1)/2 join incidences, so ubiquitous grams (boilerplate, stock
    * phrases) dominate the fan-in while discriminating nothing — the
    * round-7 100× probe measured the uncapped fan-in growing 625× for
    * 100× docs on the homogeneous corpus, while any fixed cap C bounds
    * it at (C−1)/2 incidences per surviving gram occurrence, linear in
    * the corpus by construction. The trade is explicit: similarity is
    * then measured over rare-gram evidence only (the standard df-cap
    * move in n-gram dedup). */
  def ngramJaccardPairs(docs: DataFrame, idCol: String, textCol: String,
                        blockKey: Column, threshold: Double, k: Int = 3,
                        maxGramDf: Option[Long] = None): DataFrame = {
    // Explode the distinct shingle sets and count shared shingles via an
    // equi-join on (block, shingle) + groupBy — never a pairwise
    // array_intersect over the block cross-product. Pairs sharing zero
    // shingles are never generated, which is exactly the candidate set a
    // positive threshold keeps anyway, and the join/agg shuffles stay
    // bounded by shared-shingle density instead of block-size².
    require(threshold > 0.0, "explode-based Jaccard never emits 0-overlap pairs")
    // Grams are interned to 64-bit rolling hashes before the join: the
    // shuffle carries (id, blk, hash) longs instead of ~20-char strings
    // and the equi-join compares longs (hash-set Jaccard — the standard
    // hashing trick; both engines hash identically so the oracle still
    // bit-matches). The shuffled-hash hint skips the SMJ sorts: gram keys
    // are near-unique, so per-partition hash maps beat sorting both sides.
    val gramHash = (s: Column) =>
      org.apache.spark.sql.GraftExpr.col(graft.expressions.RollingHash(
        org.apache.spark.sql.GraftExpr.expr(s)))
    val base = docs
      .select(col(idCol).as("id"), blockKey.as("blk"),
        array_distinct(shingles(col(textCol), k)).as("sh"))
      .select(col("id"), col("blk"),
        array_distinct(transform(col("sh"), gramHash)).as("hs"))
    val ex = maxGramDf match {
      case None =>
        // set size computed array-side — zero extra shuffles
        base.select(col("id"), col("blk"), size(col("hs")).as("n"),
          explode(col("hs")).as("h"))
      case Some(cap) =>
        require(cap > 0, "maxGramDf must be positive")
        val ex0 = base.select(col("id"), col("blk"), explode(col("hs")).as("h"))
        // df per gram hash is a compact (long, count) agg; the keep-join
        // and the per-doc size recount both ride long keys
        val keep = ex0.groupBy("h").agg(count(lit(1)).as("_df"))
          .filter(col("_df") <= cap).select("h")
        ex0.join(keep, "h")
          .withColumn("n",
            count(lit(1)).over(Window.partitionBy("id")).cast("int"))
          .select("id", "blk", "n", "h")
    }
    val inter = ex.alias("a")
      .join(ex.alias("b").hint("shuffle_hash"),
        col("a.blk") === col("b.blk") && col("a.h") === col("b.h") &&
          col("a.id") < col("b.id"))
      .groupBy(
        col("a.id").as("a_id"), col("b.id").as("b_id"),
        col("a.n").as("na"), col("b.n").as("nb"))
      .agg(count(lit(1)).cast("double").as("inter"))
    inter
      .withColumn("uni", (col("na") + col("nb")).cast("double") - col("inter"))
      .withColumn("jaccard",
        when(col("uni") > 0.0, col("inter") / col("uni")).otherwise(lit(0.0)))
      .filter(col("jaccard") >= threshold)
      .select("a_id", "b_id", "jaccard")
  }

  /** Near-dup dedup APPLIED: one surviving document per near-dup cluster
    * (the component's smallest id keeps itself; singletons survive
    * trivially) — [[minhashCandidates]] → [[connectedComponents]] →
    * filter, the full pairs→clusters→decisions pipeline in one call. */
  def nearDedupSurvivors(docs: DataFrame, idCol: String, textCol: String,
                         numHashes: Int = 8, bands: Int = 4): DataFrame = {
    val pairs = minhashCandidates(docs, idCol, textCol, numHashes, bands)
    val cc = connectedComponents(pairs, "a_id", "b_id")
    docs.join(cc, docs(idCol) === cc("id"), "left")
      .filter(col("cluster").isNull || col("cluster") === docs(idCol))
      .drop("id", "cluster")
  }

  /** Incremental exact dedup — the production shape: each arriving batch
    * dedups within itself ([[dedupKeepFirst]]) and then against the
    * corpus's digest LEDGER (32-byte digests, never the stored text),
    * and only survivors append. The ledger side ships digests alone, so
    * at 100 TB the anti join shuffles hashes, not documents — and a
    * bucketed ledger makes the batch side the only thing that moves. */
  def dedupIncremental(batch: DataFrame, idCol: String, textCol: String,
                       seenDigests: DataFrame, digestCol: String): DataFrame = {
    val h = "_graft_seen_h"
    require(!batch.columns.contains(h), s"input already has a $h column")
    dedupKeepFirst(batch, idCol, textCol)
      .join(seenDigests.select(col(digestCol).as(h)).distinct(),
        md5(col(textCol)) === col(h), "left_anti")
  }

  /** Connected components over an undirected candidate-pair list
    * (e.g. [[minhashCandidates]] output): the missing middle of the dedup
    * pipeline — pairs → CLUSTERS → survivors. Returns (id, cluster) where
    * cluster is the smallest node id in the component (deterministic rep).
    * Only nodes present in `pairs` appear; callers left-join the corpus
    * and coalesce to the row's own id for singletons.
    *
    * Algorithm: iterative min-label propagation — every node starts as its
    * own label; each round takes the min of its and its neighbors' labels;
    * fixpoint when no label changed this round (the changed flag is
    * computed in the round's own projection, so the witness is one
    * overflow-proof COUNT per round — no extra diff-join, and unlike a
    * label-sum witness it cannot alias at extreme id ranges). Rounds =
    * component diameter; near-dup clusters are near-cliques (diameter ≤
    * ~3), so this runs 2–4 rounds in practice. Each round is one
    * shuffle-join of (edges ⋈ labels) plus a partial agg — linear in
    * edges, never materializing the transitive closure.
    * [[Lineage.truncate]] cuts the per-round lineage so the plan stays
    * O(1) deep — localCheckpoint locally, upgraded to a RELIABLE
    * checkpoint automatically when the session has a checkpoint dir
    * (the 100 TB posture, executable not advisory).
    *
    * Contract: labels are exact when the loop reaches its fixpoint; if a
    * component's diameter exceeds `maxIter` (pathological for near-dup
    * graphs, normal for chain-shaped ones) the labels would be
    * non-minimal, so the operator THROWS IllegalStateException instead
    * of silently returning them — raise maxIter for chain-shaped
    * graphs. */
  def connectedComponents(pairs: DataFrame, aCol: String, bCol: String,
                          maxIter: Int = 25): DataFrame =
    connectedComponentsWithRounds(pairs, aCol, bCol, maxIter)._1

  /** [[connectedComponents]] plus the number of label-propagation rounds
    * it ran (including the fused seeding round). Rounds ≈ max component
    * diameter — the scaling probe reports it because the CC cost model at
    * 100 TB is rounds × (edges-sized join): near-dup graphs stay shallow
    * (dense clusters, small diameter), chain graphs do not. */
  def connectedComponentsWithRounds(pairs: DataFrame, aCol: String, bCol: String,
                                    maxIter: Int = 25): (DataFrame, Int) = {
    val fwd = pairs.select(col(aCol).as("src"), col(bCol).as("dst"))
    val edges = Lineage.truncate(fwd
      .union(fwd.select(col("dst").as("src"), col("src").as("dst")))
      .distinct())
    // seed with round 1 fused into initialization: label(id) = min(id,
    // direct neighbors) in the same shuffle that enumerates the nodes
    // (edges are symmetric, so every node appears as src)
    var labels = Lineage.truncate(edges.groupBy(col("src").as("id"))
      .agg(min(col("dst")).as("_nbr"))
      .select(col("id"), least(col("id"), col("_nbr")).as("cluster")))
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      val nbrMin = edges.join(labels, edges("dst") === labels("id"))
        .groupBy(col("src")).agg(min(col("cluster")).as("nbr_min"))
      // the convergence witness rides the round's OWN materializing pass
      // as an observed metric (guide §2.4: remove redundant passes) —
      // the checkpoint in Lineage.truncate executes the plan, the
      // CollectMetrics accumulator sums the changed flags as a
      // side-channel, and the former per-round count() job disappears.
      // Task retries can only OVER-count (a re-run partition adds its
      // flags again), never under-count, so a nonzero witness at true
      // fixpoint is impossible and an inflated count merely runs one
      // more (idempotent) round — the witness stays conservative.
      val flagged = labels.join(nbrMin, labels("id") === nbrMin("src"), "left")
        .select(col("id"),
          least(col("cluster"), coalesce(col("nbr_min"), col("cluster"))).as("cluster"),
          (coalesce(col("nbr_min"), col("cluster")) < col("cluster")).as("_changed"))
        .observe(s"cc_round_$i",
          coalesce(sum(col("_changed").cast("long")), lit(0L)).as("n_changed"))
        .drop("_changed")
      labels = Lineage.truncate(flagged)
      converged = flagged.queryExecution.observedMetrics
        .get(s"cc_round_$i")
        .map(_.getLong(0))
        .getOrElse(throw new IllegalStateException(
          "cc convergence metric missing after checkpoint — the round's " +
            "plan must have executed through its CollectMetrics node")) == 0L
      i += 1
    }
    if (!converged) throw new IllegalStateException(
      s"connectedComponents did not reach a fixpoint in $maxIter rounds: " +
        "a component's diameter exceeds maxIter, so labels would be " +
        "non-minimal. Raise maxIter (rounds needed = max component diameter).")
    (labels, i + 1) // +1 for the seeding round fused into initialization
  }

  /** Incremental connected-components MAINTENANCE: merge a new batch's
    * candidate edges into an existing label LEDGER without corpus-wide
    * re-propagation — the missing piece that makes a nightly near-dup
    * append cost O(batch + frontier) instead of O(corpus). Re-deriving
    * all labels each night ([[connectedComponents]] is batch-global)
    * re-pays rounds × corpus-edges per append; here the corpus-sized
    * work is two MAP-SIDE passes over the ledger (no exchange — both
    * joins broadcast batch-sized sides), and the propagation itself runs
    * on a SUPER-NODE graph with one node per touched label.
    *
    * Inputs: `ledger` = (id, cluster) for every previously-seen id
    * (cluster = its component's smallest id — [[connectedComponents]]'
    * labeling, coalesced to own id for singletons); `newIds` = the
    * batch's ids, DISJOINT from the ledger's by contract (the append
    * discipline [[dedupIncremental]] enforces upstream); `newEdges` =
    * candidate pairs incident to the batch ([[minhashCandidates]] within
    * it ∪ [[minhashCandidatesAgainst]] vs the corpus).
    *
    * Algorithm: translate each new edge to CURRENT label space (ledger
    * label for known endpoints, own id for batch ones — labels are
    * component representatives, so connecting labels connects exactly
    * the underlying components), run min-label propagation over that
    * label graph (edges = new candidate pairs, nodes = touched labels —
    * batch-frontier-sized, not corpus-sized), and broadcast the
    * resulting old→new relabeling back over the ledger. Minimality is
    * preserved: every old label is its component's min and every batch
    * label is its own id, so the min over merged labels IS the merged
    * component's min. Returns the updated full ledger (id, cluster);
    * rows of untouched components pass through the broadcast join
    * unchanged, so a caller maintaining a stored ledger can equally
    * apply the relabeling as an in-place UPDATE of touched rows only. */
  def connectedComponentsIncremental(ledger: DataFrame,
                                     newIds: DataFrame, idCol: String,
                                     newEdges: DataFrame, aCol: String, bCol: String,
                                     maxIter: Int = 25): DataFrame = {
    val (mapping, fresh) = connectedComponentsIncrementalDelta(
      ledger, newIds, idCol, newEdges, aCol, bCol, maxIter)
    val updated = ledger
      .join(broadcast(mapping), ledger("cluster") === col("_old"), "left")
      .select(ledger("id"), coalesce(col("_new"), ledger("cluster")).as("cluster"))
    updated.union(fresh)
  }

  /** [[connectedComponentsIncremental]]'s DELTA face: the
    * (old label → new label) relabeling `mapping` and the batch's
    * `fresh` (id, cluster) rows, WITHOUT applying the mapping to the
    * ledger — what a stored-ledger maintainer needs to rewrite only
    * TOUCHED rows (the mapping is touched-label-sized by contract and
    * broadcasts; `streaming_semantic_ingest` applies it under
    * bucket-pruned reads so neither side of the update ever scans the
    * whole ledger). The only ledger access here is the endpoint-label
    * lookup — an id-keyed semi-join a pmod(id, B)-bucketed ledger
    * layout prunes to the endpoints' buckets. */
  def connectedComponentsIncrementalDelta(ledger: DataFrame,
                                          newIds: DataFrame, idCol: String,
                                          newEdges: DataFrame,
                                          aCol: String, bCol: String,
                                          maxIter: Int = 25): (DataFrame, DataFrame) = {
    val ends = newEdges.select(col(aCol).as("id"))
      .union(newEdges.select(col(bCol).as("id"))).distinct()
    // labels of the edge endpoints: ONE map-side ledger pass (endpoint
    // set broadcasts; a bucketed/sorted ledger layout would prune it).
    // Materialized — it feeds both per-side joins below, and without the
    // cut Spark would plan the ledger scan once per consumer.
    val endLabels = Lineage.truncate(ledger.join(broadcast(ends), Seq("id")))
    val labelEdges = newEdges
      .select(col(aCol).as("_a"), col(bCol).as("_b"))
      .join(broadcast(endLabels.select(col("id").as("_a"), col("cluster").as("_la"))),
        Seq("_a"), "left")
      .join(broadcast(endLabels.select(col("id").as("_b"), col("cluster").as("_lb"))),
        Seq("_b"), "left")
      .select(coalesce(col("_la"), col("_a")).as("la"),
        coalesce(col("_lb"), col("_b")).as("lb"))
      .filter(col("la") =!= col("lb"))
    // min-label propagation over TOUCHED LABELS only; rounds follow the
    // label-graph diameter, edges are the new candidates — both
    // batch-sized, so the fixpoint loop never sees the corpus
    val mapping = connectedComponents(labelEdges, "la", "lb", maxIter)
      .filter(col("id") =!= col("cluster"))
      .select(col("id").as("_old"), col("cluster").as("_new"))
    val fresh = newIds.select(col(idCol).as("id"))
      .join(broadcast(mapping), col("id") === col("_old"), "left")
      .select(col("id"), coalesce(col("_new"), col("id")).as("cluster"))
    (mapping, fresh)
  }

  /** Incremental cluster maintenance, DELETION face — the takedown /
    * right-to-be-forgotten path [[connectedComponentsIncremental]]
    * cannot serve: removing a document can SPLIT its component (the
    * removed doc may be the only bridge between two near-dup groups),
    * and a split is not expressible as a label mapping — the touched
    * subgraph must genuinely re-propagate. Appending only ever MERGES;
    * deletion is the asymmetric half, and at 100 TB re-running corpus
    * CC per takedown batch is the O(corpus)-vs-O(touched) difference
    * that decides whether deletions can run nightly.
    *
    * Inputs are the two stored assets a production maintainer already
    * holds: the label ledger (id, cluster) and the LSH band index
    * (id, band, bk) — [[bandedKeys]] output, the same asset the append
    * face probes. The subgraph's edges are re-derived by the SAME band
    * self-join that built the ledger's edges, restricted to surviving
    * members of touched components, so rebuilt labels agree exactly
    * with a from-scratch CC over the remaining corpus (the oracle
    * property).
    *
    * Scale shape: the removal set broadcasts (takedown batches are
    * small); touched cluster ids broadcast (bounded by removal ×
    * cluster count); the ledger is scanned map-side twice (touched
    * membership + untouched pass-through); the band index is pruned to
    * touched members BEFORE its self-join, so re-propagation costs
    * rounds × touched-component edges, never corpus edges. Returns the
    * updated full ledger — removed ids gone, untouched rows unchanged
    * (a ledger maintainer can equally apply only the touched rows as
    * UPDATEs plus the removals as DELETEs). */
  def connectedComponentsRemove(ledger: DataFrame,
                                removeIds: DataFrame, idCol: String,
                                bandIndex: DataFrame,
                                maxIter: Int = 25): DataFrame = {
    val rm = broadcast(removeIds.select(col(idCol).as("id")).distinct())
    val touched = broadcast(
      ledger.join(rm, Seq("id")).select("cluster").distinct())
    // surviving members of touched components — takedown-frontier-sized
    val members = Lineage.truncate(
      ledger.join(touched, Seq("cluster"))
        .join(rm, Seq("id"), "left_anti")
        .select("id"))
    val mBands = bandIndex.join(members, Seq("id"))
    val subEdges = mBands.alias("a")
      .join(mBands.alias("b"),
        col("a.band") === col("b.band") && col("a.bk") === col("b.bk") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("a_id"), col("b.id").as("b_id"))
      .distinct()
    val rebuilt = connectedComponents(subEdges, "a_id", "b_id", maxIter)
      .select(col("id"), col("cluster").as("_nc"))
    val relabeled = members
      .join(rebuilt, Seq("id"), "left")
      .select(col("id"), coalesce(col("_nc"), col("id")).as("cluster"))
    ledger.join(touched, Seq("cluster"), "left_anti")
      .select("id", "cluster")
      .union(relabeled)
  }

  /** Benchmark decontamination: drop corpus documents sharing at least
    * `minShared` distinct k-shingles with ANY holdout document (the
    * eval-set leak check every training pipeline must run). Holdout
    * shingles are deduplicated across the whole holdout and broadcast —
    * eval sets are tiny next to the corpus, so the corpus never shuffles
    * for the probe; only the contaminated-id set (bounded by real leak
    * density) feeds the final anti join. */
  def decontaminate(corpus: DataFrame, idCol: String, textCol: String,
                    holdout: DataFrame, holdoutTextCol: String,
                    minShared: Int = 5, k: Int = 3): DataFrame =
    decontaminateImpl(corpus, idCol, textCol, holdout, holdoutTextCol,
      minShared, k, broadcastHoldout = true)

  private def decontaminateImpl(corpus: DataFrame, idCol: String,
                                textCol: String, holdout: DataFrame,
                                holdoutTextCol: String, minShared: Int,
                                k: Int, broadcastHoldout: Boolean): DataFrame = {
    require(minShared >= 1, "minShared must be at least 1")
    require(!corpus.columns.contains("_graft_cid"),
      "corpus already has a _graft_cid column (internal working column)")
    val cSh = corpus.select(col(idCol).as("_graft_cid"),
      explode(array_distinct(shingles(col(textCol), k))).as("_graft_s"))
    val hSh = holdout
      .select(explode(array_distinct(shingles(col(holdoutTextCol), k))).as("_graft_s"))
      .distinct()
    val contaminated = cSh
      .join(if (broadcastHoldout) broadcast(hSh) else hSh, "_graft_s")
      .groupBy("_graft_cid").agg(count(lit(1)).as("_graft_shared"))
      .filter(col("_graft_shared") >= minShared)
      .select("_graft_cid")
    corpus.join(contaminated, corpus(idCol) === contaminated("_graft_cid"), "left_anti")
  }

  /** Large-holdout decontamination — [[decontaminate]]'s broadcast
    * premise inverted: when the holdout is itself corpus-sized (another
    * training corpus to exclude, a year of eval suites, a customer
    * opt-out set), its shingle set cannot broadcast, so the probe
    * becomes a corpus-vs-holdout MinHash band join
    * ([[minhashCandidatesAgainst]] — candidates are corpus × holdout
    * collisions, never a cross product) followed by an EXACT
    * shared-shingle confirm evaluated only on candidate pairs. Corpus
    * documents are dropped when any candidate pair confirms at
    * `minShared` distinct shared 3-shingles (the band index is built on
    * the corpus-standard 3-shingles; the confirm counts the same).
    *
    * Contract vs [[decontaminate]]: recall is the LSH family's — this
    * finds VERBATIM / near-dup leakage (an eval document pasted into a
    * training page, the dominant real-world contamination mode), NOT
    * overlap scattered thinly across many holdout documents: a corpus
    * doc accumulating `minShared` shingles from holdout docs it never
    * band-collides with is invisible here (measured on the synthetic
    * corpus, whose overlap is exactly that scattered kind: 2 of the 91
    * exhaustive drops — SCALE.md round-9). [[decontaminateJoin]] is the
    * exact-semantics answer at any holdout size; this operator is the
    * cheaper probe when near-dup-level leakage is the threat model,
    * because the corpus SHINGLES never ride an exchange — only band
    * keys do, and the confirm touches candidate documents alone, on
    * BOTH sides: corpus and holdout are each doc-level semi-join-pruned
    * to their candidate ids before anything explodes, so a corpus-sized
    * holdout ships leak-density-sized shingles, not its whole text.
    * `k` is the shingle width used by the band index AND the exact
    * confirm (one k end-to-end — a probe standardized on k≠3 stays
    * consistent). */
  def decontaminateBanded(corpus: DataFrame, idCol: String, textCol: String,
                          holdout: DataFrame, holdoutIdCol: String,
                          holdoutTextCol: String,
                          minShared: Int = 5,
                          numHashes: Int = 8, bands: Int = 4,
                          k: Int = 3): DataFrame = {
    require(minShared >= 1, "minShared must be at least 1")
    Seq("_graft_dc_cid", "_graft_dc_hid", "_graft_dc_s", "_graft_dc_n")
      .foreach(c => require(!corpus.columns.contains(c),
        s"corpus already has a $c column"))
    val h = holdout.select(col(holdoutIdCol).as(idCol),
      col(holdoutTextCol).as(textCol))
    val candPairs = minhashCandidatesAgainst(
        corpus.select(col(idCol), col(textCol)), h,
        idCol, textCol, numHashes, bands, k)
      .select(col("batch_id").as("_graft_dc_cid"),
        col("corpus_id").as("_graft_dc_hid"))
    // shingle EACH side only for documents with a live candidate
    // (doc-level semi join BEFORE the explode: the pruned frames are
    // leak-density-sized, so the confirm never shingles the whole
    // corpus — nor the whole holdout, which for the corpus-sized-
    // holdout use case is just as large)
    val corpusCand = corpus
      .join(candPairs.select(col("_graft_dc_cid")).distinct(),
        corpus(idCol) === col("_graft_dc_cid"), "left_semi")
    val holdoutCand = h
      .join(candPairs.select(col("_graft_dc_hid")).distinct(),
        h(idCol) === col("_graft_dc_hid"), "left_semi")
    val cSh = corpusCand.select(col(idCol).as("_graft_dc_cid"),
      explode(array_distinct(shingles(col(textCol), k))).as("_graft_dc_s"))
    val hSh = holdoutCand.select(col(idCol).as("_graft_dc_hid"),
      explode(array_distinct(shingles(col(textCol), k))).as("_graft_dc_s"))
    // pooled confirm — the same "distinct shingles shared with the
    // holdout" count [[decontaminate]] uses, restricted to the union of
    // a document's CANDIDATE holdout docs (not per-pair, so two
    // colliding holdout docs contributing 3 shingles each still confirm
    // at minShared = 5)
    val contaminated = candPairs
      .join(hSh, "_graft_dc_hid")
      .select(col("_graft_dc_cid"), col("_graft_dc_s")).distinct()
      .join(cSh, Seq("_graft_dc_cid", "_graft_dc_s"))
      .groupBy(col("_graft_dc_cid"))
      .agg(count(lit(1)).as("_graft_dc_n"))
      .filter(col("_graft_dc_n") >= minShared)
      .select(col("_graft_dc_cid"))
    corpus.join(contaminated,
      corpus(idCol) === contaminated("_graft_dc_cid"), "left_anti")
  }

  /** Exact decontamination for holdouts too large to broadcast —
    * IDENTICAL semantics to [[decontaminate]] (drop every corpus
    * document sharing ≥ `minShared` distinct k-shingles with the
    * holdout, pooled across the whole holdout) with the broadcast
    * replaced by a plain shuffle equi-join on the shingle: the
    * exhaustive answer at ANY holdout size, where [[decontaminateBanded]]
    * trades recall for never shuffling corpus shingles at all.
    *
    * Scale shape: holdout shingles dedup to one row per distinct
    * shingle, so the join fans out nothing (each corpus shingle row
    * matches at most once); both sides exchange once on the shingle.
    * A stop-phrase-hot shingle skews its join partition — AQE's skew
    * split handles it (the probe side is one row per key, so salting
    * buys nothing). The contaminated-id set is leak-density-bounded and
    * drives the same anti join as the broadcast form. */
  def decontaminateJoin(corpus: DataFrame, idCol: String, textCol: String,
                        holdout: DataFrame, holdoutTextCol: String,
                        minShared: Int = 5, k: Int = 3): DataFrame =
    decontaminateImpl(corpus, idCol, textCol, holdout, holdoutTextCol,
      minShared, k, broadcastHoldout = false)

  /** Exact-dedup group view: one row per distinct md5(text), keeping
    * the smallest id (deterministic winner, standard keep-first policy). */
  def exactGroups(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.groupBy(md5(col(textCol)).as("h"))
      .agg(count(lit(1)).as("cnt"), min(col(idCol)).as("keep_id"))

  /** Exact-dedup applied: the SURVIVING rows (full payload), EXACTLY one
    * per distinct text — smallest id wins (row_number, so a duplicated id
    * still yields a single survivor, arbitrary among its exact id-ties).
    * One shuffle on the digest, no self-join back to the corpus, and the
    * document text never rides the exchange twice (the window carries
    * the already-projected row once). This is the operator a training
    * pipeline actually runs; [[exactGroups]] is its audit view. */
  /** QUALITY-AWARE survivor selection over a near-dup cluster labeling
    * — the keep/drop decision production curation actually executes:
    * [[dedupKeepFirst]] keeps the smallest id (arbitrary but cheap);
    * keeping the BEST-scoring member of each cluster (highest `score`,
    * ties to the smaller id) retains the cleanest copy of every
    * near-dup family instead of whichever arrived first. `clusters`:
    * (id, cluster) — [[connectedComponents]]' shape; documents absent
    * from the labeling are singletons and survive unconditionally.
    * The rank-window key NAMESPACES labeled rows ("c:" + label) apart
    * from singleton fallbacks ("s:" + id), so an ARBITRARY labeling
    * whose label happens to equal the id of a document absent from it
    * can never pull that singleton into the cluster's window (with
    * [[connectedComponents]]' min-member-id labels the collision was
    * already impossible — the label's own doc is in the labeling —
    * but the contract only requires the (id, cluster) shape).
    * One left join on the id key + one per-cluster rank window — the
    * exchange carries (id, cluster, score), never the text. Returns
    * the surviving docs rows plus the score under `scoreOut`. */
  def keepBestPerCluster(docs: DataFrame, idCol: String,
                         clusters: DataFrame, score: Column,
                         scoreOut: String = "score"): DataFrame = {
    val rn = "_graft_best_rn"
    val cl = "_graft_best_cl"
    val cid = "_graft_best_id"
    // the cluster side renames to private columns BEFORE the join so a
    // docs column named "id" or "cluster" can neither collide in the
    // coalesce nor be silently swallowed by a post-join drop
    require(!docs.columns.exists(Set(rn, cl, cid).contains),
      s"input already has a $rn/$cl/$cid column")
    val cl2 = clusters.select(col("id").as(cid), col("cluster").as(cl))
    docs
      .join(cl2, docs(idCol) === col(cid), "left")
      .withColumn(cl, when(col(cl).isNotNull,
          concat(lit("c:"), col(cl).cast("string")))
        .otherwise(concat(lit("s:"), col(idCol).cast("string"))))
      .drop(cid)
      .withColumn(scoreOut, score)
      .withColumn(rn, row_number().over(
        Window.partitionBy(col(cl))
          .orderBy(col(scoreOut).desc, col(idCol).asc)))
      .filter(col(rn) === 1)
      .drop(rn, cl)
  }

  def dedupKeepFirst(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val rn = "_graft_dedup_rn"
    require(!docs.columns.contains(rn), s"input already has a $rn column")
    val w = Window.partitionBy(md5(col(textCol))).orderBy(col(idCol))
    docs.withColumn(rn, row_number().over(w))
      .filter(col(rn) === 1)
      .drop(rn)
  }

  /** Sub-document EXACT span dedup — the practical, alignment-fixed form
    * of suffix-array substring dedup ("Deduplicating Training Data Makes
    * Language Models Better": repeated long substrings are removed from
    * every occurrence but the first; boilerplate headers, license
    * blocks, and templated passages recur across documents that are NOT
    * whole-document duplicates, so document-level dedup never sees
    * them). Each document is cut into consecutive `spanWords`-word
    * aligned windows; a span survives iff it is the FIRST occurrence of
    * its text corpus-wide (global (id, span_idx) order — deterministic,
    * partition-independent); each document is re-emitted with only its
    * surviving spans, in order.
    *
    * Scale shape — the text crosses the wire ONCE: winner election runs
    * on (digest, id, idx) rows only (~48 bytes/span, and it is a
    * partial-aggregatable min-of-struct, NOT a window, so a boilerplate
    * span duplicated a billion times combines map-side instead of
    * hot-keying one reducer); the surviving-index sets aggregate to one
    * small array row per document; only the final doc-level join ships
    * the corpus text, and reassembly (slice words by surviving index) is
    * a map-side higher-order-function projection. Alignment means a
    * one-word prefix shift defeats a match — the standard trade
    * (suffix-array sensitivity at shuffle-join cost would need the
    * distributed SA-IS construction); overlapping windows or a rolling
    * fingerprint pre-filter tighten recall at `1/step`× more span rows.
    *
    * Output: the input columns plus `text_dedup` (surviving spans joined
    * by a single space; empty string when nothing survives),
    * `spans_total`, `spans_kept`. Rows with null text pass through with
    * null text_dedup and zero counts. */
  def dedupSpans(docs: DataFrame, idCol: String, textCol: String,
                 spanWords: Int = 50): DataFrame =
    reassembleSpans(docs, idCol, textCol, spanWords,
      electFirstSpans(spanHashFrame(docs, idCol, textCol, spanWords))
        .drop("_graft_sp_h"))

  /** Incremental face of [[dedupSpans]] — the nightly-append shape: the
    * arriving batch elects first occurrences WITHIN itself, then drops
    * every span whose digest is already in the corpus span LEDGER (the
    * stored asset a production append reads; 16-byte digests, never
    * stored text — [[dedupIncremental]]'s posture at span granularity).
    * The anti join ships batch winner digests against the ledger; the
    * batch text still crosses the wire exactly once, in the final
    * doc-level join. Survivor spans' digests are what the maintainer
    * appends back to the ledger. */
  def dedupSpansIncremental(batch: DataFrame, idCol: String, textCol: String,
                            spanLedger: DataFrame, digestCol: String,
                            spanWords: Int = 50): DataFrame = {
    val winners = electFirstSpans(
        spanHashFrame(batch, idCol, textCol, spanWords))
      .join(spanLedger.select(col(digestCol).as("_graft_sp_h")).distinct(),
        Seq("_graft_sp_h"), "left_anti")
      .drop("_graft_sp_h")
    reassembleSpans(batch, idCol, textCol, spanWords, winners)
  }

  /** (id, idx, digest) rows of [[dedupSpans]]' aligned windows — the
    * span text is hashed map-side and dropped, so downstream exchanges
    * carry ~48 bytes/span. */
  private def spanHashFrame(docs: DataFrame, idCol: String, textCol: String,
                            spanWords: Int): DataFrame = {
    require(spanWords > 0, "spanWords must be positive")
    val k = spanWords
    Seq("_graft_sp_id", "_graft_sp_idx", "_graft_sp_h", "_graft_sp_kept")
      .foreach(c => require(!docs.columns.contains(c),
        s"input already has a $c column"))
    val words = split(col(textCol), " ")
    docs
      .filter(col(textCol).isNotNull)
      .select(col(idCol).as("_graft_sp_id"), words.as("_w"),
        explode(sequence(lit(0),
          ((size(words) - 1) / k).cast("int"))).as("_graft_sp_idx"))
      .select(col("_graft_sp_id"), col("_graft_sp_idx"),
        md5(array_join(
          slice(col("_w"), col("_graft_sp_idx") * k + 1, lit(k)), " "))
          .as("_graft_sp_h"))
  }

  /** First occurrence per digest, global (id, idx) order: min(struct)
    * partial-aggregates — no window, so a billion-fold duplicated span
    * combines map-side. Keeps the digest column (the incremental face
    * anti-joins it against the ledger). */
  private def electFirstSpans(spanHashes: DataFrame): DataFrame =
    spanHashes
      .groupBy("_graft_sp_h")
      .agg(min(struct(col("_graft_sp_id"), col("_graft_sp_idx"))).as("_win"))
      .select(col("_graft_sp_h"),
        col("_win._graft_sp_id").as("_graft_sp_id"),
        col("_win._graft_sp_idx").as("_graft_sp_idx"))

  /** Rebuild each document from its surviving span indices: the winner
    * set aggregates to one small array row per doc, the corpus text
    * rides only the doc-level join, and the slice-and-rejoin is a
    * map-side higher-order-function projection. */
  private def reassembleSpans(docs: DataFrame, idCol: String,
                              textCol: String, spanWords: Int,
                              winners: DataFrame): DataFrame = {
    val k = spanWords
    val keptPerDoc = winners
      .groupBy("_graft_sp_id")
      .agg(sort_array(collect_list(col("_graft_sp_idx"))).as("_graft_sp_kept"))
    docs
      .join(keptPerDoc, docs(idCol) === keptPerDoc("_graft_sp_id"), "left")
      .withColumn("_graft_sp_kept",
        when(col(textCol).isNull, lit(null))
          .otherwise(coalesce(col("_graft_sp_kept"),
            array().cast("array<int>"))))
      .withColumn("text_dedup",
        array_join(
          transform(col("_graft_sp_kept"),
            i => array_join(
              slice(split(col(textCol), " "), i * k + 1, lit(k)), " ")),
          " "))
      .withColumn("spans_total",
        when(col(textCol).isNull, lit(0))
          .otherwise(((size(split(col(textCol), " ")) - 1) / k).cast("int") + 1))
      // size(NULL) is -1 under non-ANSI defaults, so gate on the text
      .withColumn("spans_kept",
        when(col(textCol).isNull, lit(0))
          .otherwise(size(col("_graft_sp_kept"))))
      .drop("_graft_sp_id", "_graft_sp_kept")
  }
}
