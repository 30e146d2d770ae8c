package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** [[Manifest]] / [[TxServeStack]] — the atomic multi-asset commit
  * protocol. The load-bearing claims: (1) nothing written before the
  * manifest swap is visible to a reader; (2) a crash after ALL asset
  * writes but before the swap replays to the exact state a
  * straight-through run produces; (3) the batch-id high-water mark
  * makes replay of a committed batch a no-op. */
class ManifestSpec extends SparkSpec {
  import spark.implicits._

  private def corpus = Seq(
    (0L, "the quick brown fox"),
    (1L, "the lazy dog sleeps"),
    (2L, "quick dogs and lazy foxes"),
    (3L, "a fox a dog a fox")
  ).toDF("doc_id", "text")

  private def snapshot(root: String): (Set[String], Set[String], Seq[String]) = {
    val (p, s, g) = TxServeStack.resolve(spark, root)
    (p.collect().map(_.toString).toSet,
     s.collect().map(_.toString).toSet,
     g.collect().map(_.toString).toSeq)
  }

  test("manifest read/commit round-trip; missing manifest resolves to None") {
    val dir = java.nio.file.Files.createTempDirectory("graft_mftrt")
    try {
      assert(Manifest.read(spark, dir.toString).isEmpty)
      // the fence rejects a first commit whose version is not 0 (a
      // state derived from a cut this dir never committed)
      intercept[Manifest.CommitConflict] {
        Manifest.commit(spark, dir.toString,
          Manifest.State(3L, 2L, 3L, Map(0 -> 1L)))
      }
      val st = Manifest.State(0L, 2L, 0L, Map(0 -> 0L, 5 -> 0L),
        auxV = Map(2 -> 0L), pos = true)
      Manifest.commit(spark, dir.toString, st)
      assert(Manifest.read(spark, dir.toString).contains(st))
      // re-commit overwrites (the pointer swap)
      val st2 = st.copy(version = 1L, batchId = 3L)
      Manifest.commit(spark, dir.toString, st2)
      assert(Manifest.read(spark, dir.toString).contains(st2))
    } finally {
      graft.queries.FixtureCache.deleteRecursively(dir)
    }
  }

  test("uncommitted asset writes are invisible; replay converges to the straight-through state") {
    val dirA = java.nio.file.Files.createTempDirectory("graft_mfta")
    val dirB = java.nio.file.Files.createTempDirectory("graft_mftb")
    try {
      val b0 = corpus.filter($"doc_id" < 2)
      val b1 = corpus.filter($"doc_id" >= 2)
      // path A: straight through
      TxServeStack.commitBatch(spark, dirA.toString, b0, 0L,
        "doc_id", "text", 4, 4)
      TxServeStack.commitBatch(spark, dirA.toString, b1, 1L,
        "doc_id", "text", 4, 4)
      // path B: batch 1 crashes AFTER all asset writes, BEFORE commit
      TxServeStack.commitBatch(spark, dirB.toString, b0, 0L,
        "doc_id", "text", 4, 4)
      val afterB0 = snapshot(dirB.toString)
      TxServeStack.commitBatch(spark, dirB.toString, b1, 1L,
        "doc_id", "text", 4, 4, publish = false)
      // invisibility: a reader sees exactly the batch-0 state
      assert(snapshot(dirB.toString) == afterB0,
        "assets written before the manifest swap leaked to a reader")
      assert(Manifest.read(spark, dirB.toString).get.batchId == 0L)
      // replay of the crashed batch (same id, full run incl. commit)
      TxServeStack.commitBatch(spark, dirB.toString, b1, 1L,
        "doc_id", "text", 4, 4)
      assert(snapshot(dirB.toString) == snapshot(dirA.toString),
        "crash + replay drifted from the straight-through run")
    } finally {
      graft.queries.FixtureCache.deleteRecursively(dirA)
      graft.queries.FixtureCache.deleteRecursively(dirB)
    }
  }

  test("batch-id high-water mark: a committed batch replays as a no-op") {
    val dir = java.nio.file.Files.createTempDirectory("graft_mfthw")
    try {
      val b0 = corpus.filter($"doc_id" < 2)
      assert(TxServeStack.commitBatch(spark, dir.toString, b0, 0L,
        "doc_id", "text", 4, 4))
      val s0 = snapshot(dir.toString)
      val v0 = Manifest.read(spark, dir.toString).get.version
      // replay: returns false, state byte-identical (version unmoved)
      assert(!TxServeStack.commitBatch(spark, dir.toString, b0, 0L,
        "doc_id", "text", 4, 4))
      assert(snapshot(dir.toString) == s0)
      assert(Manifest.read(spark, dir.toString).get.version == v0)
    } finally {
      graft.queries.FixtureCache.deleteRecursively(dir)
    }
  }

  test("compactPostings: serve bit-identical; 1-file-per-bucket base; crash face invisible; later appends compose") {
    val dir = java.nio.file.Files.createTempDirectory("graft_mftcp")
    try {
      TxServeStack.commitBatch(spark, dir.toString,
        corpus.filter($"doc_id" < 2), 0L, "doc_id", "text", 4, 4)
      TxServeStack.commitBatch(spark, dir.toString,
        corpus.filter($"doc_id" >= 2), 1L, "doc_id", "text", 4, 4)
      val before = snapshot(dir.toString)
      // crash face: base written, manifest not swapped — invisible
      TxServeStack.compactPostings(spark, dir.toString, publish = false)
      assert(snapshot(dir.toString) == before,
        "an uncommitted compaction leaked to a reader")
      assert(Manifest.read(spark, dir.toString).get.baseV == -1L)
      // committed compaction: same serve, base pointer moves
      assert(TxServeStack.compactPostings(spark, dir.toString))
      val stC = Manifest.read(spark, dir.toString).get
      assert(stC.baseV >= 0 && stC.baseBatch == 1L)
      assert(snapshot(dir.toString) == before,
        "compaction changed the served state")
      // consolidated base holds one file per bucket
      val baseDir = s"${dir.toString}/postings/base/v=${stC.baseV}"
      val counts = Ledger.bucketFileCounts(spark, baseDir)
      assert(counts.nonEmpty && counts.values.forall(_ == 1),
        s"base must hold one file per bucket: $counts")
      // an append after compaction composes with the base
      val more = Seq((4L, "brown dog jumps the fence"),
        (5L, "sleepy foxes dream")).toDF("doc_id", "text")
      TxServeStack.commitBatch(spark, dir.toString, more, 2L,
        "doc_id", "text", 4, 4)
      val (p, _, g) = TxServeStack.resolve(spark, dir.toString)
      val all = corpus.unionByName(more)
      val wantP = Retrieval.withDocNorms(
        Retrieval.bm25IndexBuild(all, "doc_id", "text"))
      assert(p.exceptAll(wantP).isEmpty && wantP.exceptAll(p).isEmpty,
        "post-compaction append drifted from a from-scratch build")
      val wantG = Retrieval.bm25GlobalStatsBuild(
        Retrieval.bm25IndexBuild(all, "doc_id", "text")).collect().toSeq
      assert(g.collect().toSeq == wantG)
    } finally {
      graft.queries.FixtureCache.deleteRecursively(dir)
    }
  }

  test("rebucket: serve bit-identical under the new keyspaces; crash face leaves the old numbering; post-migration commits compose") {
    val dir = java.nio.file.Files.createTempDirectory("graft_mftrb")
    try {
      TxServeStack.commitBatch(spark, dir.toString,
        corpus.filter($"doc_id" < 2), 0L, "doc_id", "text", 4, 4)
      TxServeStack.commitBatch(spark, dir.toString,
        corpus.filter($"doc_id" >= 2), 1L, "doc_id", "text", 4, 4)
      val before = snapshot(dir.toString)
      val pinsBefore = Manifest.read(spark, dir.toString).get.statsV
      // crash face: all three asset rewrites landed, swap did not —
      // the old keyspaces keep serving, pin map untouched
      TxServeStack.rebucket(spark, dir.toString, 8, 8, publish = false)
      assert(snapshot(dir.toString) == before,
        "an uncommitted re-bucket leaked to a reader")
      assert(Manifest.read(spark, dir.toString).get.statsV == pinsBefore)
      // committed migration: same rows, both pin maps on the new keyspace
      assert(TxServeStack.rebucket(spark, dir.toString, 8, 8))
      assert(snapshot(dir.toString) == before,
        "the re-bucket changed the served state")
      val stM = Manifest.read(spark, dir.toString).get
      assert(stM.statsV.values.forall(_ == stM.version),
        s"stats pins must move wholesale: ${stM.statsV}")
      // the new stats numbering prunes correctly: one term's elected
      // bucket under B'=8 reads ONLY that bucket's directory
      val qb = Ledger.keyHashBuckets(Seq("fox").toDF("term"), "term", 8)
      val (_, sPruned, _) = TxServeStack.resolve(spark, dir.toString,
        statsBuckets = Some(qb))
      val sf = sPruned.inputFiles
      assert(sf.nonEmpty && sf.forall(f => qb.exists(b => f.contains(s"/bkt=$b/"))),
        s"pruned stats read outside its elected buckets: ${sf.take(3).mkString(",")}")
      assert(sPruned.filter($"term" === "fox").count() == 1L)
      // post-migration append under B'=8 composes to a from-scratch build
      val more = Seq((4L, "brown dog jumps the fence")).toDF("doc_id", "text")
      TxServeStack.commitBatch(spark, dir.toString, more, 2L,
        "doc_id", "text", 8, 8)
      val (p, _, g) = TxServeStack.resolve(spark, dir.toString)
      val all = corpus.unionByName(more)
      val wantP = Retrieval.withDocNorms(
        Retrieval.bm25IndexBuild(all, "doc_id", "text"))
      assert(p.exceptAll(wantP).isEmpty && wantP.exceptAll(p).isEmpty,
        "post-migration append drifted from a from-scratch build")
      val wantG = Retrieval.bm25GlobalStatsBuild(
        Retrieval.bm25IndexBuild(all, "doc_id", "text")).collect().toSeq
      assert(g.collect().toSeq == wantG)
    } finally {
      graft.queries.FixtureCache.deleteRecursively(dir)
    }
  }

  test("snapshot reads: readAt pins an old consistent cut; refuses torn and future versions") {
    val dir = java.nio.file.Files.createTempDirectory("graft_mftsn")
    try {
      TxServeStack.commitBatch(spark, dir.toString,
        corpus.filter($"doc_id" < 2), 0L, "doc_id", "text", 4, 4)
      val afterB0 = snapshot(dir.toString)
      val v0 = Manifest.read(spark, dir.toString).get.version
      TxServeStack.commitBatch(spark, dir.toString,
        corpus.filter($"doc_id" >= 2), 1L, "doc_id", "text", 4, 4)
      assert(snapshot(dir.toString) != afterB0) // the head moved on
      // time travel: the pinned old version serves the batch-0 cut
      val (p, s, g) = TxServeStack.resolve(spark, dir.toString,
        version = Some(v0))
      assert((p.collect().map(_.toString).toSet,
        s.collect().map(_.toString).toSet,
        g.collect().map(_.toString).toSeq) == afterB0,
        "snapshot read drifted from the state committed as that version")
      // a version the pointer never reached is invisible, even if a
      // crashed batch left its history file behind
      val cur = Manifest.read(spark, dir.toString).get
      assert(Manifest.readAt(spark, dir.toString, cur.version + 1).isEmpty)
      TxServeStack.commitBatch(spark, dir.toString,
        Seq((9L, "orphan page text")).toDF("doc_id", "text"), 2L,
        "doc_id", "text", 4, 4, publish = false)
      assert(Manifest.readAt(spark, dir.toString, cur.version + 1).isEmpty,
        "a torn history file leaked through readAt")
    } finally {
      graft.queries.FixtureCache.deleteRecursively(dir)
    }
  }

  test("vacuum: deletes superseded/orphaned/compacted-away paths, keeps every retained pin, bounds time travel") {
    val dir = java.nio.file.Files.createTempDirectory("graft_mftvc")
    try {
      val root = dir.toString
      TxServeStack.commitBatch(spark, root,
        corpus.filter($"doc_id" < 2), 0L, "doc_id", "text", 4, 4)
      val v0 = Manifest.read(spark, root).get.version
      TxServeStack.commitBatch(spark, root,
        corpus.filter($"doc_id" >= 2), 1L, "doc_id", "text", 4, 4)
      assert(TxServeStack.compactPostings(spark, root))
      // a crashed batch leaves orphan asset writes
      TxServeStack.commitBatch(spark, root,
        Seq((9L, "orphan page text")).toDF("doc_id", "text"), 7L,
        "doc_id", "text", 4, 4, publish = false)
      val before = snapshot(root)
      // retain 1 prior version: v0's pins must survive this vacuum
      val stats1 = TxServeStack.vacuum(spark, root, retainVersions = 2)
      assert(stats1.deletedDirs > 0, "orphans/superseded dirs must go")
      assert(snapshot(root) == before, "vacuum changed the served state")
      assert(Manifest.readAt(spark, root, v0).nonEmpty)
      val (pOld, _, _) = TxServeStack.resolve(spark, root,
        version = Some(v0))
      assert(pOld.count() > 0, "a retained snapshot must still serve")
      // retain nothing: history below the head retires, time travel ends
      val stats2 = TxServeStack.vacuum(spark, root, retainVersions = 0)
      assert(stats2.deletedManifests > 0)
      assert(Manifest.readAt(spark, root, v0).isEmpty,
        "vacuum must retire history below the retention floor")
      assert(snapshot(root) == before,
        "retain-0 vacuum changed the served state")
      // post-compaction + vacuum: superseded pre-base batch dirs gone
      val f = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(spark.sessionState.newHadoopConf())
      val batchDirs = f.listStatus(
        new org.apache.hadoop.fs.Path(s"$root/postings")).toSeq
        .map(_.getPath.getName).filter(_.startsWith("batch="))
      assert(batchDirs.isEmpty,
        s"compacted-away delta dirs survived vacuum: $batchDirs")
      // idempotent: nothing left to reclaim
      assert(TxServeStack.vacuum(spark, root).deletedDirs == 0)
      // a stack with NO history files (pre-snapshot-feature, or lost)
      // must still vacuum safely: the pointer state always retains
      f.listStatus(new org.apache.hadoop.fs.Path(root)).toSeq
        .map(_.getPath).filter(_.getName.startsWith("manifest.v="))
        .foreach(p => f.delete(p, false))
      TxServeStack.vacuum(spark, root, retainVersions = 0)
      assert(snapshot(root) == before,
        "vacuum on a history-less stack swept live pinned assets")
      // and the stack still APPENDS after a full vacuum
      TxServeStack.commitBatch(spark, root,
        Seq((4L, "brown dog jumps")).toDF("doc_id", "text"), 8L,
        "doc_id", "text", 4, 4)
      val (p, _, _) = TxServeStack.resolve(spark, root)
      assert(p.filter($"doc_id" === 4L).count() > 0)
    } finally {
      graft.queries.FixtureCache.deleteRecursively(dir)
    }
  }

  test("commitDelete: tombstone + exact stats fold == from-scratch survivors; era semantics; compaction purges") {
    val dir = java.nio.file.Files.createTempDirectory("graft_mftdl")
    try {
      val root = dir.toString
      TxServeStack.commitBatch(spark, root,
        corpus.filter($"doc_id" < 2), 0L, "doc_id", "text", 4, 4)
      TxServeStack.commitBatch(spark, root,
        corpus.filter($"doc_id" >= 2), 1L, "doc_id", "text", 4, 4)
      // crash face: tombstone + stats written, swap skipped
      val before = snapshot(root)
      TxServeStack.commitDelete(spark, root,
        Seq(1L, 3L).toDF("doc_id"), 2L, "doc_id", 4, 4, publish = false)
      assert(snapshot(root) == before, "uncommitted delete leaked")
      // committed: the whole stack equals a from-scratch survivor build
      assert(TxServeStack.commitDelete(spark, root,
        Seq(1L, 3L).toDF("doc_id"), 2L, "doc_id", 4, 4))
      val survivors = corpus.filter(!$"doc_id".isin(1L, 3L))
      val ledger = Retrieval.bm25IndexBuild(survivors, "doc_id", "text")
      val (p, s, g) = TxServeStack.resolve(spark, root)
      val wantP = Retrieval.withDocNorms(ledger)
      assert(p.exceptAll(wantP).isEmpty && wantP.exceptAll(p).isEmpty,
        "tombstoned postings drifted from a survivor build")
      val wantS = Retrieval.bm25TermStatsBuild(ledger)
      assert(s.exceptAll(wantS).isEmpty && wantS.exceptAll(s).isEmpty,
        "decremented stats drifted from a survivor build")
      assert(g.collect().toSeq ==
        Retrieval.bm25GlobalStatsBuild(ledger).collect().toSeq,
        "decremented global drifted from a survivor build")
      val afterDelete = snapshot(root)
      // double-delete replays as a stat-exact no-op
      assert(TxServeStack.commitDelete(spark, root,
        Seq(1L).toDF("doc_id"), 3L, "doc_id", 4, 4))
      assert(snapshot(root) == afterDelete,
        "double-delete moved the stats")
      // ordered tombstones: a post-delete re-ingest LANDS (born after
      // the tombstone's asof) — the whole stack equals a from-scratch
      // build of the corpus with only doc 3 still deleted
      TxServeStack.commitBatch(spark, root,
        corpus.filter($"doc_id" === 1L), 4L, "doc_id", "text", 4, 4)
      val afterReadd = snapshot(root)
      val led2 = Retrieval.bm25IndexBuild(
        corpus.filter($"doc_id" =!= 3L), "doc_id", "text")
      val (pR, sR, gR) = TxServeStack.resolve(spark, root)
      val wantP2 = Retrieval.withDocNorms(led2)
      assert(pR.exceptAll(wantP2).isEmpty && wantP2.exceptAll(pR).isEmpty,
        "post-delete re-ingest did not land as a new document")
      val wantS2 = Retrieval.bm25TermStatsBuild(led2)
      assert(sR.exceptAll(wantS2).isEmpty && wantS2.exceptAll(sR).isEmpty,
        "re-ingest stats drifted from the from-scratch build")
      assert(gR.collect().toSeq ==
        Retrieval.bm25GlobalStatsBuild(led2).collect().toSeq)
      // compaction purges tombstones, serve unchanged
      assert(TxServeStack.compactPostings(spark, root))
      assert(snapshot(root) == afterReadd,
        "compaction changed the served state")
    } finally {
      graft.queries.FixtureCache.deleteRecursively(dir)
    }
  }

  test("commitUpsert: one commit replaces documents — postings, stats, and global equal a from-scratch build of the updated corpus") {
    val dir = java.nio.file.Files.createTempDirectory("graft_mftup")
    try {
      val root = dir.toString
      TxServeStack.commitBatch(spark, root,
        corpus.filter($"doc_id" < 2), 0L, "doc_id", "text", 4, 4)
      TxServeStack.commitBatch(spark, root,
        corpus.filter($"doc_id" >= 2), 1L, "doc_id", "text", 4, 4)
      // upsert: doc 1 gets new text, doc 9 is brand new (pure insert)
      val up = Seq((1L, "the dog barks at noon"),
        (9L, "a brand new page")).toDF("doc_id", "text")
      val before = snapshot(root)
      TxServeStack.commitUpsert(spark, root, up, 2L,
        "doc_id", "text", 4, 4, publish = false)
      assert(snapshot(root) == before, "uncommitted upsert leaked")
      assert(TxServeStack.commitUpsert(spark, root, up, 2L,
        "doc_id", "text", 4, 4))
      val updated = corpus.filter($"doc_id" =!= 1L).unionByName(up)
      val ledger = Retrieval.bm25IndexBuild(updated, "doc_id", "text")
      val (p, s, g) = TxServeStack.resolve(spark, root)
      val wantP = Retrieval.withDocNorms(ledger)
      assert(p.exceptAll(wantP).isEmpty && wantP.exceptAll(p).isEmpty,
        "upserted postings drifted from a from-scratch updated build")
      val wantS = Retrieval.bm25TermStatsBuild(ledger)
      assert(s.exceptAll(wantS).isEmpty && wantS.exceptAll(s).isEmpty,
        "upsert stats fold drifted from a from-scratch updated build")
      assert(g.collect().toSeq ==
        Retrieval.bm25GlobalStatsBuild(ledger).collect().toSeq,
        "upsert global fold drifted")
      // upsert twice more (doc 1 again) — last writer wins
      val up2 = Seq((1L, "the dog sleeps again")).toDF("doc_id", "text")
      TxServeStack.commitUpsert(spark, root, up2, 3L,
        "doc_id", "text", 4, 4)
      val updated2 = updated.filter($"doc_id" =!= 1L).unionByName(up2)
      val ledger2 = Retrieval.bm25IndexBuild(updated2, "doc_id", "text")
      val (p2, s2, _) = TxServeStack.resolve(spark, root)
      val wantP3 = Retrieval.withDocNorms(ledger2)
      assert(p2.exceptAll(wantP3).isEmpty && wantP3.exceptAll(p2).isEmpty,
        "second upsert of the same id is not last-writer-wins")
      val wantS3 = Retrieval.bm25TermStatsBuild(ledger2)
      assert(s2.exceptAll(wantS3).isEmpty && wantS3.exceptAll(s2).isEmpty)
      // compaction carries the updated state
      assert(TxServeStack.compactPostings(spark, root))
      val (p3, _, _) = TxServeStack.resolve(spark, root)
      assert(p3.exceptAll(wantP3).isEmpty && wantP3.exceptAll(p3).isEmpty,
        "compaction lost upserted state")
    } finally {
      graft.queries.FixtureCache.deleteRecursively(dir)
    }
  }

  test("positional family: delete/upsert ride the shared tombstone; compaction carries both assets in one swap") {
    val dir = java.nio.file.Files.createTempDirectory("graft_mftpos")
    try {
      val root = dir.toString
      TxServeStack.commitBatch(spark, root,
        corpus.filter($"doc_id" < 2), 0L, "doc_id", "text", 4, 4,
        positions = true)
      TxServeStack.commitBatch(spark, root,
        corpus.filter($"doc_id" >= 2), 1L, "doc_id", "text", 4, 4,
        positions = true)
      def live = TxServeStack.resolvePositions(spark, root)
      def want(dcs: org.apache.spark.sql.DataFrame) =
        Retrieval.positionalIndexBuild(dcs, "doc_id", "text")
      def eq(a: org.apache.spark.sql.DataFrame,
             b: org.apache.spark.sql.DataFrame) =
        a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty
      assert(eq(live, want(corpus)),
        "drained positions drifted from a from-scratch build")
      // delete retires the doc's positional rows via the SAME tombstone
      TxServeStack.commitDelete(spark, root,
        Seq(1L).toDF("doc_id"), 2L, "doc_id", 4, 4)
      assert(eq(live, want(corpus.filter($"doc_id" =!= 1L))),
        "delete did not retire positional rows")
      // upsert replaces the doc's positions in the same commit
      val up = Seq((0L, "fox then dog then fox")).toDF("doc_id", "text")
      TxServeStack.commitUpsert(spark, root, up, 3L,
        "doc_id", "text", 4, 4, positions = true)
      val updated = corpus.filter($"doc_id" > 1L).unionByName(up)
      assert(eq(live, want(updated)),
        "upsert did not replace positional rows")
      // compaction consolidates BOTH families under one base pointer
      assert(TxServeStack.compactPostings(spark, root))
      assert(eq(live, want(updated)),
        "compaction lost or duplicated positional rows")
      val st = Manifest.read(spark, root).get
      val f = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(spark.sessionState.newHadoopConf())
      assert(f.exists(new org.apache.hadoop.fs.Path(
        s"$root/positions/base/v=${st.baseV}")),
        "positions must compact into the same base version")
      // vacuum sweeps the compacted-away positional deltas too
      TxServeStack.vacuum(spark, root)
      val strays = f.listStatus(
        new org.apache.hadoop.fs.Path(s"$root/positions")).toSeq
        .map(_.getPath.getName).filter(_.startsWith("batch="))
      assert(strays.isEmpty,
        s"compacted-away positional deltas survived vacuum: $strays")
      assert(eq(live, want(updated)))
      // re-bucket moves the positional family to the NEW term keyspace
      // in the same swap, bit-identically; a phrase append after the
      // migration composes under B'
      assert(TxServeStack.rebucket(spark, root, 8, 8))
      assert(eq(live, want(updated)),
        "re-bucket changed the served positional rows")
      val more = Seq((9L, "dog before fox")).toDF("doc_id", "text")
      TxServeStack.commitBatch(spark, root, more, 4L,
        "doc_id", "text", 8, 8, positions = true)
      assert(eq(live, want(updated.unionByName(more))),
        "post-migration positional append drifted from a from-scratch build")
    } finally {
      graft.queries.FixtureCache.deleteRecursively(dir)
    }
  }

  test("writer fence: a commit derived from a superseded cut aborts; re-derivation retries cleanly and keeps the winner's pins") {
    val dir = java.nio.file.Files.createTempDirectory("graft_mftcas")
    try {
      val root = dir.toString
      TxServeStack.commitBatch(spark, root,
        corpus.filter($"doc_id" < 2), 0L, "doc_id", "text", 4, 4)
      TxServeStack.commitBatch(spark, root,
        corpus.filter($"doc_id" >= 2), 1L, "doc_id", "text", 4, 4)
      // interleave: a compactor derives its commit from the current
      // head and writes its versioned base...
      val stale = Manifest.read(spark, root).get
      TxServeStack.compactPostings(spark, root, publish = false)
      // ...but before its swap, a delete commits and moves the pointer
      assert(TxServeStack.commitDelete(spark, root,
        Seq(1L).toDF("doc_id"), 2L, "doc_id", 4, 4))
      val winner = Manifest.read(spark, root).get
      // the compactor's stale swap must ABORT, not drop the delete
      val ex = intercept[Manifest.CommitConflict] {
        Manifest.commit(spark, root, stale.copy(
          version = stale.version + 1,
          baseV = stale.version + 1, baseBatch = stale.batchId))
      }
      assert(ex.found == winner.version)
      assert(Manifest.read(spark, root).get == winner,
        "a fenced commit must leave the winner's pointer untouched")
      // clean retry: re-derive from the advanced head — the winner's
      // tombstone survives the retried compaction
      assert(TxServeStack.compactPostings(spark, root))
      val survivors = corpus.filter($"doc_id" =!= 1L)
      val (p, _, _) = TxServeStack.resolve(spark, root)
      val wantP = Retrieval.withDocNorms(
        Retrieval.bm25IndexBuild(survivors, "doc_id", "text"))
      assert(p.exceptAll(wantP).isEmpty && wantP.exceptAll(p).isEmpty,
        "the retried compaction lost the winner's delete")
      // a replayed crashed batch still commits: same derived version,
      // pointer unmoved — the fence only rejects ADVANCED pointers
      TxServeStack.commitBatch(spark, root,
        Seq((7L, "replayed page")).toDF("doc_id", "text"), 3L,
        "doc_id", "text", 4, 4, publish = false)
      assert(TxServeStack.commitBatch(spark, root,
        Seq((7L, "replayed page")).toDF("doc_id", "text"), 3L,
        "doc_id", "text", 4, 4))
    } finally {
      graft.queries.FixtureCache.deleteRecursively(dir)
    }
  }

  test("cross-process fence: history-file CAS — exactly one winner, loser rolls the pointer forward and retries cleanly, own replay heals") {
    val dir = java.nio.file.Files.createTempDirectory("graft_mftxp")
    try {
      val root = dir.toString
      Manifest.commit(spark, root,
        Manifest.State(0L, 0L, -1L, Map.empty))
      // a FOREIGN process derived version 1 from the same cut, published
      // its history file (the atomic create-exclusive step) and crashed
      // before its pointer swap — the in-process lock cannot see it, the
      // version CAS cannot see it (the pointer is still at 0); only the
      // history-file CAS can
      val foreign = Manifest.State(1L, 100L, -1L, Map.empty)
      java.nio.file.Files.write(dir.resolve("manifest.v=1"),
        foreign.render.getBytes("UTF-8"))
      val ours = Manifest.State(1L, 1L, -1L, Map.empty)
      val ex = intercept[Manifest.CommitConflict] {
        Manifest.commit(spark, root, ours)
      }
      assert(ex.found == 1L)
      // the loser ROLLED the crashed winner's pointer FORWARD — the
      // stack is un-wedged, not stuck conflicting on version 1 forever
      assert(Manifest.read(spark, root).contains(foreign),
        "the loser must heal the winner's unswapped pointer")
      // clean retry: re-derive from the advanced head and win version 2
      val retry = foreign.copy(version = 2L, batchId = 101L)
      Manifest.commit(spark, root, retry)
      assert(Manifest.read(spark, root).contains(retry))
      // OWN replay heal: a commit that crashed after publishing its
      // history file re-derives byte-identical content — the CAS loss
      // resolves as "already ours", the pointer swap completes
      val replay = retry.copy(version = 3L, batchId = 102L)
      java.nio.file.Files.write(dir.resolve("manifest.v=3"),
        replay.render.getBytes("UTF-8"))
      Manifest.commit(spark, root, replay) // must NOT throw
      assert(Manifest.read(spark, root).contains(replay))
      // snapshot reads see every version the fence let through
      assert(Manifest.readAt(spark, root, 1L).contains(foreign))
      assert(Manifest.readAt(spark, root, 2L).contains(retry))
      // no scratch leftovers from the exclusive-publish machinery
      val strays = dir.toFile.listFiles().toSeq.map(_.getName)
        .filter(_.startsWith("manifest.tmp-"))
      assert(strays.isEmpty, s"scratch files leaked: $strays")
      // an unparseable foreign history file must abort loudly, not
      // brick the pointer with garbage
      java.nio.file.Files.write(dir.resolve("manifest.v=4"),
        "not a manifest".getBytes("UTF-8"))
      intercept[IllegalStateException] {
        Manifest.commit(spark, root, replay.copy(version = 4L))
      }
      assert(Manifest.read(spark, root).contains(replay),
        "a garbage history file must leave the pointer untouched")
    } finally {
      graft.queries.FixtureCache.deleteRecursively(dir)
    }
  }

  test("same-face attempt tokens: a crashed same-ordinal attempt's writes are disjoint orphans; vacuum reclaims them, serve untouched") {
    val dir = java.nio.file.Files.createTempDirectory("graft_mfttok")
    try {
      val root = dir.toString
      TxServeStack.commitBatch(spark, root,
        corpus.filter($"doc_id" < 2), 0L, "doc_id", "text", 4, 4)
      // attempt A at the next ordinal: all asset writes land, commit
      // does not (the same-face race's loser / a crashed committer)
      TxServeStack.commitBatch(spark, root,
        corpus.filter($"doc_id" >= 2), 1L, "doc_id", "text", 4, 4,
        publish = false)
      // attempt B at the SAME ordinal commits — under ordinal-keyed
      // paths A's mode("overwrite") writes would have shared B's
      // directories; under attempt tokens they are disjoint
      TxServeStack.commitBatch(spark, root,
        corpus.filter($"doc_id" >= 2), 1L, "doc_id", "text", 4, 4)
      val served = snapshot(root)
      val stats = new java.io.File(dir.toFile, "stats")
        .listFiles().toSeq.filter(_.isDirectory).map(_.getName).toSet
      val pinned = Manifest.read(spark, root).get.statsV.values.toSet
        .map((v: Long) => s"v=$v")
      assert(pinned.subsetOf(stats), "every pin must resolve on disk")
      assert(stats.size > pinned.size,
        s"the crashed attempt must own DISJOINT directories: $stats")
      // the orphans are invisible garbage; vacuum reclaims them and the
      // committed serve is bit-identical
      val vs = TxServeStack.vacuum(spark, root)
      assert(vs.deletedDirs > 0, "vacuum must reclaim the orphan attempt")
      assert(snapshot(root) == served,
        "reclaiming orphans changed the served state")
    } finally {
      graft.queries.FixtureCache.deleteRecursively(dir)
    }
  }

  test("positional family is stack-derived: a later commit omitting the flag still lands replacements") {
    val dir = java.nio.file.Files.createTempDirectory("graft_mftpd")
    try {
      val root = dir.toString
      TxServeStack.commitBatch(spark, root, corpus, 0L,
        "doc_id", "text", 4, 4, positions = true)
      assert(Manifest.read(spark, root).get.pos,
        "the manifest must record the positional family")
      // upsert WITHOUT positions = true: the stack knows better — the
      // shared tombstone retires doc 0's old positional rows AND the
      // replacements land (pre-fix, phrase serves silently lost doc 0)
      val up = Seq((0L, "fox then dog then fox")).toDF("doc_id", "text")
      TxServeStack.commitUpsert(spark, root, up, 1L,
        "doc_id", "text", 4, 4)
      val updated = corpus.filter($"doc_id" =!= 0L).unionByName(up)
      val live = TxServeStack.resolvePositions(spark, root)
      val want = Retrieval.positionalIndexBuild(updated, "doc_id", "text")
      assert(live.exceptAll(want).isEmpty && want.exceptAll(live).isEmpty,
        "a flag-less upsert on a positional stack tore the families")
      // plain append without the flag: the fresh doc's positions land
      TxServeStack.commitBatch(spark, root,
        Seq((9L, "a brand new page")).toDF("doc_id", "text"), 2L,
        "doc_id", "text", 4, 4)
      assert(TxServeStack.resolvePositions(spark, root)
        .filter($"doc_id" === 9L).count() > 0,
        "a flag-less append on a positional stack skipped the family")
    } finally {
      graft.queries.FixtureCache.deleteRecursively(dir)
    }
  }

  test("vacuum skips unparseable manifest-prefixed strays instead of aborting mid-sweep") {
    val dir = java.nio.file.Files.createTempDirectory("graft_mftst")
    try {
      val root = dir.toString
      TxServeStack.commitBatch(spark, root, corpus, 0L,
        "doc_id", "text", 4, 4)
      TxServeStack.commitBatch(spark, root,
        Seq((8L, "more text here")).toDF("doc_id", "text"), 1L,
        "doc_id", "text", 4, 4)
      // a foreign file matching the history prefix but not the format
      val stray = dir.resolve("manifest.v=0~")
      java.nio.file.Files.writeString(stray, "editor backup")
      val before = snapshot(root)
      val vs = TxServeStack.vacuum(spark, root, retainVersions = 0)
      assert(vs.deletedManifests > 0, "retired history must still sweep")
      assert(java.nio.file.Files.exists(stray),
        "an unrecognized file must be skipped, not deleted")
      assert(snapshot(root) == before)
    } finally {
      graft.queries.FixtureCache.deleteRecursively(dir)
    }
  }

  test("withConflictRetry: retries conflicts, rethrows on exhaustion, passes other throws") {
    var runs = 0
    assert(Manifest.withConflictRetry(3) {
      runs += 1
      if (runs < 3) throw Manifest.CommitConflict("/x", 1L, 1L)
      42
    } == 42)
    assert(runs == 3)
    intercept[Manifest.CommitConflict] {
      Manifest.withConflictRetry(2) {
        throw Manifest.CommitConflict("/x", 1L, 1L)
      }
    }
    intercept[IllegalStateException] {
      Manifest.withConflictRetry(3) {
        throw new IllegalStateException("not a conflict")
      }
    }
    intercept[IllegalArgumentException] {
      Manifest.withConflictRetry(0)(42)
    }
  }

  test("tx stack serve == in-place ledgers built from the same corpus") {
    val dir = java.nio.file.Files.createTempDirectory("graft_mfteq")
    try {
      TxServeStack.commitBatch(spark, dir.toString,
        corpus.filter($"doc_id" < 2), 0L, "doc_id", "text", 4, 4)
      TxServeStack.commitBatch(spark, dir.toString,
        corpus.filter($"doc_id" >= 2), 1L, "doc_id", "text", 4, 4)
      val (p, s, g) = TxServeStack.resolve(spark, dir.toString)
      val ledger = Retrieval.bm25IndexBuild(corpus, "doc_id", "text")
      val wantP = Retrieval.withDocNorms(ledger)
      assert(p.exceptAll(wantP).isEmpty && wantP.exceptAll(p).isEmpty,
        "manifest-resolved postings drifted from a from-scratch build")
      val wantS = Retrieval.bm25TermStatsBuild(ledger)
      assert(s.exceptAll(wantS).isEmpty && wantS.exceptAll(s).isEmpty,
        "manifest-resolved term stats drifted from a from-scratch build")
      val wantG = Retrieval.bm25GlobalStatsBuild(ledger).collect().toSeq
      assert(g.collect().toSeq == wantG,
        "manifest-resolved global stats drifted from a from-scratch build")
    } finally {
      graft.queries.FixtureCache.deleteRecursively(dir)
    }
  }

  test("pointer swaps leave no scratch files or checksum sidecars; " +
    "vacuum reclaims sidecars an earlier swap leaked") {
    val dir = java.nio.file.Files.createTempDirectory("graft_mftcrc")
    try {
      val root = dir.toString
      TxTableStack.init(spark, root, "k LONG, lang STRING")
      for (i <- 0 to 3)
        assert(TxTableStack.commitBatch(spark, root,
          Seq((i.toLong, s"v$i")).toDF("k", "lang"), i.toLong, "k", 4))
      def scratch = dir.toFile.listFiles().toSeq.map(_.getName)
        .filter(n => n.startsWith("manifest.tmp-") ||
          (n.startsWith(".manifest.tmp-") && n.endsWith(".crc")))
      assert(scratch.isEmpty, s"commits left scratch files: $scratch")
      // a sidecar the checksummed scratch create used to leave behind
      java.nio.file.Files.write(dir.resolve(".manifest.tmp-2-0f0f.crc"),
        Array[Byte](1, 2, 3))
      TxTableStack.vacuum(spark, root)
      assert(scratch.isEmpty, s"vacuum left scratch files: $scratch")
      assert(TxTableStack.resolve(spark, root).count() == 4L)
    } finally {
      graft.queries.FixtureCache.deleteRecursively(dir)
    }
  }

  test("a manifest rendered before the delta chain existed parses with " +
    "an empty chain, re-renders byte-identically, and keeps serving") {
    val dir = java.nio.file.Files.createTempDirectory("graft_mftold")
    try {
      val root = dir.toString
      TxTableStack.init(spark, root, "k LONG, lang STRING")
      assert(TxTableStack.commitBatch(spark, root,
        Seq((1L, "pt"), (2L, "en")).toDF("k", "lang"), 0L, "k", 4))
      val st = Manifest.read(spark, root).get
      // the exact layout every manifest had before `deltas=` existed
      val old = s"version=${st.version}\nbatch=0\nglobal=-1\n" +
        "stats=" + st.statsV.toSeq.sorted.map { case (b, v) => s"$b:$v" }
          .mkString(",") +
        s"\nbase=-1\nbasebatch=-1\naux=\npos=0\nschema=${st.schema}\n"
      java.nio.file.Files.write(dir.resolve("manifest"),
        old.getBytes("UTF-8"))
      val parsed = Manifest.read(spark, root).get
      assert(parsed.deltas.isEmpty && parsed.deltaKey == -1)
      assert(parsed.render == old)
      assert(TxTableStack.resolve(spark, root).orderBy("k").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSeq ==
        Seq((1L, "pt"), (2L, "en")))
      // the next commit appends the table's first delta on top of it
      assert(TxTableStack.commitBatch(spark, root,
        Seq((2L, "de")).toDF("k", "lang"), 1L, "k", 4))
      val next = Manifest.read(spark, root).get
      assert(next.deltas.size == 1 && next.statsV == st.statsV)
      assert(next.render.contains("\ndeltas=") &&
        Manifest.read(spark, root).contains(next))
      assert(TxTableStack.resolve(spark, root).orderBy("k").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSeq ==
        Seq((1L, "pt"), (2L, "de")))
    } finally {
      graft.queries.FixtureCache.deleteRecursively(dir)
    }
  }
}
