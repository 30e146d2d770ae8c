package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

/** Vacuum and pinned-read behaviour, pinned once for EVERY manifest
  * stack and the catalog. Each case builds a short history — a
  * rebucket or compaction where the stack has one, and an unswapped
  * (`publish = false`) write where it has that face — then vacuums at
  * retain 1 and at retain 0 and checks:
  *
  *  1. every retained cut resolves to the same rows before and after;
  *  2. the directories left under the root are exactly the retained
  *     cuts' pins (the spec's own model of each layout, independent of
  *     the stack's code), and history below the floor is gone;
  *  3. every top-level directory the stack wrote belongs to one of its
  *     families, and those are the families the stack declares — a
  *     family no declaration names is never swept. */
class FamilyVacuumSpec extends StackFixtures {
  import spark.implicits._

  /** One stack under test. `pins` maps a retained state to the asset
    * dirs it pins (`must` exist) and the batch-window dirs it MAY pin
    * (a batch need not have written every row-append family);
    * `containers` are dirs that may stand empty (family roots, `base`,
    * the catalog's `tags`). */
  private case class Case(
      name: String,
      build: String => Unit,
      rows: (String, Long) => Seq[String],
      pins: Manifest.State => (Set[String], Set[String]),
      families: Set[String],
      declared: Seq[Manifest.Family],
      containers: Set[String],
      vacuum: (String, Int) => TxServeStack.VacuumStats,
      floor: (String, Long, Int) => Long = (_, head, r) => head - r)

  private def bucketed(fam: String, p: Map[Int, Long]): Set[String] =
    p.map { case (b, v) => s"$fam/v=$v/bkt=$b" }.toSet

  private def appended(fam: String, st: Manifest.State)
      : (Set[String], Set[String]) =
    ((if (st.baseV >= 0) Set(s"$fam/base/v=${st.baseV}") else Set.empty),
      ((st.baseBatch + 1) to st.batchId).map(b => s"$fam/batch=$b").toSet)

  private def merge(ps: (Set[String], Set[String])*) =
    (ps.flatMap(_._1).toSet, ps.flatMap(_._2).toSet)

  private def historyVersions(root: String): Set[Long] = {
    val base = new Path(root)
    base.getFileSystem(spark.sessionState.newHadoopConf()).listStatus(base)
      .map(_.getPath.getName).filter(_.startsWith("manifest.v="))
      .map(_.drop(11).toLong).toSet
  }

  private def within(d: String, p: String) = d == p || d.startsWith(p + "/")

  private def run(c: Case): Unit = {
    val dir = java.nio.file.Files.createTempDirectory(s"graft_fv_${c.name}")
    try {
      val root = dir.resolve("root").toString
      c.build(root)
      val tops = dirsUnder(root).filterNot(_.contains("/"))
      assert((tops -- c.families -- c.containers).isEmpty,
        s"${c.name}: dirs outside every family: ${tops -- c.families -- c.containers}")
      assert(c.declared.map(_.dir).toSet == c.families,
        s"${c.name}: declared families ${c.declared.map(_.dir)}")
      val head = Manifest.read(spark, root).get.version
      for (r <- Seq(1, 0)) {
        val floor = c.floor(root, head, r)
        val retained = (floor to head).filter(v =>
          Manifest.readAt(spark, root, v).isDefined)
        val before = retained.map(v => v -> c.rows(root, v)).toMap
        c.vacuum(root, r)
        retained.foreach { v =>
          assert(c.rows(root, v) == before(v),
            s"${c.name}: retain $r vacuum changed the rows of version $v")
        }
        val states = retained.map(v => Manifest.readAt(spark, root, v).get)
        val (must, may) = merge(states.map(c.pins): _*)
        val left = dirsUnder(root)
        val allowed = must ++ may
        val stray = left.filterNot(d => c.containers(d) ||
          allowed.exists(p => within(d, p) || within(p, d)))
        assert(stray.isEmpty, s"${c.name}: retain $r left unpinned dirs $stray")
        assert((must -- left).isEmpty,
          s"${c.name}: retain $r deleted pinned dirs ${must -- left}")
        assert(historyVersions(root).forall(_ >= floor),
          s"${c.name}: retain $r kept history below the floor $floor")
      }
    } finally graft.queries.FixtureCache.deleteRecursively(dir)
  }

  // ---- serve (lexical) -------------------------------------------------

  test("serve stack: vacuum keeps exactly the retained pins and rows") {
    run(Case("serve",
      build = { root =>
        TxServeStack.commitBatch(spark, root, docs(0L to 5L), 0L, "doc_id",
          "text", 4, 4, positions = true)
        TxServeStack.commitBatch(spark, root, docs(6L to 9L), 1L, "doc_id",
          "text", 4, 4)
        TxServeStack.commitDelete(spark, root, Seq(1L, 7L).toDF("doc_id"),
          2L, "doc_id", 4, 4)
        TxServeStack.compactPostings(spark, root)
        TxServeStack.commitUpsert(spark, root, docs(Seq(2L, 11L), 1), 3L,
          "doc_id", "text", 4, 4)
        TxServeStack.commitDelete(spark, root, Seq(3L).toDF("doc_id"),
          4L, "doc_id", 4, 4)
        TxServeStack.rebucket(spark, root, 2, 8)
        TxServeStack.commitBatch(spark, root, docs(12L to 14L), 5L, "doc_id",
          "text", 2, 8, publish = false)
      },
      rows = { (root, v) =>
        val (p, s, g) = TxServeStack.resolve(spark, root, version = Some(v))
        tagged("p", p) ++ tagged("s", s) ++ tagged("g", g) ++
          tagged("x", TxServeStack.resolvePositions(spark, root,
            version = Some(v)))
      },
      pins = st => merge(
        (bucketed("stats", st.statsV) + s"global/v=${st.globalV}", Set.empty),
        appended("postings", st), appended("positions", st),
        (Set.empty, appended("deletes", st)._2)),
      families = Set("postings", "positions", "stats", "global", "deletes"),
      declared = TxServeStack.families,
      containers = Set("postings", "positions", "stats", "global", "deletes",
        "postings/base", "positions/base"),
      vacuum = (root, r) => TxServeStack.vacuum(spark, root, r)))
  }

  // ---- vector ----------------------------------------------------------

  test("vector stack: vacuum keeps exactly the retained pins and rows") {
    val corpus = emb.filter($"vec_id" < 40).cache()
    run(Case("vector",
      build = { root =>
        TxVectorStack.init(spark, root, vcent(0), vcb(0))
        TxVectorStack.commitBatch(spark, root, corpus.filter($"vec_id" < 20),
          0L, "vec_id", "embedding", buckets = 4)
        TxVectorStack.commitDelete(spark, root, Seq(3L, 5L).toDF("vec_id"),
          1L, "vec_id", buckets = 4)
        TxVectorStack.refresh(spark, root, corpus, vcent(16), vcb(16),
          "vec_id", "embedding", buckets = 4)
        TxVectorStack.commitUpsert(spark, root,
          corpus.filter($"vec_id" >= 18 && $"vec_id" < 30), 2L, "vec_id",
          "embedding", buckets = 4)
        TxVectorStack.commitDelete(spark, root, Seq(19L).toDF("vec_id"),
          3L, "vec_id", buckets = 4)
        TxVectorStack.commitBatch(spark, root, corpus.filter($"vec_id" >= 30),
          4L, "vec_id", "embedding", buckets = 4, publish = false)
      },
      rows = { (root, v) =>
        val (codes, c, b) = TxVectorStack.resolve(spark, root, Some(v))
        tagged("c", codes) ++ tagged("q", c) ++ tagged("b", b)
      },
      pins = st => merge((Set(s"quant/v=${st.globalV}"), Set.empty),
        appended("codes", st), (Set.empty, appended("deletes", st)._2)),
      families = Set("codes", "quant", "deletes"),
      declared = TxVectorStack.families,
      containers = Set("codes", "quant", "deletes", "codes/base"),
      vacuum = (root, r) => TxVectorStack.vacuum(spark, root, r)))
  }

  // ---- sketch ----------------------------------------------------------

  test("sketch stack: vacuum keeps exactly the retained pins and rows") {
    run(Case("sketch",
      build = { root =>
        TxSketchStack.init(spark, root)
        TxSketchStack.commitBatch(spark, root,
          events(Seq("a", "b", "c", "d"), 1L to 4L), 0L, "key", "user", 4)
        TxSketchStack.commitBatch(spark, root,
          events(Seq("a", "e"), 3L to 9L), 1L, "key", "user", 4)
        TxSketchStack.rebucket(spark, root, 8)
        TxSketchStack.commitReplace(spark, root, events(Seq("b"), 1L to 2L),
          Seq("c").toDF("key"), 2L, "key", "user", 8)
        TxSketchStack.commitBatch(spark, root, events(Seq("f"), 1L to 3L),
          3L, "key", "user", 8, publish = false)
      },
      rows = (root, v) => canon(TxSketchStack.resolve(spark, root,
        version = Some(v))),
      pins = st => (bucketed("sketch", st.statsV), Set.empty),
      families = Set("sketch"),
      declared = TxSketchStack.families,
      containers = Set("sketch"),
      vacuum = (root, r) => TxSketchStack.vacuum(spark, root, r)))
  }

  // ---- split -----------------------------------------------------------

  test("split ledger: vacuum keeps exactly the retained pins and rows") {
    run(Case("split",
      build = { root =>
        splitWithConflicts(root)
        TxSplitStack.rebucket(spark, root, 8)
        TxSplitStack.commitAssign(spark, root, (30L to 33L).toDF("doc_id"),
          Seq((30L, 30L)).toDF("id", "cluster"), 2L, "doc_id", splits,
          buckets = 8)
        TxSplitStack.commitAssign(spark, root, (40L to 41L).toDF("doc_id"),
          Seq((40L, 40L)).toDF("id", "cluster"), 3L, "doc_id", splits,
          buckets = 8, publish = false)
      },
      rows = (root, v) =>
        tagged("a", TxSplitStack.resolve(spark, root, Some(v))) ++
          tagged("q", TxSplitStack.quarantineIncremental(spark, root,
            Some(v))),
      pins = st => (bucketed("assign", st.statsV) ++
        bucketed("conflict", st.auxV), Set.empty),
      families = Set("assign", "conflict"),
      declared = TxSplitStack.families,
      containers = Set("assign", "conflict"),
      vacuum = (root, r) => TxSplitStack.vacuum(spark, root, r)))
  }

  // ---- graph -----------------------------------------------------------

  test("graph stack: vacuum keeps exactly the retained pins and rows") {
    val corpusDir = java.nio.file.Files.createTempDirectory("graft_fv_gcorp")
    try {
      val corpus = graphCorpus(corpusDir.toString, 20)
      def commit(root: String, ids: Seq[Int], id: Long, b: Int,
                 publish: Boolean = true) =
        TxGraphStack.commitBatch(spark, root, corpus, gvecs(ids), id,
          "vec_id", "embedding", k = 2, buckets = b, beam = 3, hops = 2,
          maxDegree = 3, corpusBuckets = Some(4), publish = publish)
      run(Case("graph",
        build = { root =>
          TxGraphStack.init(spark, root, baseGraph(corpus, 10), buckets = 4)
          commit(root, 10 to 13, 0L, 4)
          TxGraphStack.commitRemove(spark, root, Seq(2L).toDF("vec_id"), 1L,
            "vec_id", buckets = 4)
          TxGraphStack.commitRepair(spark, root, corpus, 2L, "vec_id",
            "embedding", k = 2, buckets = 4, beam = 3, hops = 2, maxDegree = 3)
          TxGraphStack.compactEdges(spark, root)
          TxGraphStack.commitRemove(spark, root, Seq(5L).toDF("vec_id"), 3L,
            "vec_id", buckets = 4)
          TxGraphStack.rebucket(spark, root, 8)
          commit(root, 14 to 16, 4L, 8)
          commit(root, 17 to 19, 5L, 8, publish = false)
        },
        rows = (root, v) => canon(TxGraphStack.resolve(spark, root,
          version = Some(v))),
        pins = st => (bucketed("edges", st.statsV) ++ bucketed("tomb", st.auxV),
          Set.empty),
        families = Set("edges", "tomb"),
        declared = TxGraphStack.families,
        containers = Set("edges", "tomb"),
        vacuum = (root, r) => TxGraphStack.vacuum(spark, root, r)))
    } finally graft.queries.FixtureCache.deleteRecursively(corpusDir)
  }

  // ---- semantic --------------------------------------------------------

  test("semantic stack: vacuum keeps exactly the retained pins and rows") {
    val base = svecs(0 until 10)
    val all = svecs(0 until 18)
    val cb = Similarity.pqCodebookSeed(base, "vec_id", "embedding",
      m = 8, ksub = 4, subDim = 8)
    def commit(root: String, ids: Seq[Int], id: Long, publish: Boolean = true) =
      TxSemanticStack.commitBatch(spark, root, svecs(ids), id, cb, all,
        "vec_id", "embedding", threshold = 0.95, prefix = 2, buckets = 4,
        publish = publish)
    run(Case("semantic",
      build = { root =>
        val pairs0 = Similarity.semanticPqPairs(base, cb, "vec_id",
          "embedding", threshold = 0.95, prefix = 2)
        val cc0 = Dedup.connectedComponents(pairs0, "a_id", "b_id")
        val ledger0 = base.select($"vec_id".as("id"))
          .join(cc0, Seq("id"), "left")
          .select($"id", coalesce($"cluster", $"id").as("cluster"))
        TxSemanticStack.init(spark, root, ledger0, Similarity.semanticBlockIndex(
          base, cb, "vec_id", "embedding", prefix = 2), buckets = 4)
        commit(root, 10 until 14, 0L)
        TxSemanticStack.commitRemove(spark, root, Seq(8L).toDF("vec_id"), 1L,
          all, "vec_id", "embedding", threshold = 0.95, buckets = 4)
        commit(root, 14 until 16, 2L)
        commit(root, 16 until 18, 3L, publish = false)
      },
      rows = (root, v) =>
        tagged("i", TxSemanticStack.resolveLabels(spark, root, version = Some(v))) ++
          tagged("c", TxSemanticStack.resolveLabelsByCluster(spark, root,
            version = Some(v))) ++
          tagged("k", TxSemanticStack.resolveBlockIndex(spark, root,
            version = Some(v))),
      pins = st => merge((bucketed("labels", st.statsV) ++
        bucketed("labels_by_cluster", st.auxV), Set.empty),
        appended("blkidx", st), (Set.empty, appended("deletes", st)._2)),
      families = Set("labels", "labels_by_cluster", "blkidx", "deletes"),
      declared = TxSemanticStack.families,
      containers = Set("labels", "labels_by_cluster", "blkidx", "deletes",
        "blkidx/base"),
      vacuum = (root, r) => TxSemanticStack.vacuum(spark, root, r)))
  }

  // ---- views over the sketch / serve / split stacks --------------------

  test("view stack: vacuum keeps exactly the retained pins and rows") {
    val up = java.nio.file.Files.createTempDirectory("graft_fv_vup").toString
    val grpOf: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
      c => length(c).cast("string")
    try {
      TxSketchStack.init(spark, up)
      TxSketchStack.commitBatch(spark, up,
        events(Seq("aa", "ab", "bbb"), 1L to 5L), 0L, "key", "user", 4)
      run(Case("view",
        build = { root =>
          TxViewStack.build(spark, root, up, grpOf, 4)
          TxSketchStack.commitBatch(spark, up,
            events(Seq("aa", "cccc"), 4L to 9L), 1L, "key", "user", 4)
          TxViewStack.refresh(spark, root, up, 1L, grpOf, 4)
          TxSketchStack.commitReplace(spark, up, events(Seq("ab"), 1L to 2L),
            Seq("bbb").toDF("key"), 2L, "key", "user", 4)
          TxViewStack.refresh(spark, root, up, 2L, grpOf, 4)
          TxSketchStack.commitBatch(spark, up, events(Seq("dd"), 1L to 2L),
            3L, "key", "user", 4)
          TxViewStack.refresh(spark, root, up, 3L, grpOf, 4, publish = false)
        },
        rows = (root, v) => canon(TxViewStack.members(spark, root,
          version = Some(v))),
        pins = st => (bucketed("members", st.statsV), Set.empty),
        families = Set("members"),
        declared = TxViewStack.families,
        containers = Set("members"),
        vacuum = (root, r) => TxViewStack.vacuum(spark, root, r)))
    } finally graft.queries.FixtureCache.deleteRecursively(
      java.nio.file.Paths.get(up))
  }

  test("join-view stack: vacuum keeps exactly the retained pins and rows") {
    val lex = java.nio.file.Files.createTempDirectory("graft_fv_jlex").toString
    val spl = java.nio.file.Files.createTempDirectory("graft_fv_jspl").toString
    def self(ids: Seq[Long]) = ids.map(i => (i, i)).toDF("id", "cluster")
    try {
      TxServeStack.commitBatch(spark, lex, docs(0L to 3L), 0L, "doc_id",
        "text", 4, 4)
      TxSplitStack.init(spark, spl)
      TxSplitStack.commitAssign(spark, spl, (0L to 2L).toDF("doc_id"),
        self(0L to 2L), 0L, "doc_id", splits, buckets = 4)
      run(Case("joinview",
        build = { root =>
          TxJoinViewStack.build(spark, root, lex, spl, 4)
          TxServeStack.commitBatch(spark, lex, docs(4L to 6L), 1L, "doc_id",
            "text", 4, 4)
          TxJoinViewStack.refreshLex(spark, root, lex, 1L, 4, 4)
          TxSplitStack.commitAssign(spark, spl, (3L to 5L).toDF("doc_id"),
            self(3L to 5L), 1L, "doc_id", splits, buckets = 4)
          TxJoinViewStack.refreshSplit(spark, root, spl, 2L, 4)
          TxServeStack.commitDelete(spark, lex, Seq(0L).toDF("doc_id"), 2L,
            "doc_id", 4, 4)
          TxJoinViewStack.refreshLex(spark, root, lex, 2L, 4, 4)
          TxServeStack.commitBatch(spark, lex, docs(7L to 8L), 3L, "doc_id",
            "text", 4, 4)
          TxJoinViewStack.refreshLex(spark, root, lex, 3L, 4, 4,
            publish = false)
        },
        rows = (root, v) => canon(TxJoinViewStack.members(spark, root, Some(v))),
        pins = st => (bucketed("members", st.statsV), Set.empty),
        families = Set("members"),
        declared = TxJoinViewStack.families,
        containers = Set("members"),
        vacuum = (root, r) => TxJoinViewStack.vacuum(spark, root, r)))
    } finally {
      graft.queries.FixtureCache.deleteRecursively(java.nio.file.Paths.get(lex))
      graft.queries.FixtureCache.deleteRecursively(java.nio.file.Paths.get(spl))
    }
  }

  // ---- keyed table -----------------------------------------------------

  test("table stack: vacuum keeps exactly the retained pins and rows") {
    def rows(ks: Seq[Long], tag: String) =
      ks.map(k => (k, s"$tag$k")).toDF("k", "lang")
    run(Case("table",
      build = { root =>
        TxTableStack.init(spark, root, "k LONG, lang STRING")
        TxTableStack.commitBatch(spark, root, rows(1L to 8L, "a"), 0L, "k", 4)
        TxTableStack.commitBatch(spark, root, rows(3L to 5L, "b"), 1L, "k", 4)
        TxTableStack.commitDelete(spark, root, Seq(6L).toDF("k"), 2L, "k", 4)
        TxTableStack.compact(spark, root)
        TxTableStack.commitBatch(spark, root, rows(Seq(2L, 9L), "c"), 3L, "k", 4)
        TxTableStack.rebucket(spark, root, "k", 8)
        TxTableStack.commitBatch(spark, root, rows(Seq(1L), "d"), 4L, "k", 8)
        TxTableStack.commitBatch(spark, root, rows(Seq(7L), "e"), 5L, "k", 8,
          publish = false)
      },
      rows = (root, v) => canon(TxTableStack.resolve(spark, root, Some(v))),
      pins = st => (bucketed("rows", st.statsV) ++
        st.deltas.map(d => s"delta/v=${d.token}"), Set.empty),
      families = Set("rows", "delta"),
      declared = TxTableStack.families,
      containers = Set("rows", "delta"),
      vacuum = (root, r) => TxTableStack.vacuum(spark, root, r)))
  }

  // ---- catalog ---------------------------------------------------------

  test("catalog: vacuum keeps exactly the retained pin tables, tags floor it") {
    run(Case("catalog",
      build = { root =>
        (0L to 4L).foreach(i => Catalog.publish(spark, root,
          Seq(("a", "/tmp/a", i), ("b", "/tmp/b", 2 * i))))
        Catalog.tag(spark, root, "rel", 2L)
        Catalog.publish(spark, root, Seq(("a", "/tmp/a", 9L)))
      },
      rows = (root, v) => canon(Catalog.pins(spark, root, Some(v))),
      pins = st => (Set(s"pins/v=${st.globalV}"), Set.empty),
      families = Set("pins"),
      declared = Catalog.families,
      containers = Set("pins", "tags"),
      vacuum = (root, r) => Catalog.vacuum(spark, root, r),
      // the tagged cut drags the floor down
      floor = (root, head, r) => math.min(2L, head - r)))
  }
}
