package graft.operators

import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** The commit shells every manifest face runs in, pinned face by face.
  *
  * A MAINTENANCE face (compaction, rebucket, quantizer refresh, schema
  * evolution, a view's feed refresh) derives its state from the head and
  * commits it in one swap. Under `publish = false` it must leave the head
  * and the rows as they were, and everything it wrote is an orphan that a
  * vacuum at retain 0 reclaims whole; under `publish = true` it commits
  * exactly one version in a fixed number of SQL actions, pinned here per
  * face so that a change to its shell shows as a changed count. On a stack
  * with nothing to do it returns false (or no buckets) and commits
  * nothing.
  *
  * A CREATE face (init, build, branch) refuses a root that already holds
  * a manifest, before it writes anything. */
class CommitShellSpec extends StackFixtures {
  import spark.implicits._

  /** `body`'s result and the SQL actions it ran. */
  private def actionsOf[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val n = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
        n.incrementAndGet()
      override def onFailure(f: String, qe: QueryExecution,
                             e: Exception): Unit = n.incrementAndGet()
    }
    org.apache.spark.GraftTestBridge.drainListenerBus(sc)
    spark.listenerManager.register(listener)
    try {
      val r = body
      org.apache.spark.GraftTestBridge.drainListenerBus(sc)
      (r, n.get)
    } finally spark.listenerManager.unregister(listener)
  }

  private def head(root: String): Long = Manifest.read(spark, root).get.version

  /** Run the maintenance face `face(publish)` of the loaded stack at
    * `root` twice: unpublished, then published. The unpublished call
    * keeps the head and `rows`; a vacuum at retain 0 then leaves the
    * tree as it was before the call, less nothing and plus only the
    * empty `containers` the call created, and it deleted something
    * exactly when the face `writes`. The published call returns what
    * the unpublished one did, commits one version and runs `actions`
    * SQL actions. */
  private def maintain(name: String, root: String,
                       families: Seq[Manifest.Family], rows: => Seq[String],
                       actions: Int, writes: Boolean = true,
                       containers: Set[String] = Set.empty)
                      (face: Boolean => Any): Unit = {
    Manifest.vacuum(spark, root, 0, families)
    val v = head(root)
    val before = rows
    val clean = dirsUnder(root)
    val dry = face(false)
    assert(head(root) == v, s"$name: an unpublished call moved the head")
    assert(rows == before, s"$name: an unpublished call changed the rows")
    assert((dirsUnder(root) -- clean -- containers).nonEmpty == writes,
      s"$name: wrote ${dirsUnder(root) -- clean}")
    val vs = Manifest.vacuum(spark, root, 0, families)
    assert(dirsUnder(root) -- clean == containers && (clean -- dirsUnder(root)).isEmpty,
      s"$name: vacuum left ${dirsUnder(root) -- clean}, took ${clean -- dirsUnder(root)}")
    assert((vs.deletedDirs > 0) == writes && vs.deletedManifests == 0,
      s"$name: vacuum after the unpublished call: $vs")
    val (done, n) = actionsOf(face(true))
    assert(done == dry, s"$name: published $done, unpublished $dry")
    assert(head(root) == v + 1, s"$name: a published call committed ${head(root) - v}")
    assert(n == actions, s"$name: ran $n SQL actions, pinned at $actions")
  }

  test("serve stack: compactPostings and rebucket") {
    withTempDir("graft_cs_serve") { root =>
      TxServeStack.commitBatch(spark, root, docs(0L to 5L), 0L, "doc_id",
        "text", 4, 4, positions = true)
      TxServeStack.commitBatch(spark, root, docs(6L to 9L), 1L, "doc_id",
        "text", 4, 4)
      TxServeStack.commitDelete(spark, root, Seq(1L).toDF("doc_id"), 2L,
        "doc_id", 4, 4)
      def rows = {
        val (p, s, g) = TxServeStack.resolve(spark, root)
        tagged("p", p) ++ tagged("s", s) ++ tagged("g", g) ++
          tagged("x", TxServeStack.resolvePositions(spark, root))
      }
      maintain("compactPostings", root, TxServeStack.families, rows, 2,
        containers = Set("postings/base", "positions/base"))(
        TxServeStack.compactPostings(spark, root, _))
      maintain("serve rebucket", root, TxServeStack.families, rows, 3)(
        TxServeStack.rebucket(spark, root, 2, 8, _))
    }
  }

  test("vector stack: refresh") {
    withTempDir("graft_cs_vector") { root =>
      val corpus = emb.filter($"vec_id" < 24).cache()
      TxVectorStack.init(spark, root, vcent(0), vcb(0))
      TxVectorStack.commitBatch(spark, root, corpus.filter($"vec_id" < 20),
        0L, "vec_id", "embedding", buckets = 4)
      TxVectorStack.commitDelete(spark, root, Seq(3L, 5L).toDF("vec_id"),
        1L, "vec_id", buckets = 4)
      def rows = {
        val (codes, c, b) = TxVectorStack.resolve(spark, root)
        tagged("c", codes) ++ tagged("q", c) ++ tagged("b", b)
      }
      maintain("refresh", root, TxVectorStack.families, rows, 5,
        containers = Set("codes/base"))(
        TxVectorStack.refresh(spark, root, corpus, vcent(16), vcb(16),
          "vec_id", "embedding", buckets = 4, _))
      corpus.unpersist()
    }
  }

  test("graph stack: compactEdges and rebucket") {
    withTempDir("graft_cs_gcorp") { dir =>
      val corpus = graphCorpus(dir, 16)
      withTempDir("graft_cs_graph") { root =>
        TxGraphStack.init(spark, root, baseGraph(corpus, 10), buckets = 4)
        TxGraphStack.commitBatch(spark, root, corpus, gvecs(10 to 13), 0L,
          "vec_id", "embedding", k = 2, buckets = 4, beam = 3, hops = 2,
          maxDegree = 3, corpusBuckets = Some(4))
        TxGraphStack.commitRemove(spark, root, Seq(2L).toDF("vec_id"), 1L,
          "vec_id", buckets = 4)
        def rows = canon(TxGraphStack.resolve(spark, root))
        maintain("compactEdges", root, TxGraphStack.families, rows, 1)(
          TxGraphStack.compactEdges(spark, root, _))
        maintain("graph rebucket", root, TxGraphStack.families, rows, 1)(
          TxGraphStack.rebucket(spark, root, 8, _))
      }
    }
  }

  test("sketch stack and split ledger: rebucket") {
    withTempDir("graft_cs_sketch") { root =>
      TxSketchStack.init(spark, root)
      TxSketchStack.commitBatch(spark, root,
        events(Seq("a", "b", "c", "d"), 1L to 4L), 0L, "key", "user", 4)
      maintain("sketch rebucket", root, TxSketchStack.families,
        canon(TxSketchStack.resolve(spark, root)), 1)(
        TxSketchStack.rebucket(spark, root, 8, _))
    }
    withTempDir("graft_cs_split") { root =>
      splitWithConflicts(root)
      maintain("split rebucket", root, TxSplitStack.families,
        tagged("a", TxSplitStack.resolve(spark, root)) ++
          tagged("q", TxSplitStack.quarantineIncremental(spark, root)), 2)(
        TxSplitStack.rebucket(spark, root, 8, _))
    }
  }

  test("table stack: compact, evolveSchema and rebucket") {
    withTempDir("graft_cs_table") { root =>
      def rows(ks: Seq[Long], tag: String) =
        ks.map(k => (k, s"$tag$k")).toDF("k", "lang")
      TxTableStack.init(spark, root, "k LONG, lang STRING")
      TxTableStack.commitBatch(spark, root, rows(1L to 8L, "a"), 0L, "k", 4)
      TxTableStack.commitBatch(spark, root, rows(3L to 5L, "b"), 1L, "k", 4)
      TxTableStack.commitDelete(spark, root, Seq(6L).toDF("k"), 2L, "k", 4)
      def table = canon(TxTableStack.resolve(spark, root))
      // an unpublished compaction elects its buckets and writes nothing
      maintain("compact", root, TxTableStack.families, table, 1,
        writes = false)(p => TxTableStack.compact(spark, root, publish = p))
      maintain("evolveSchema", root, TxTableStack.families, table, 0,
        writes = false)(
        TxTableStack.evolveSchema(spark, root, "quality DOUBLE", _))
      TxTableStack.commitBatch(spark, root, rows(Seq(2L, 9L), "c"), 3L, "k", 4)
      maintain("table rebucket", root, TxTableStack.families, table, 1)(
        TxTableStack.rebucket(spark, root, "k", 8, _))
    }
  }

  test("join view: refreshLex and refreshSplit") {
    withTempDir("graft_cs_jv") { d =>
      val (lex, spl, root) = (s"$d/lex", s"$d/spl", s"$d/view")
      def self(ids: Seq[Long]) = ids.map(i => (i, i)).toDF("id", "cluster")
      TxServeStack.commitBatch(spark, lex, docs(0L to 3L), 0L, "doc_id",
        "text", 4, 4)
      TxSplitStack.init(spark, spl)
      TxSplitStack.commitAssign(spark, spl, (0L to 2L).toDF("doc_id"),
        self(0L to 2L), 0L, "doc_id", splits, buckets = 4)
      TxJoinViewStack.build(spark, root, lex, spl, 4)
      TxServeStack.commitBatch(spark, lex, docs(4L to 6L), 1L, "doc_id",
        "text", 4, 4)
      TxSplitStack.commitAssign(spark, spl, (3L to 5L).toDF("doc_id"),
        self(3L to 5L), 1L, "doc_id", splits, buckets = 4)
      def rows = canon(TxJoinViewStack.members(spark, root))
      maintain("refreshLex", root, TxJoinViewStack.families, rows, 5)(
        TxJoinViewStack.refreshLex(spark, root, lex, 1L, 4, 4, _))
      maintain("refreshSplit", root, TxJoinViewStack.families, rows, 3)(
        TxJoinViewStack.refreshSplit(spark, root, spl, 2L, 4, _))
    }
  }

  test("nothing to maintain: every face returns false or no buckets, " +
    "runs no SQL action and commits nothing") {
    withTempDir("graft_cs_idle") { d =>
      def idle[T](name: String, root: String, expect: T)(face: => T): Unit = {
        val v = head(root)
        val (got, n) = actionsOf(face)
        assert(got == expect, s"$name returned $got")
        assert(n == 0, s"$name ran $n SQL actions")
        assert(head(root) == v, s"$name committed")
      }
      // a lexical stack with no postings and no stats
      val serve = s"$d/serve"
      Manifest.commit(spark, serve, Manifest.State(0L, -1L, -1L, Map.empty))
      idle("compactPostings", serve, false)(
        TxServeStack.compactPostings(spark, serve))
      idle("serve rebucket", serve, false)(
        TxServeStack.rebucket(spark, serve, 2, 2))
      val graph = s"$d/graph"
      TxGraphStack.init(spark, graph,
        Seq.empty[(Long, Long, Double)].toDF("src_id", "nbr_id", "cos"), 4)
      idle("compactEdges", graph, false)(TxGraphStack.compactEdges(spark, graph))
      idle("graph rebucket", graph, false)(
        TxGraphStack.rebucket(spark, graph, 8))
      val sketch = s"$d/sketch"
      TxSketchStack.init(spark, sketch)
      idle("sketch rebucket", sketch, false)(
        TxSketchStack.rebucket(spark, sketch, 8))
      val split = s"$d/split"
      TxSplitStack.init(spark, split)
      idle("split rebucket", split, false)(
        TxSplitStack.rebucket(spark, split, 8))
      val table = s"$d/table"
      TxTableStack.init(spark, table, "k LONG, lang STRING")
      idle("table rebucket", table, false)(
        TxTableStack.rebucket(spark, table, "k", 8))
      idle("compact", table, Seq.empty[Int])(TxTableStack.compact(spark, table))
      // a join view already at both upstream heads: each refresh replays
      val lex = s"$d/lex"
      TxServeStack.commitBatch(spark, lex, docs(0L to 1L), 0L, "doc_id",
        "text", 4, 4)
      val view = s"$d/view"
      TxJoinViewStack.build(spark, view, lex, split, 4)
      idle("refreshLex", view, false)(
        TxJoinViewStack.refreshLex(spark, view, lex, 0L, 4, 4))
      idle("refreshSplit", view, false)(
        TxJoinViewStack.refreshSplit(spark, view, split, 0L, 4))
    }
  }

  test("create faces refuse a root that holds a manifest, before any write") {
    withTempDir("graft_cs_create") { d =>
      def refuses(root: String, msg: String)(again: => Any): Unit = {
        val tree = dirsUnder(root)
        val e = intercept[IllegalArgumentException](again)
        assert(e.getMessage == s"requirement failed: $msg")
        assert(head(root) == 0L && dirsUnder(root) == tree,
          s"a refused create at $root changed it")
      }
      val sketch = s"$d/sketch"
      TxSketchStack.init(spark, sketch)
      refuses(sketch, s"sketch stack already initialized at $sketch")(
        TxSketchStack.init(spark, sketch))
      val split = s"$d/split"
      TxSplitStack.init(spark, split)
      refuses(split, s"split ledger already initialized at $split")(
        TxSplitStack.init(spark, split))
      val table = s"$d/table"
      TxTableStack.init(spark, table, "k LONG")
      refuses(table, s"table already initialized at $table")(
        TxTableStack.init(spark, table, "k LONG"))
      val vector = s"$d/vector"
      TxVectorStack.init(spark, vector, vcent(0), vcb(0))
      refuses(vector, s"vector stack already initialized at $vector")(
        TxVectorStack.init(spark, vector, vcent(0), vcb(0)))
      val edges = Seq((1L, 2L, 0.5), (2L, 1L, 0.5)).toDF("src_id", "nbr_id", "cos")
      val graph = s"$d/graph"
      TxGraphStack.init(spark, graph, edges, 4)
      assert(Manifest.read(spark, graph).get.statsV == Map(1 -> 0L, 2 -> 0L))
      refuses(graph, s"graph stack already initialized at $graph")(
        TxGraphStack.init(spark, graph, edges, 4))
      val ledger = Seq((1L, 1L), (6L, 1L)).toDF("id", "cluster")
      val blocks = Seq((1L, "x"), (6L, "x")).toDF("id", "blk")
      val semantic = s"$d/semantic"
      TxSemanticStack.init(spark, semantic, ledger, blocks, 4)
      val sst = Manifest.read(spark, semantic).get
      assert(sst.statsV == Map(1 -> 0L, 2 -> 0L) && sst.auxV == Map(1 -> 0L))
      refuses(semantic, s"semantic stack already initialized at $semantic")(
        TxSemanticStack.init(spark, semantic, ledger, blocks, 4))
      val grpOf: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
        c => org.apache.spark.sql.functions.length(c).cast("string")
      TxSketchStack.commitBatch(spark, sketch, events(Seq("aa", "b"), 1L to 3L),
        0L, "key", "user", 4)
      val view = s"$d/view"
      assert(TxViewStack.build(spark, view, sketch, grpOf, 4) == 1L)
      refuses(view, s"view stack already built at $view — refresh instead")(
        TxViewStack.build(spark, view, sketch, grpOf, 4))
      val lex = s"$d/lex"
      TxServeStack.commitBatch(spark, lex, docs(0L to 1L), 0L, "doc_id",
        "text", 4, 4)
      val jv = s"$d/jv"
      assert(TxJoinViewStack.build(spark, jv, lex, split, 4) == ((0L, 0L)))
      refuses(jv, s"join view already built at $jv — refresh instead")(
        TxJoinViewStack.build(spark, jv, lex, split, 4))
      val main = s"$d/cat"
      assert(Catalog.publish(spark, main, Seq(("a", sketch, 1L))) == 0L)
      val stg = s"$d/stg"
      assert(Catalog.branch(spark, main, stg) == 0L)
      assert(Catalog.pinnedVersion(spark, stg, "a") == 1L)
      refuses(stg, s"staging catalog already exists at $stg")(
        Catalog.branch(spark, main, stg))
    }
  }
}
