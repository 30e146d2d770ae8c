package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** CROSS-STACK CATALOG — a manifest OF manifests.
  *
  * Each Tx*Stack is an independently-committed table: atomic within
  * itself, but a pipeline that derives several of them in one wave
  * (the curation DAG's "dedup ledger + split ledger + sketch profile
  * per nightly append") leaves readers exposed to a TORN cross-stack
  * view — stack A already at tonight's cut while stack B still serves
  * yesterday's ([[Manifest.pinPage]] states this read-committed gap
  * honestly for the two-stack search page). The catalog closes it the
  * same way the manifest closed the multi-ASSET gap, one level up:
  * the DAG commits each stack (each swap atomic as before), then
  * publishes ONE catalog cut pinning every stack's version; readers
  * resolve versions through the catalog and serve each stack via
  * [[Manifest.readAt]] snapshot reads. A crash between the stack
  * commits and the catalog publish leaves the new stack versions
  * committed but UNREFERENCED — readers stay on the previous
  * consistent cut, exactly the protocol's invisible-orphan posture.
  *
  * The catalog's own state rides the [[Manifest]] commit protocol
  * UNCHANGED — version CAS, create-exclusive history CAS, atomic
  * pointer swap, `manifest.v=N` time travel: its single versioned
  * asset is the PIN TABLE, a stacks-sized parquet of
  * (stack, root, version) rows written at an attempt-unique token and
  * pinned in the manifest's `globalV` slot. Cross-stack serve cost:
  * one catalog pointer read + one tiny pin-table read + each stack's
  * own O(query) serve — nothing scales with the corpus. */
object Catalog {

  /** The catalog's one asset: the pin table at `globalV`. */
  private[operators] val families: Seq[Manifest.Family] =
    Seq(Manifest.Versioned("pins", _.globalV))

  /** The committed head of the catalog at `root`, refusing a root with
    * none (`what` names it in the error). */
  private def head(spark: SparkSession, root: String,
                   what: String): Manifest.State =
    Manifest.read(spark, root).getOrElse(
      throw new IllegalStateException(s"no committed $what at $root"))

  /** Publish a catalog cut pinning `pins` (stack, root, version) rows;
    * returns the new catalog version. The caller passes versions its
    * own stack commits just returned (or read back) — the catalog
    * records, it does not inspect the stacks. Concurrent publishers
    * are fenced exactly like stack committers: in-process by the
    * root's commit lock, cross-process by the history-file CAS
    * (losing surfaces [[Manifest.CommitConflict]]; re-derive the pin
    * set from the advanced head and retry). */
  def publish(spark: SparkSession, catRoot: String,
              pins: Seq[(String, String, Long)]): Long =
    publishWith(spark, catRoot, pins, None)

  /** [[publish]] with an optional fork point to record: `State.baseV`
    * carries a staging catalog's fork ([[branch]]) and survives
    * re-publishes — an audit-fix re-stage must not lose the fence
    * [[fastForward]] checks against. */
  private def publishWith(spark: SparkSession, catRoot: String,
                          pins: Seq[(String, String, Long)],
                          fork: Option[Long]): Long = {
    var published = -1L
    Manifest.transact(spark, catRoot, publish = true)(
      Manifest.State(-1L, -1L, -1L, Map.empty)) { (st, vNew) =>
      published = vNew
      Some(cut(spark, catRoot, pins, vNew, fork.getOrElse(st.baseV)))
    }
    published
  }

  /** Write the pin table of catalog version `v` at a fresh attempt
    * token and return the cut that pins it, `fork` its fork point. */
  private def cut(spark: SparkSession, catRoot: String,
      pins: Seq[(String, String, Long)], v: Long, fork: Long): Manifest.State = {
    import spark.implicits._
    require(pins.map(_._1).distinct.length == pins.length,
      s"duplicate stack names in catalog pins: ${pins.map(_._1)}")
    val tok = Manifest.attemptVersion(v)
    pins.toDF("stack", "root", "version").coalesce(1)
      .write.mode("overwrite").parquet(s"$catRoot/pins/v=$tok")
    Manifest.State(v, v, tok, Map.empty, baseV = fork)
  }

  /** Fork a STAGING catalog from `mainRoot`'s head — the
    * write-audit-publish entry point: the pipeline wave publishes its
    * new stack versions HERE, audit queries resolve through here, and
    * only [[fastForward]] ever moves main. The staging catalog's first
    * cut copies main's head pin set (an audit can diff staged against
    * inherited stacks), and main's head version is recorded as the
    * FORK POINT (`State.baseV`) — the fence that keeps a fast-forward
    * from silently discarding a publish that landed on main while the
    * audit ran. Returns the staging catalog's version 0. */
  def branch(spark: SparkSession, mainRoot: String,
             stagingRoot: String): Long =
    Manifest.create(spark, stagingRoot,
        s"staging catalog already exists at $stagingRoot") {
      val mainV = Manifest.read(spark, mainRoot).getOrElse(
        throw new IllegalStateException(
          s"no committed catalog at $mainRoot to branch from")).version
      val inherited = pins(spark, mainRoot).collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
      cut(spark, stagingRoot, inherited, 0L, mainV)
    }.version

  /** Publish the staging catalog's HEAD pin set to main — the
    * write-audit-publish commit point, one atomic main-catalog swap
    * (readers see the whole audited wave or none of it). Fenced on the
    * fork point: if main has advanced since [[branch]], the
    * fast-forward would silently drop that publish, so it surfaces
    * [[Manifest.CommitConflict]] instead — re-branch from the new
    * head, re-audit, retry. A failed audit simply never calls this;
    * the staged stack versions stay invisible orphans to main's
    * readers and the catalog-floored vacuum reclaims them. Returns
    * main's new version. */
  def fastForward(spark: SparkSession, mainRoot: String,
                  stagingRoot: String): Long =
    Manifest.withCommitLock(spark, mainRoot) {
      val stg = head(spark, stagingRoot, "staging catalog")
      require(stg.baseV >= 0,
        s"staging catalog at $stagingRoot has no recorded fork point " +
          "— was it created by branch?")
      val mainV = head(spark, mainRoot, "catalog").version
      if (mainV != stg.baseV)
        throw Manifest.CommitConflict(mainRoot, stg.baseV + 1, mainV)
      val staged = pins(spark, stagingRoot).collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
      publish(spark, mainRoot, staged)
    }

  /** Abandon a staging catalog — the failed-audit exit
    * [[fastForward]]'s scaladoc promises: the branch directory (its
    * manifests, pin tables, tags) deletes whole; the stack versions
    * its cuts pinned become invisible orphans main never referenced,
    * reclaimed by each stack's own catalog-floored vacuum. REFUSES a
    * catalog with no recorded fork point — a main catalog is not a
    * branch, and fat-fingering it here must fail loudly, not delete
    * the table readers resolve through. */
  def dropBranch(spark: SparkSession, stagingRoot: String): Unit = {
    val stg = head(spark, stagingRoot, "staging catalog")
    require(stg.baseV >= 0,
      s"catalog at $stagingRoot has no fork point — refusing to drop " +
        "what is not a branch")
    val p = new org.apache.hadoop.fs.Path(stagingRoot)
    p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true)
    ()
  }

  /** Create an IMMUTABLE named ref to a catalog cut — the "release"
    * handle an eval re-run resolves months later. Tags are files under
    * `tags/`, written create-exclusive: the same POSIX CAS the commit
    * fence uses makes re-tagging an existing name fail loudly (a tag
    * never moves; publish a new cut and tag THAT). A tag does not stop
    * retention by itself — pair it with [[vacuumRetain]]'s
    * `catRetainVersions` so tagged cuts stay inside the retained
    * window. */
  def tag(spark: SparkSession, catRoot: String, name: String,
          version: Long): Unit = {
    require(name.nonEmpty && name.forall(c => c.isLetterOrDigit ||
      c == '-' || c == '_' || c == '.'), s"invalid tag name '$name'")
    require(Manifest.readAt(spark, catRoot, version).isDefined,
      s"cannot tag uncommitted or vacuumed catalog version $version")
    val p = new org.apache.hadoop.fs.Path(s"$catRoot/tags/$name")
    val f = p.getFileSystem(spark.sessionState.newHadoopConf())
    f.mkdirs(p.getParent)
    val out = try f.create(p, false) catch {
      case _: java.io.IOException => throw new IllegalStateException(
        s"tag '$name' already exists at $catRoot — tags are immutable")
    }
    try out.write(s"$version\n".getBytes("UTF-8")) finally out.close()
  }

  /** Every tagged catalog version at the root — tags-sized listing,
    * the unconditional-retention set [[vacuumRetain]] folds in. */
  private def taggedVersions(spark: SparkSession,
                             catRoot: String): Seq[Long] = {
    val dir = new org.apache.hadoop.fs.Path(s"$catRoot/tags")
    val f = dir.getFileSystem(spark.sessionState.newHadoopConf())
    if (!f.exists(dir)) Seq.empty
    else f.listStatus(dir).toSeq.filter(_.isFile)
      .map(s => resolveTag(spark, catRoot, s.getPath.getName))
  }

  /** Resolve a tag name to its catalog version; unknown names refuse
    * loudly. */
  def resolveTag(spark: SparkSession, catRoot: String,
                 name: String): Long = {
    val p = new org.apache.hadoop.fs.Path(s"$catRoot/tags/$name")
    val f = p.getFileSystem(spark.sessionState.newHadoopConf())
    require(f.exists(p), s"no tag '$name' at $catRoot")
    val in = f.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim.toLong
    finally in.close()
  }

  /** The pin table of a catalog cut — the committed head, or a
    * `version` snapshot ([[Manifest.readAt]] time travel; bounded by
    * retention like any snapshot read). */
  def pins(spark: SparkSession, catRoot: String,
           version: Option[Long] = None): DataFrame = {
    val st = Manifest.stateAt(spark, catRoot, version)
    spark.read.parquet(s"$catRoot/pins/v=${st.globalV}")
      .select(col("stack"), col("root"), col("version"))
  }

  /** The retention count a stack's vacuum must be passed so every
    * stack version still pinned by a RETAINED catalog cut stays
    * readable — the missing coupling between per-stack garbage
    * collection and cross-stack pins: a stack vacuuming on its own
    * cadence would otherwise retire a version an old release catalog
    * still references (and an eval re-run against that release would
    * fail). Scans the retained catalog cuts' pin tables (catalog head
    * back `catRetainVersions` — mirror of each stack vacuum's own
    * knob; cuts already vacuumed are skipped) and returns
    * `stackHead − min(pinned)`, clamped at 0 — pass it as
    * `retainVersions` to the stack's vacuum. A stack the retained
    * cuts never pin gets 0: the catalog imposes nothing.
    *
    * TAGGED cuts retain unconditionally, whatever the version window:
    * a tag is the promise that an eval can re-run against that release
    * ([[tag]]), so its pins floor the stack's vacuum even after the
    * cut ages out of `catRetainVersions` — without this, tagging and
    * the vacuum cadence would race and the promise would quietly
    * break. */
  def vacuumRetain(spark: SparkSession, catRoot: String, stack: String,
                   stackRoot: String, catRetainVersions: Int = 0): Int = {
    val catHead = head(spark, catRoot, "catalog").version
    val floorCat = math.max(0L, catHead - catRetainVersions)
    val cuts =
      ((floorCat to catHead) ++ taggedVersions(spark, catRoot)).distinct
    val pinned = cuts.flatMap { v =>
      Manifest.readAt(spark, catRoot, v).toSeq.flatMap { st =>
        spark.read.parquet(s"$catRoot/pins/v=${st.globalV}")
          .filter(col("stack") === stack)
          .select("version").collect().map(_.getLong(0))
      }
    }
    val stackHead = Manifest.stateAt(spark, stackRoot, None).version
    if (pinned.isEmpty) 0
    else math.max(0L, stackHead - pinned.min).toInt
  }

  /** Retire the CATALOG'S OWN history — superseded pin tables and
    * manifest files below the retention floor — the self-vacuum the
    * stacks already have ([[vacuumRetain]] floors THEIR vacuums; this
    * floors ours). The floor is `head − retainVersions`, DRAGGED DOWN
    * to the oldest tagged cut: a tag is the promise that
    * `resolveTag → pins → stack snapshot` keeps working, so a tagged
    * cut's manifest and pin table retain unconditionally — and every
    * cut at or above the dragged floor stays fully readable (a single
    * floor keeps the retention story one sentence; the conservative
    * extra cuts between an old tag and the window are tags' carrying
    * cost, stated not hidden). Stack versions those cuts pin are the
    * STACKS' vacuums' concern, coupled via [[vacuumRetain]]. */
  def vacuum(spark: SparkSession, catRoot: String,
             retainVersions: Int = 0): TxServeStack.VacuumStats =
    Manifest.withCommitLock(spark, catRoot) {
      val cur = head(spark, catRoot, "catalog").version
      val floor = (taggedVersions(spark, catRoot) :+
        math.max(0L, cur - retainVersions)).min
      Manifest.sweep(spark, catRoot, floor,
        (floor to cur).flatMap(v => Manifest.readAt(spark, catRoot, v)),
        families)
    }

  /** Resolve one stack's pinned version under a catalog cut — the
    * bounded (rows = stacks) driver read every cross-stack serve
    * starts from. REQUIREs exactly one pin row: a never-pinned stack
    * name must fail loudly, not serve an empty frame. */
  def pinnedVersion(spark: SparkSession, catRoot: String, stack: String,
                    version: Option[Long] = None): Long = {
    val rows = pins(spark, catRoot, version)
      .filter(col("stack") === stack).select("version").collect()
    require(rows.length == 1,
      s"catalog at $catRoot pins ${rows.length} rows for stack '$stack'")
    rows.head.getLong(0)
  }
}
