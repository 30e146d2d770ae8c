package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{broadcast, col, lit, max}
import org.apache.spark.sql.types.{LongType, StructType}

/** MANIFEST commit protocol for multi-asset serve stacks — the
  * transactional face the plain drains document as their crash
  * caveat (`streaming_stats_ingest`: three independent storage
  * commits; a crash between them diverges derived state with no
  * replay repair). The protocol is the table-format snapshot idea
  * (Iceberg/Delta's core) expressed on raw parquet + one text file:
  *
  *  - every asset write lands in a VERSIONED location that no reader
  *    resolves directly — postings as per-batch delta directories
  *    (`postings/batch=N`), small derived ledgers as whole-version
  *    directories (`global/v=N`), bucket-replaced ledgers as
  *    per-bucket versions (`stats/v=N/bkt=M`);
  *  - the manifest is a tiny key=value file pinning exactly one
  *    consistent cut: the high-water batch id, the global version,
  *    and each stats bucket's current version;
  *  - the COMMIT POINT is the manifest's atomic rename. A crash
  *    anywhere before it leaves the previous manifest intact, so a
  *    reader can never observe a torn multi-asset state — the
  *    orphaned new-version files are invisible and get overwritten
  *    by the replay;
  *  - replay idempotency is BY BATCH ID, not by anti-join against
  *    mutable state: a batch whose id is ≤ the manifest's high-water
  *    mark is skipped whole; a batch that crashed mid-write re-runs
  *    all its writes (same target paths — overwrite) and commits
  *    once. Exactly-once end to end, with every write still
  *    O(touched).
  *
  * The rename-as-commit is atomic on POSIX filesystems and HDFS; an
  * object store without atomic rename needs a conditional-put
  * manifest swap instead (the documented reason table formats have
  * pluggable commit protocols) — the PROTOCOL (versioned writes +
  * single pointer swap + batch-id high-water) is identical.
  */
object Manifest {

  /** One consistent cut of a multi-asset stack: the replay high-water
    * batch id, the manifest version, the global ledger's version, and
    * each stats bucket's pinned version (buckets absent from the map
    * have never been written). `auxV` is a SECOND per-bucket pin map
    * for stacks whose state is dual-keyed (the semantic-label stack
    * pins its by-id view in `statsV` and its by-cluster view here);
    * single-view stacks leave it empty. `pos` records whether the
    * stack carries the positional family — a property of the STACK,
    * not of any one commit, so later commits derive the write decision
    * from it instead of trusting every caller to re-pass the flag
    * (omitting it on a positional stack would tear the
    * postings/positions families: tombstones retire old positional
    * rows with no replacements landing). `deltas` is a keyed family's
    * MERGE-ON-READ chain in commit order (oldest first), keyed by the
    * field id `deltaKey`; it renders as the `deltas=`/`deltakey=` lines
    * only when non-empty, so every state without a chain — every
    * manifest written before the chain existed included — renders and
    * parses exactly as before. */
  case class State(version: Long, batchId: Long, globalV: Long,
                   statsV: Map[Int, Long], baseV: Long = -1L,
                   baseBatch: Long = -1L,
                   auxV: Map[Int, Long] = Map.empty,
                   pos: Boolean = false,
                   schema: String = "",
                   deltas: Seq[Delta] = Seq.empty,
                   deltaKey: Int = -1) {
    def render: String = {
      def pins(m: Map[Int, Long]) = m.toSeq.sorted
        .map { case (b, v) => s"$b:$v" }.mkString(",")
      s"version=$version\nbatch=$batchId\nglobal=$globalV\n" +
        s"stats=${pins(statsV)}\nbase=$baseV\nbasebatch=$baseBatch\n" +
        s"aux=${pins(auxV)}\npos=${if (pos) 1 else 0}\n" +
        s"schema=$schema\n" +
        (if (deltas.isEmpty) ""
         else s"deltas=${deltas.map(_.encode).mkString(",")}\n" +
           s"deltakey=$deltaKey\n")
    }
  }

  /** One merge-on-read delta of a keyed family: the attempt token of
    * its unpartitioned `delta/v=<token>` directory and the buckets its
    * rows fall in (so a fold or a change feed elects buckets from the
    * manifest alone). Encoded `<token>:<b>.<b>...`. */
  final case class Delta(token: Long, buckets: Seq[Int]) {
    def encode: String = s"$token:${buckets.sorted.mkString(".")}"
  }

  object Delta {
    def decode(s: String): Delta = {
      val Array(t, bs) = s.split(":", 2)
      Delta(t.toLong, bs.split('.').filter(_.nonEmpty).map(_.toInt).toSeq)
    }
  }

  /** Thrown by [[commit]] when the committed pointer is no longer at
    * the version the state was derived from — the optimistic-CAS
    * writer fence. The loser's versioned asset writes are crash-orphan
    * garbage ([[vacuum]] reclaims them); the clean retry is to
    * RE-DERIVE the whole commit from the advanced head (every TxStack
    * commit* re-reads the manifest at entry, so calling it again IS
    * the retry). */
  final case class CommitConflict(root: String, expected: Long,
                                  found: Long)
    extends RuntimeException(
      s"manifest at $root moved to version $found while this commit " +
        s"derived from ${expected - 1}; re-derive and retry")

  /** Per-root in-process commit mutex: makes the version check and the
    * pointer swap one atomic step for every committer in this JVM (the
    * local[*] deployment — a drain racing its maintenance compactor).
    * Cross-PROCESS committers are fenced by [[commit]]'s
    * create-exclusive history-file CAS — exactly one of two processes
    * that derived the same version can publish `manifest.v=N`; the
    * loser re-derives. */
  private val commitLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  private def fs(spark: SparkSession, dir: String) = {
    val p = new org.apache.hadoop.fs.Path(dir)
    (p.getFileSystem(spark.sessionState.newHadoopConf()), p)
  }

  /** Run `body` holding the root's in-process commit mutex — the
    * single-writer discipline for a WHOLE commit (derive + versioned
    * asset writes + swap), not just the pointer swap: two racing
    * committers both derive vNew = head + 1 and would write the SAME
    * version-keyed asset directories, so the loser's
    * mode("overwrite") could clobber the winner's just-committed
    * files BEFORE its own swap hits the fence. The commit shells —
    * [[transact]] for every face that advances a stack, [[create]] for
    * every face that starts one — hold it for the face's whole body,
    * and so does [[vacuum]] (an in-flight committer's un-swapped
    * fresh-version writes would otherwise look like reclaimable
    * orphans). Re-entrant — the inner [[commit]] synchronizes on the
    * same monitor.
    *
    * Cross-PROCESS, [[commit]]'s history-file CAS closes the POINTER
    * lost-update (exactly one process publishes version N), and the
    * SAME-face asset clobber is closed for every per-bucket-MVCC
    * family + the BM25 global ledger by [[attemptVersion]] tokens:
    * two committers that both derive ordinal N write DISJOINT `v=`
    * directories, so the CAS loser's writes are pure orphans — it can
    * never have touched a path the winner pinned (batch-keyed delta
    * families are disjoint-by-batchId already; a same-batchId replay
    * writes the same logical content). The remaining ordinal-keyed
    * writers are the MAINTENANCE faces (compaction bases, quantizer
    * refresh, rebucket) — same-face concurrency there means two
    * schedulers running the same maintenance job, a deployment error;
    * the supported pair (one drain ⊕ one maintenance cadence) writes
    * disjoint paths throughout. */
  def withCommitLock[T](spark: SparkSession, dir: String)(body: => T): T = {
    val (f, base) = fs(spark, dir)
    val lock = commitLocks.computeIfAbsent(
      f.makeQualified(base).toString, _ => new Object)
    lock.synchronized(body)
  }

  /** THE commit shell every face that advances a stack runs in: hold
    * the root's commit lock, resolve the head (or `orElse` — a first
    * state, or the face's own head-missing refusal), run
    * `derive(head, head.version + 1)` — the face's versioned asset
    * writes and its fold into the next state — and publish the state it
    * returns unless `publish` is false (the crash face: everything
    * derive wrote stays an invisible orphan). `None` is "nothing to do"
    * or a replay: nothing commits and the shell returns false. One
    * shell keeps the fence → derive → swap choreography in ONE place
    * instead of a hand-rolled copy per face — the copy that drifts (a
    * present-set ordering bug once lived in exactly one of them). */
  private[operators] def transact(spark: SparkSession, root: String,
      publish: Boolean)(orElse: => State)
      (derive: (State, Long) => Option[State]): Boolean =
    withCommitLock(spark, root) {
      val st = read(spark, root).getOrElse(orElse)
      val next = derive(st, st.version + 1)
      if (publish) next.foreach(commit(spark, root, _))
      next.isDefined
    }

  /** [[transact]] for a BATCH face: a `batchId` at or below the
    * high-water mark is a replay and skips whole (exactly-once by batch
    * id). */
  private[operators] def commitGuard(spark: SparkSession, root: String,
      batchId: Long, publish: Boolean)(orElse: => State)
      (derive: (State, Long) => State): Boolean =
    transact(spark, root, publish)(orElse) { (st, vNew) =>
      Option.when(batchId > st.batchId)(derive(st, vNew))
    }

  /** The shell every face that STARTS a stack runs in (init, build,
    * branch): hold the commit lock, refuse a root that already holds a
    * manifest (`refusal` is the message), then commit the first state
    * `body` writes and returns — and return it, so a face can answer
    * from it. */
  private[operators] def create(spark: SparkSession, root: String,
      refusal: String)(body: => State): State =
    withCommitLock(spark, root) {
      require(read(spark, root).isEmpty, refusal)
      val st = body
      commit(spark, root, st)
      st
    }

  /** RETRY SHELL for optimistic-concurrency losers: run `body` (a
    * TxStack commit face — any of them), and on [[CommitConflict]]
    * run it again, up to `attempts` times. Calling the face again IS
    * the rebase: every commit face re-reads the manifest at entry, so
    * the retry derives against the winner's pins — including the
    * winner [[commit]] just rolled forward past a crash — and its
    * batch id absorbs if the "conflict" was our own already-committed
    * replay. Exhausting `attempts` rethrows the last conflict (a
    * livelock under sustained contention is the caller's signal to
    * back off, not loop forever). */
  def withConflictRetry[T](attempts: Int = 3)(body: => T): T = {
    require(attempts > 0, "attempts must be positive")
    var left = attempts
    while (true) {
      try return body
      catch { case c: CommitConflict =>
        left -= 1
        if (left == 0) throw c
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Resolve the current committed state; None before the first
    * commit. Reads ONE small file — the serve-side cost of the
    * protocol is a single metadata read per query batch. */
  def read(spark: SparkSession, dir: String): Option[State] =
    readState(spark, dir, "manifest")

  /** The state the file `name` under `dir` renders; None when absent. */
  private def readState(spark: SparkSession, dir: String,
                        name: String): Option[State] = {
    val (f, base) = fs(spark, dir)
    val p = new org.apache.hadoop.fs.Path(base, name)
    if (!f.exists(p)) None
    else {
      val in = f.open(p)
      val txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
      Some(parse(txt))
    }
  }

  /** COMMIT: publish the immutable history file `manifest.v=N`
    * CREATE-EXCLUSIVE (the cross-process CAS), then rename the rendered
    * state onto `manifest` (the pointer readers resolve).
    *
    * TWO fences, innermost wins:
    *
    *  - the optimistic version CAS (in-process, cheap): if the pointer
    *    advanced past the derivation cut, throw [[CommitConflict]]
    *    before writing anything;
    *  - the history-file CAS (cross-PROCESS): `manifest.v=N` is
    *    published by writing a scratch file and linking/renaming it
    *    into place WITHOUT overwrite — atomic create-exclusive on
    *    POSIX (hard link via rename(2) semantics) and HDFS (namenode
    *    rename without OVERWRITE). Two processes that both read
    *    version N−1 and both derive version N race THIS step, and
    *    exactly one wins. The loser finds the winner's file and
    *    cannot clobber it.
    *
    * Losing the history CAS resolves by CONTENT:
    *
    *  - identical bytes ⇒ this is OUR OWN replayed commit — the
    *    original crashed after publishing `manifest.v=N` but before
    *    the pointer swap (derivation is deterministic, so the replay
    *    renders the same bytes). Fall through and heal the pointer.
    *  - different bytes ⇒ a FOREIGN committer owns version N. Its
    *    asset writes are complete (every TxStack calls [[commit]]
    *    last), so roll ITS pointer forward — un-wedging the stack if
    *    the winner crashed between its two steps; idempotent if it is
    *    alive and about to swap the same bytes — then throw
    *    [[CommitConflict]] so the caller re-derives from version N.
    *
    * A crash between the history publish and the pointer swap
    * therefore leaves a COMMITTED version the pointer has not reached:
    * invisible to [[readAt]] (which refuses versions above the
    * pointer) until either the owner's replay or the next committer's
    * roll-forward heals the pointer. History files are never torn —
    * the scratch write + atomic link means `manifest.v=N` appears
    * complete or not at all (scratch leftovers match the
    * `manifest.tmp-` prefix [[vacuum]] reclaims). */
  def commit(spark: SparkSession, dir: String, state: State): Unit =
    withCommitLock(spark, dir) {
      val (f, base) = fs(spark, dir)
      // WRITER FENCE (optimistic CAS): this state was derived from the
      // cut at version - 1; if the pointer has advanced past it, a
      // concurrent committer (drain vs compactor vs vacuum cadence)
      // already landed a commit this one never read — swapping anyway
      // would silently drop the winner's pins (the lost update).
      val cur = read(spark, dir).map(_.version).getOrElse(-1L)
      if (cur != state.version - 1)
        throw CommitConflict(dir, state.version, cur)
      f.mkdirs(base)
      val bytes = state.render.getBytes("UTF-8")
      val hist = new org.apache.hadoop.fs.Path(base,
        s"manifest.v=${state.version}")
      val won = publishExclusive(spark, f, base, hist, bytes,
        state.version)
      val pointerBytes =
        if (won) bytes
        else {
          val theirs = readFully(f, hist)
          if (java.util.Arrays.equals(theirs, bytes)) bytes // our replay
          else {
            // foreign winner: validate, roll its pointer forward, conflict
            val theirState =
              try parse(new String(theirs, "UTF-8"))
              catch { case e: Exception => throw new IllegalStateException(
                s"unparseable foreign history file $hist", e) }
            require(theirState.version == state.version,
              s"history file $hist renders version ${theirState.version}")
            swapPointer(spark, f, base, theirs, state.version)
            throw CommitConflict(dir, state.version, state.version)
          }
        }
      swapPointer(spark, f, base, pointerBytes, state.version)
    }

  /** Publish `bytes` at `hist` create-EXCLUSIVE: scratch write + atomic
    * no-overwrite move. Returns false when `hist` already exists (the
    * CAS loss); never overwrites and never leaves a torn `hist`. */
  private def publishExclusive(spark: SparkSession,
      f: org.apache.hadoop.fs.FileSystem,
      base: org.apache.hadoop.fs.Path,
      hist: org.apache.hadoop.fs.Path, bytes: Array[Byte],
      version: Long): Boolean = {
    val tmp = new org.apache.hadoop.fs.Path(base,
      s"manifest.tmp-hist-$version-${java.util.UUID.randomUUID()}")
    val out = f.create(tmp, true)
    try out.write(bytes) finally out.close()
    try {
      if (f.getScheme == "file") {
        // hard-link, not move: link(2) fails atomically when the target
        // exists — nio's ATOMIC_MOVE maps to rename(2), which REPLACES
        val tq = java.nio.file.Paths.get(
          f.makeQualified(tmp).toUri.getPath)
        val hq = java.nio.file.Paths.get(
          f.makeQualified(hist).toUri.getPath)
        try { java.nio.file.Files.createLink(hq, tq); true }
        catch { case _: java.nio.file.FileAlreadyExistsException => false }
      } else {
        val fc = org.apache.hadoop.fs.FileContext.getFileContext(
          hist.toUri, spark.sessionState.newHadoopConf())
        // no Rename.OVERWRITE: atomic fail-if-exists on HDFS
        try { fc.rename(tmp, hist); true }
        catch {
          case _: org.apache.hadoop.fs.FileAlreadyExistsException => false
          case _: java.nio.file.FileAlreadyExistsException => false
        }
      }
    } finally if (f.exists(tmp)) f.delete(tmp, false)
  }

  private def readFully(f: org.apache.hadoop.fs.FileSystem,
                        p: org.apache.hadoop.fs.Path): Array[Byte] = {
    val in = f.open(p)
    try {
      val buf = new java.io.ByteArrayOutputStream()
      val chunk = new Array[Byte](8192)
      var n = in.read(chunk)
      while (n >= 0) { buf.write(chunk, 0, n); n = in.read(chunk) }
      buf.toByteArray
    } finally in.close()
  }

  /** Swap `bytes` onto the `manifest` pointer — rename-with-OVERWRITE,
    * not delete+rename: the latter opens a window where a concurrent
    * reader finds NO manifest and a committed, retained snapshot read
    * fails — the contract [[readAt]] advertises ("concurrent with any
    * number of later commits") requires the pointer to be replaced
    * atomically. On the `file` scheme Hadoop's LocalFs implements
    * overwrite-rename as delete(dst)+rename — NOT atomic — so the swap
    * goes through java.nio ATOMIC_MOVE (rename(2) on POSIX) there; HDFS
    * keeps the FileContext path, whose overwrite-rename is atomic by
    * contract. An object store without atomic rename needs a
    * conditional put instead (the pluggable-commit reason above). On
    * `file` the scratch file is written with java.nio too: created
    * through the checksummed local FileSystem it would leave a
    * `.manifest.tmp-*.crc` sidecar that the move never carries. */
  private def swapPointer(spark: SparkSession,
      f: org.apache.hadoop.fs.FileSystem,
      base: org.apache.hadoop.fs.Path, bytes: Array[Byte],
      version: Long): Unit = {
    val tmp = new org.apache.hadoop.fs.Path(base,
      s"manifest.tmp-$version-${java.util.UUID.randomUUID()}")
    val dst = new org.apache.hadoop.fs.Path(base, "manifest")
    if (f.getScheme == "file") {
      val tq = java.nio.file.Paths.get(f.makeQualified(tmp).toUri.getPath)
      val dq = java.nio.file.Paths.get(f.makeQualified(dst).toUri.getPath)
      java.nio.file.Files.write(tq, bytes)
      java.nio.file.Files.move(tq, dq,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    } else {
      val out = f.create(tmp, true)
      try out.write(bytes) finally out.close()
      val fc = org.apache.hadoop.fs.FileContext.getFileContext(
        dst.toUri, spark.sessionState.newHadoopConf())
      fc.rename(tmp, dst, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
    }
  }

  private def parse(txt: String): State = {
    val kv = txt.linesIterator.filter(_.contains("="))
      .map { l => val i = l.indexOf('='); l.take(i) -> l.drop(i + 1) }
      .toMap
    def pins(s: String) = s.split(",").filter(_.nonEmpty).map { e =>
      val Array(b, v) = e.split(":"); b.toInt -> v.toLong
    }.toMap
    State(kv("version").toLong, kv("batch").toLong,
      kv("global").toLong, pins(kv("stats")),
      kv.getOrElse("base", "-1").toLong,
      kv.getOrElse("basebatch", "-1").toLong,
      pins(kv.getOrElse("aux", "")),
      kv.getOrElse("pos", "0") == "1",
      kv.getOrElse("schema", ""),
      kv.getOrElse("deltas", "").split(",").filter(_.nonEmpty).toSeq
        .map(Delta.decode),
      kv.getOrElse("deltakey", "-1").toInt)
  }

  /** SNAPSHOT read — resolve the state committed as `version` (time
    * travel, the table-format snapshot-isolation face): every version
    * the pointer ever reached is a consistent cut frozen in its
    * immutable `manifest.v=N` file, so a reader pinned to it serves
    * exactly the stack as of that commit, concurrent with any number
    * of later commits. Refuses versions ABOVE the committed pointer
    * (a crashed batch's torn history file must stay invisible) and
    * versions whose history file [[vacuum]] has already
    * retired (time travel is bounded by the retention policy, the
    * standard table-format trade). */
  def readAt(spark: SparkSession, dir: String,
             version: Long): Option[State] =
    read(spark, dir).filter(_.version >= version)
      .flatMap(_ => readState(spark, dir, s"manifest.v=$version"))

  /** TIME TRAVEL BY BATCH ID — resolve the LATEST committed cut whose
    * high-water mark is at or below `batchId` (the logical clock
    * every drain already stamps): "the table as of nightly batch 17",
    * independent of how many maintenance commits (compaction,
    * re-bucket, schema evolution — they advance the version, not the
    * batch) landed on top; those are INCLUDED, being later versions of
    * the same data cut. Batch ids are non-decreasing over versions, so
    * the walk down from the pointer stops at the first qualifying
    * state. Bounded by vacuum retention like [[readAt]]: walking into
    * retired history returns None — time travel past the floor is
    * gone, the standard trade. */
  def readAsOfBatch(spark: SparkSession, dir: String,
                    batchId: Long): Option[State] =
    read(spark, dir).flatMap { head =>
      var cur: Option[State] = Some(head)
      var v = head.version
      while (cur.exists(_.batchId > batchId) && v > 0) {
        v -= 1
        cur = readAt(spark, dir, v)
      }
      cur.filter(_.batchId <= batchId)
    }

  /** A page-level cut across TWO manifest stacks (the lexical serve
    * stack ⊕ the vector stack a hybrid search page fuses): one
    * committed version per stack, captured together at page open. */
  case class PagePin(lexVersion: Long, vecVersion: Long)

  /** PIN a search page's consistent cut: read both stacks' committed
    * pointers once and hold the pair for the page's lifetime. The
    * consistency model, stated: each pointer read is atomic (a
    * committed cut — never torn), but the PAIR is read-committed
    * across stacks, not a joint transaction — the two pointers may
    * straddle an in-flight cross-stack update (there is no cross-stack
    * commit to be atomic against; the stacks are independent tables).
    * What the pin buys is REPEATABLE reads: every leg of the page
    * (lexical top-k, dense top-k, re-fetches, pagination, the snippet
    * pass) resolves through [[readAt]] on the SAME pair, so later
    * commits on either stack — including quantizer refreshes that
    * would otherwise re-rank mid-pagination — are invisible until the
    * caller re-pins. Bounded by each stack's vacuum retention, the
    * standard snapshot trade. */
  def pinPage(spark: SparkSession, lexRoot: String,
              vecRoot: String): PagePin =
    PagePin(stateAt(spark, lexRoot, None).version,
      stateAt(spark, vecRoot, None).version)

  /** The delta directories a committed state makes visible for a
    * row-append asset family (`family/base/v=V` if a compaction has
    * moved the base pointer, then `family/batch=baseBatch+1 ..
    * batch=batchId`), existing ones only (a batch may legitimately
    * contribute no delta). Orphans past the high-water mark — a
    * crashed batch's un-committed write — are NOT returned:
    * invisibility before the manifest swap is the whole protocol. */
  def visibleDeltaDirs(spark: SparkSession, dir: String, state: State,
                       family: String): Seq[String] = {
    val (f, base) = fs(spark, dir)
    val consolidated =
      if (state.baseV < 0) Seq.empty
      else Seq(new org.apache.hadoop.fs.Path(base,
        s"$family/base/v=${state.baseV}"))
    val deltas = ((state.baseBatch + 1) to state.batchId).map(b =>
      new org.apache.hadoop.fs.Path(base, s"$family/batch=$b"))
    (consolidated ++ deltas).filter(f.exists).map(_.toString)
  }

  /** One asset family of a stack, named by its on-disk layout — the
    * closed set every stack's `families` declaration picks from. The
    * shared readers below read a family; [[vacuum]] derives its keep
    * set from the retained states through the declaration, so a family
    * a stack does not declare is never swept. */
  sealed trait Family { def dir: String }

  /** `dir/v=V/bkt=B`: per-bucket MVCC, each bucket pinned at the
    * version `pins` gives it. */
  final case class Bucketed(dir: String, pins: State => Map[Int, Long])
    extends Family

  /** `dir/base/v=baseV` plus `dir/batch=N` for N in
    * (baseBatch, batchId]: a row-append family under the state's base
    * pointer and batch window ([[visibleDeltaDirs]]). */
  final case class Appended(dir: String) extends Family

  /** `dir/v=V`: one whole-version directory, pinned at `v`. */
  final case class Versioned(dir: String, v: State => Long) extends Family

  /** `dir/v=<token>`: the merge-on-read delta chain, [[State.deltas]]. */
  final case class Chain(dir: String) extends Family

  /** A reader's empty frame — `schema`'s columns, no rows, no job — for
    * a cut that pins nothing of a family. */
  private def emptyFrame(spark: SparkSession,
                         schema: StructType): DataFrame =
    spark.createDataFrame(java.util.Collections.emptyList[Row](), schema)

  /** The pinned rows of a [[Bucketed]] family, each bucket read at ITS
    * version (`family/v=V/bkt=B` — a batch that replaced buckets {2, 7}
    * at v5 left every other bucket pinned at older versions, and the
    * union of pinned paths IS the family) and projected to `schema`'s
    * columns. `restrict` prunes at the PATH level: an unelected
    * bucket's directory is never listed. */
  private[operators] def readBucketed(spark: SparkSession, root: String,
      family: String, pins: Map[Int, Long], restrict: Option[Seq[Int]],
      schema: StructType): DataFrame = {
    val pinned = restrict.fold(pins)(bs => pins.filter(p => bs.contains(p._1)))
    if (pinned.isEmpty) emptyFrame(spark, schema)
    else spark.read.option("basePath", s"$root/$family")
      .parquet(pinned.toSeq.sorted.map { case (b, v) =>
        s"$root/$family/v=$v/bkt=$b" }: _*)
      .select(schema.fieldNames.toSeq.map(col): _*)
  }

  /** The visible rows of an [[Appended]] family: `schema`'s columns
    * plus `_b`, each row's BATCH PROVENANCE — `batch=N` for a delta,
    * `baseBatch` for the base, which consolidates live rows as of that
    * batch. Provenance is what makes the tombstone rule ([[liveOnly]])
    * ordered. Base and deltas live under different partition-path
    * shapes (`base/v=V/...` vs `batch=N/...`), so they read in two
    * groups and union on the shared columns — one frame, still only
    * manifest-pinned paths. */
  private[operators] def readAppended(spark: SparkSession, root: String,
      st: State, family: String, schema: StructType): DataFrame = {
    val (baseDirs, deltaDirs) = visibleDeltaDirs(spark, root, st, family)
      .partition(_.contains("/base/"))
    def part(dirs: Seq[String], basePath: String, b: Column) =
      if (dirs.isEmpty) None
      else Some(spark.read.option("basePath", basePath).parquet(dirs: _*)
        .select(schema.fieldNames.toSeq.map(col) :+ b.as("_b"): _*))
    val parts = part(baseDirs, s"$root/$family/base", lit(st.baseBatch)) ++
      part(deltaDirs, s"$root/$family", col("batch").cast("long"))
    if (parts.isEmpty) emptyFrame(spark, schema.add("_b", LongType))
    else parts.reduce(_ unionByName _)
  }

  /** The tombstones of the `deletes` family a cut makes visible, as
    * (`idCol`, asof) — `asof` is the tombstoning batch's id, folded to
    * the LATEST per id. A tombstone at asof = N kills rows with
    * provenance `_b` < N and nothing born at or after N, which is what
    * lets an upsert retire an id's old rows and land its replacement in
    * the SAME batch, and a post-delete re-ingest land with no era
    * restriction. The window retires when a compaction moves the base
    * pointer (the base consolidates live rows only). Tiny by contract:
    * one row per retired id per window. */
  private[operators] def readTombstones(spark: SparkSession, root: String,
      st: State, idCol: String): DataFrame = {
    val dirs = visibleDeltaDirs(spark, root, st, "deletes")
    if (dirs.isEmpty)
      emptyFrame(spark, new StructType().add(idCol, LongType)
        .add("asof", LongType))
    else spark.read.option("basePath", s"$root/deletes")
      .parquet(dirs: _*)
      .groupBy(idCol)
      .agg(max(col("batch").cast("long")).as("asof"))
  }

  /** The ordered-liveness rule, applied: keep `rows` (carrying `idCol`
    * + `_b` provenance) no visible tombstone kills (`_b < asof`). The
    * tombstone side broadcasts — its size is bounded by the compaction
    * cadence, the same contract as Lucene's in-RAM live-docs. */
  private[operators] def liveOnly(rows: DataFrame, tomb: DataFrame,
                                  idCol: String): DataFrame =
    rows.join(broadcast(tomb), Seq(idCol), "left_outer")
      .filter(col("asof").isNull || col("_b") >= col("asof"))
      .drop("asof")

  /** Resolve the state a reader pins: the committed pointer, or a
    * [[readAt]] snapshot when `version` is given — the shared
    * resolve-entry every stack's readers use. */
  private[operators] def stateAt(spark: SparkSession, root: String,
                                 version: Option[Long]): State =
    version match {
      case None => read(spark, root).getOrElse(
        throw new IllegalStateException(s"no committed manifest at $root"))
      case Some(v) => readAt(spark, root, v).getOrElse(
        throw new IllegalStateException(
          s"version $v at $root is uncommitted or vacuumed"))
    }

  /** The refusal a face throws when `root` holds no `stack` yet. */
  private[operators] def notInitialized(stack: String, root: String) =
    new IllegalStateException(
      s"$stack not initialized at $root — call init first")

  /** The two cuts of a change feed, each resolved as a snapshot — a
    * window whose batch high-water runs backwards is refused. */
  private[operators] def changeWindow(spark: SparkSession, root: String,
      from: Long, to: Long): (State, State) = {
    val stF = stateAt(spark, root, Some(from))
    val stT = stateAt(spark, root, Some(to))
    require(stT.batchId >= stF.batchId,
      s"change window is inverted: batch ${stF.batchId} → ${stT.batchId}")
    (stF, stT)
  }

  /** The buckets `df` holds under `bkt` — one driver collect, bounded
    * by the bucket count. A frame checkpointed lazily just before is
    * materialized by this same action. */
  private[operators] def elect(df: DataFrame, bkt: Column): Seq[Int] =
    df.select(bkt).distinct().collect().map(_.getInt(0)).toSeq

  /** The buckets whose pin differs between two cuts of one
    * per-bucket-MVCC family — a change feed's read set: a bucket
    * pinned IDENTICALLY at both cuts cannot contain a changed row
    * (commits replace touched buckets at fresh attempt tokens and
    * carry untouched rows through verbatim), so the feed reads only
    * these, at both cuts. */
  private[operators] def repinnedBuckets(a: Map[Int, Long],
                                         b: Map[Int, Long]): Seq[Int] =
    (a.keySet ++ b.keySet).toSeq.filter(k => a.get(k) != b.get(k))

  /** Attempt-unique version token for version-keyed asset paths: the
    * high bits carry the ordinal (human-readable ordering; vacuum and
    * listings stay interpretable), the low 24 bits a per-attempt
    * nonce. Two committers that both derived ordinal N therefore write
    * DISJOINT `v=` directories — the loser of the commit CAS can never
    * have clobbered files the winner just pinned (the SAME-face
    * cross-process closure; Iceberg's unique-snapshot-file idea).
    * Readers are untouched: every consumer resolves paths from the
    * manifest's pin VALUES, never by arithmetic on the ordinal. The
    * orphaned loser/crashed-attempt directories are invisible (no pin
    * references them) and vacuum reclaims them. */
  private[operators] def attemptVersion(ordinal: Long): Long =
    (ordinal << 24) |
      java.util.concurrent.ThreadLocalRandom.current().nextInt(1 << 24)

  /** Write one per-bucket-MVCC family's touched-bucket replacement at
    * `family/v=<attempt token>` and return the UPDATED pin map:
    * touched buckets with surviving rows re-pin to the token; touched
    * buckets the replacement EMPTIED unpin (partitionBy writes no
    * directory for them, so pinning would point at a path that does
    * not exist) — the one write-and-repin kernel every MVCC family
    * shares. The token (not the bare ordinal) is what makes two
    * same-ordinal committers' writes disjoint — see
    * [[attemptVersion]]. */
  private[operators] def writeRepin(replaced: DataFrame, family: String,
                                    root: String, vNew: Long,
                                    touched: Seq[Int],
                                    pins: Map[Int, Long]): Map[Int, Long] = {
    val tok = attemptVersion(vNew)
    val dir = s"$root/$family/v=$tok"
    writeBuckets(replaced, dir)
    // present = the bkt= dirs the ONE write just produced (partitionBy
    // writes no directory for an empty bucket) — a driver-side listing,
    // not a second Spark action
    val present = writtenBuckets(replaced.sparkSession, dir)
    pins -- touched.filterNot(present) ++
      touched.filter(present).map(_ -> tok)
  }

  /** THE bucketed write every family shares: `df`, carrying `bkt`,
    * overwrites `dir` as one `bkt=` directory per bucket it holds (an
    * empty bucket writes none). [[writtenBuckets]] lists what landed,
    * for the callers that pin it. */
  private[operators] def writeBuckets(df: DataFrame, dir: String): Unit =
    df.write.partitionBy("bkt").mode("overwrite").parquet(dir)

  /** The bkt= partition values a just-finished [[writeBuckets]] landed
    * under `dir` — read from the directory names, no Spark job. An
    * all-empty write leaves a markers-only dir: empty set. */
  private[operators] def writtenBuckets(spark: SparkSession,
                                        dir: String): Set[Int] = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val f = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!f.exists(p)) Set.empty
    else f.listStatus(p).toSeq.filter(_.isDirectory).map(_.getPath.getName)
      .filter(_.startsWith("bkt=")).map(_.drop(4).toInt).toSet
  }

  /** Move one per-bucket-MVCC family WHOLESALE to `family/v=<atV>`
    * and return its fresh pin map — the shared write kernel of the
    * migration and full-materialization faces (rebucket, resize, view
    * build), the whole-family sibling of [[writeRepin]]'s
    * touched-bucket replacement: `bucketed` carries the TARGET `bkt`,
    * everything lands at ONE version directory, and buckets the frame
    * left empty simply don't pin. Callers pass `atV` as the bare
    * ordinal (maintenance faces — same-face concurrency is a
    * deployment error, see [[attemptVersion]]) or an attempt token
    * (replayable batch faces like resize). */
  private[operators] def moveFamily(bucketed: DataFrame, family: String,
                                    root: String, atV: Long): Map[Int, Long] = {
    val dir = s"$root/$family/v=$atV"
    writeBuckets(bucketed.repartition(col("bkt")), dir)
    // pin what the ONE write landed (driver listing — see writeRepin):
    // buckets the frame left empty produced no bkt= dir and don't pin
    writtenBuckets(bucketed.sparkSession, dir).map(_ -> atV).toMap
  }

  /** What a vacuum did: asset directories deleted (superseded
    * versions, compacted-away batch deltas, crash orphans), history
    * manifests retired (bounding time travel), and asset directories
    * kept because some retained manifest still pins them. */
  case class VacuumStats(deletedDirs: Int, deletedManifests: Int,
                         keptDirs: Int)

  /** GARBAGE COLLECTION for a stack of `families` — the executable form
    * of "collectable by listing against the manifest". Versioned writes
    * never delete anything, so three kinds of garbage accumulate:
    * superseded versions (a bucket's old `v=` dirs once a later commit
    * re-pins it; the pre-compaction `batch=` deltas once the base
    * pointer moves past them), crash orphans (asset writes whose
    * manifest swap never happened), and stale `manifest.tmp-*` scratch
    * files. None is ever readable through a committed manifest, so
    * deletion is invisible to every pinned reader: vacuum lists each
    * family, keeps exactly the paths some RETAINED manifest references,
    * and deletes the rest.
    *
    * `retainVersions` keeps the last N history manifests below the
    * current one alive (and every asset they pin), bounding [[readAt]]
    * time travel — the standard table-format retention trade: retain 0
    * reclaims everything unpinned NOW; retain N pays N versions of
    * storage for N versions of snapshot reads. It holds the commit lock
    * (an in-process committer's un-swapped fresh-version writes would
    * otherwise look like orphans); like every table format's vacuum it
    * must not run concurrently with another process's in-flight commit
    * — run it from the same maintenance cadence as compaction. */
  private[operators] def vacuum(spark: SparkSession, root: String,
      retainVersions: Int, families: Seq[Family]): VacuumStats =
    withCommitLock(spark, root) {
      val cur = stateAt(spark, root, None)
      val floor = cur.version - retainVersions.toLong
      // the pointer ALWAYS retains, so a stack whose history files
      // predate the snapshot feature still keeps its live pins
      sweep(spark, root, floor, ((floor to cur.version)
        .flatMap(v => readAt(spark, root, v)) :+ cur).distinct, families)
    }

  /** The vacuum core: delete every directory of `families` no
    * `retained` state pins, retire history manifests below `floor`,
    * drop `manifest.tmp-*` scratch files, and remove the version dirs a
    * bucket sweep emptied. */
  private[operators] def sweep(spark: SparkSession, dir: String,
      floor: Long, retained: Seq[State],
      families: Seq[Family]): VacuumStats = {
    import org.apache.hadoop.fs.Path
    val root = new Path(dir)
    val f = root.getFileSystem(spark.sessionState.newHadoopConf())
    // sweep candidates are DIRECTORIES only: a live version dir's
    // _SUCCESS marker must neither be deleted out of a pinned asset
    // nor counted as reclaimed garbage
    def ls(p: Path): Seq[Path] =
      if (!f.exists(p)) Seq.empty
      else f.listStatus(p).toSeq.filter(_.isDirectory).map(_.getPath)
    var deleted = 0; var kept = 0
    // delete the dirs under `top` whose name `keep` refuses; the kept ones
    def sweepIn(top: Path, keep: String => Boolean): Seq[Path] =
      ls(top).filter { p =>
        if (keep(p.getName)) { kept += 1; true }
        else { f.delete(p, true); deleted += 1; false }
      }
    def versions(vs: Seq[Long]): Set[String] = vs.map(v => s"v=$v").toSet
    families.foreach {
      case Bucketed(d, pins) =>
        // (version, bucket) granularity: one commit's version dir can
        // hold both live and superseded buckets
        val keep = retained.flatMap(pins(_).map { case (b, v) =>
          s"v=$v/bkt=$b" }).toSet
        val top = new Path(root, d)
        ls(top).foreach(v => sweepIn(v, b => keep(s"${v.getName}/$b")))
        // a version dir whose buckets were all swept is spent even if
        // a write marker remains — remove the husk (not counted: its
        // content was already counted bucket by bucket)
        ls(top).filter(v => ls(v).isEmpty).foreach(v => f.delete(v, true))
      case Appended(d) =>
        val batches = retained.flatMap(st =>
          (st.baseBatch + 1) to st.batchId).map(b => s"batch=$b").toSet
        sweepIn(new Path(root, d), n => n == "base" || batches(n))
          .filter(_.getName == "base").foreach(sweepIn(_,
            versions(retained.filter(_.baseV >= 0).map(_.baseV))))
      case Versioned(d, v) =>
        sweepIn(new Path(root, d), versions(retained.map(v)))
      case Chain(d) =>
        sweepIn(new Path(root, d), versions(retained.flatMap(_.deltas
          .map(_.token))))
    }
    // history manifests and scratch leftovers are FILES — list the
    // root unfiltered (the dir-only `ls` above is for asset sweeps),
    // through the raw FileSystem where there is one: a checksummed
    // listing hides the `.manifest.tmp-*.crc` sidecars that scratch
    // files once created through it left behind
    val raw = f match {
      case c: org.apache.hadoop.fs.ChecksumFileSystem => c.getRawFileSystem
      case other => other
    }
    var retired = 0
    raw.listStatus(root).toSeq.map(_.getPath).foreach { p =>
      val n = p.getName
      // toLongOption, not toLong: a foreign file matching the prefix
      // but not parsing (an editor backup "manifest.v=3~") must be
      // SKIPPED, not abort the sweep mid-delete with the stats lost
      val stale =
        (n.startsWith("manifest.v=") &&
          n.drop(11).toLongOption.exists(_ < floor)) ||
          n.startsWith("manifest.tmp-")
      if (stale) { f.delete(p, false); retired += 1 }
      else if (n.startsWith(".manifest.tmp-") && n.endsWith(".crc"))
        raw.delete(p, false) // an orphan sidecar, not a manifest
    }
    VacuumStats(deleted, retired, kept)
  }
}

/** The BM25 serve stack's TRANSACTIONAL drain — the
  * [[Manifest]] protocol applied to the three assets
  * `streaming_stats_ingest` maintains with independent commits
  * (postings / term stats / global). Per batch, every write targets
  * a location derived from (version + 1, batchId) that no committed
  * manifest points at, then ONE manifest swap makes all three visible
  * together:
  *
  *  - postings: the anti-joined, norm-carrying delta lands whole in
  *    `postings/batch=N` (doc-bucketed inside for the next batch's
  *    pruned anti-join reads) — replay overwrites the same directory;
  *  - term stats: the batch terms' buckets are re-derived from their
  *    PINNED versions ⊕ the delta and written under
  *    `stats/v=N'/bkt=M`; untouched buckets keep their old pinned
  *    versions in the manifest — per-bucket MVCC, O(touched) write;
  *  - global: the 1-row increment lands at `global/v=N'`.
  *
  * Because every write goes to a fresh versioned path, the drain
  * never overwrites anything it read — the self-overwrite
  * checkpointing the in-place drains need disappears structurally.
  * Idempotency is by batch id (≤ high-water ⇒ skip whole), so a crash
  * at ANY point replays to the exact committed state: before the
  * swap nothing was visible; after it the batch is skipped. This is
  * the fix for the in-place drain's documented crash caveat (its
  * replay could not heal a partial commit because its delta
  * derivation anti-joined already-committed postings).
  *
  * Drain-age caveat, stated not hidden: the per-batch posting delta
  * directories accumulate — after F batches a read lists and opens F
  * directories (the same footer-count law [[Ledger.compactBuckets]]
  * measures on the in-place layout). The protocol's compaction is
  * the table-format one: consolidate the visible deltas into a fresh
  * versioned BASE directory, then commit a manifest whose batch list
  * restarts from it — the same single-swap atomicity, run on a
  * cadence. The stats side does not share the problem (per-bucket
  * MVCC keeps exactly one live version per bucket; superseded
  * version directories are garbage, collectable by comparing
  * listings against the manifest). */
object TxServeStack {
  import org.apache.spark.sql.DataFrame
  import org.apache.spark.sql.functions._
  import org.apache.spark.sql.types.StructType

  /** The stack's asset families: term stats per bucket, the 1-row
    * global ledger, and postings, positions and tombstones under the
    * base pointer + batch window. */
  private[operators] val families: Seq[Manifest.Family] = Seq(
    Manifest.Bucketed("stats", _.statsV),
    Manifest.Versioned("global", _.globalV),
    Manifest.Appended("postings"), Manifest.Appended("positions"),
    Manifest.Appended("deletes"))

  /** What a vacuum did — [[Manifest.VacuumStats]], under the name every
    * stack's `vacuum` has always returned. */
  type VacuumStats = Manifest.VacuumStats

  private val PostingCols =
    StructType.fromDDL("doc_id BIGINT, term STRING, tf BIGINT, dl BIGINT, bkt INT")
  private val PositionCols =
    StructType.fromDDL("doc_id BIGINT, term STRING, positions ARRAY<INT>, bkt INT")
  private val StatsCols = StructType.fromDDL("term STRING, df BIGINT, cf BIGINT")

  /** The committed postings (doc_id, term, tf, dl, bkt, _b) — `_b` the
    * batch provenance [[livePostings]]' tombstone rule orders by. */
  private def readPostings(spark: SparkSession, root: String,
                           st: Manifest.State): DataFrame =
    Manifest.readAppended(spark, root, st, "postings", PostingCols)

  /** The `rows` (doc_id + `_b`) no tombstone visible at `st` kills. */
  private def live(spark: SparkSession, root: String, st: Manifest.State,
                   rows: DataFrame): DataFrame =
    Manifest.liveOnly(rows, Manifest.readTombstones(spark, root, st,
      "doc_id"), "doc_id")

  /** The LIVE posting rows of a committed state. */
  private def livePostings(spark: SparkSession, root: String,
                           st: Manifest.State): DataFrame =
    live(spark, root, st, readPostings(spark, root, st))

  /** The pinned 1-row global ledger; zeros before the first commit. */
  private def readGlobal(spark: SparkSession, root: String,
                         st: Manifest.State): DataFrame =
    if (st.globalV < 0) {
      import spark.implicits._
      Seq((0L, 0L)).toDF("n_docs", "sum_dl")
    } else spark.read.parquet(s"$root/global/v=${st.globalV}")

  /** The pinned term-stats content of `buckets` (each bucket read at
    * ITS version) — the O(touched) `prev` leg every stats fold
    * re-derives from. */
  private def readPinnedStats(spark: SparkSession, root: String,
                              st: Manifest.State,
                              buckets: Seq[Int]): DataFrame =
    Manifest.readBucketed(spark, root, "stats", st.statsV, Some(buckets),
      StatsCols)

  /** Write the re-derived content of the touched stats buckets at
    * version `vNew` and return the UPDATED pin map: buckets with
    * surviving rows re-pin to `vNew`; touched buckets the fold
    * EMPTIED (every term's df hit 0) unpin — partitionBy writes no
    * directory for them, so pinning would point at a path that does
    * not exist. */
  private def writeStatsAndRepin(spark: SparkSession, root: String,
                                 st: Manifest.State, vNew: Long,
                                 replaced: DataFrame, termBuckets: Int,
                                 touched: Seq[Int]): Map[Int, Long] =
    Manifest.writeRepin(
      Ledger.withHashBucket(replaced, "term", termBuckets),
      "stats", root, vNew, touched, st.statsV)

  /** The LIVE tf rows of `ids` (bucket-pruned read, ordered-liveness
    * filter, id semi-join) — what a delete retires and an upsert's
    * decrement side folds; already-tombstoned and never-indexed ids
    * contribute nothing, which is what makes both faces replay- and
    * double-apply-exact. */
  private def liveRemovedTf(spark: SparkSession, root: String,
                            st: Manifest.State, ids: DataFrame,
                            docBuckets: Int): DataFrame =
    live(spark, root, st,
      Ledger.prunedToBatch(readPostings(spark, root, st), ids,
        "doc_id", docBuckets))
      .join(ids, Seq("doc_id"), "left_semi")
      .select(col("doc_id"), col("term"), col("tf"))
      .localCheckpoint()

  /** The POSITIONAL rows (doc_id, term, pos, bkt, _b) a committed
    * state makes visible — the stack's optional fourth asset
    * (phrase/NEAR/snippet serving), term-hash-bucketed inside each
    * versioned directory so a phrase serve prunes to its terms'
    * buckets. Same provenance + window as the postings: deltas at
    * `positions/batch=N`, consolidated base at `positions/base/v=V`
    * under the SAME base pointer ([[compactPostings]] compacts both
    * families in its one swap). Empty when the drain never carried
    * positions. */
  private def readPositions(spark: SparkSession, root: String,
                            st: Manifest.State): DataFrame =
    Manifest.readAppended(spark, root, st, "positions", PositionCols)

  /** Resolve the committed LIVE positional rows for a phrase/NEAR/
    * snippet serve, path-pruned to `termBucketsOf`'s elected buckets
    * when given (an unelected bucket's rows never load — the
    * tombstone liveness rule applies after the prune, a semantic
    * no-op on term-equi consumers). Returns (doc_id, term, positions). */
  def resolvePositions(spark: SparkSession, root: String,
                       termBuckets: Option[Seq[Int]] = None,
                       version: Option[Long] = None): DataFrame = {
    val st = Manifest.stateAt(spark, root, version)
    val raw = readPositions(spark, root, st)
    val pruned = termBuckets match {
      case None => raw
      case Some(bs) => raw.filter(col("bkt").isin(bs: _*))
    }
    live(spark, root, st, pruned)
      .select(col("doc_id"), col("term"), col("positions"))
  }

  /** Resolve the committed assets for serving: (postings, termStats,
    * global), each read ONLY through the manifest's pinned paths.
    * `statsBuckets` restricts the stats read to an elected bucket set
    * (the serve-side O(query) pruning — here it is PATH-level: an
    * unelected bucket's directory is never even listed). */
  def resolve(spark: SparkSession, root: String,
              statsBuckets: Option[Seq[Int]] = None,
              version: Option[Long] = None)
      : (DataFrame, DataFrame, DataFrame) = {
    val st = Manifest.stateAt(spark, root, version)
    val postings = livePostings(spark, root, st)
      .select(col("doc_id"), col("term"), col("tf"), col("dl"))
    val stats = Manifest.readBucketed(spark, root, "stats", st.statsV,
      statsBuckets, StatsCols)
    val global = spark.read.parquet(s"$root/global/v=${st.globalV}")
    (postings, stats, global)
  }

  /** DOC-LEVEL CHANGE DATA FEED between two committed cuts — which
    * documents a downstream consumer must re-process (re-embed,
    * re-profile, re-ship), classified `insert` (live at `toVersion`
    * only), `delete` (live at `fromVersion` only), `update` (live at
    * both, replaced inside the window by [[commitUpsert]]).
    *
    * Served from the WINDOW's per-batch assets, never a two-snapshot
    * diff: posting deltas in `(fromBatch, toBatch]` carry births
    * ([[commitBatch]] absorbs already-live re-ingests — an absorbed
    * doc lands no delta row and emits no change), tombstone files
    * carry retirements (only previously-LIVE ids land in
    * `deletes/batch=N`, so a no-op delete emits nothing). The two
    * liveness probes that classify the candidates read the posting
    * ledger PRUNED to the candidates' doc buckets (a `bkt IN`
    * partition filter) — O(window + touched buckets) end to end. A
    * doc born AND retired inside the window was visible at neither
    * cut and emits nothing. Bounded by vacuum retention exactly like
    * [[Manifest.readAt]]: the feed needs the window's delta
    * directories on disk (a delete-only batch legitimately has no
    * posting dir — missing dirs inside retention are fine).
    *
    * With `stats = true` the feed adds `dl_before` / `dl_after` — the
    * document norm at each cut, read from the SAME pruned liveness
    * probes (dl rides every posting row) — giving this window-asset
    * kernel the after-image property the pin-diff kernel
    * ([[TxSketchStack.changes]]) has by construction: a consumer
    * maintaining a subtractable aggregate (docs / token totals per
    * class) applies `Σ after − Σ before` from the feed alone. */
  def docChanges(spark: SparkSession, root: String, fromVersion: Long,
                 toVersion: Long, docBuckets: Int,
                 stats: Boolean = false): DataFrame = {
    val (stF, stT) = Manifest.changeWindow(spark, root, fromVersion, toVersion)
    // the window's batch dirs are what a cut with no base, its batch
    // window opening at the from-cut, makes visible
    val window = Manifest.State(-1L, stT.batchId, -1L, Map.empty,
      baseBatch = stF.batchId)
    def emptyIds = spark.emptyDataFrame
      .select(lit(0L).as("doc_id")).limit(0)
    def idsIn(family: String): DataFrame = {
      val dirs = Manifest.visibleDeltaDirs(spark, root, window, family)
      if (dirs.isEmpty) emptyIds
      // explicit schema: a batch whose delta ABSORBED whole (or whose
      // delete matched nothing) leaves a zero-file directory that
      // schema inference refuses; only the id column is needed anyway
      else spark.read.schema("doc_id LONG")
        .option("basePath", s"$root/$family")
        .parquet(dirs: _*).select(col("doc_id")).distinct()
    }
    // LAZY checkpoint: the election collect right below computes every
    // partition (its distinct drains the whole frame), so it both
    // materializes the checkpoint blocks and returns the buckets in
    // ONE action instead of the former checkpoint-then-collect pair —
    // the liveness probes then reuse the blocks (guide §2.4: remove
    // redundant passes)
    val candidates = Ledger.withBucket(
      idsIn("postings").unionByName(idsIn("deletes")).distinct(),
      "doc_id", docBuckets).localCheckpoint(eager = false)
    val cBkts = Manifest.elect(candidates, col("bkt"))
    val emptyFeed = emptyIds.select(col("doc_id"), lit("").as("change"),
      lit(0L).as("dl_before"), lit(0L).as("dl_after")).limit(0)
    val classified =
      if (cBkts.isEmpty) emptyFeed
      else {
        // the liveness probes carry the document NORM along (dl rides
        // every posting row — norms-in-the-index), so with `stats` the
        // feed has after-image parity with the pin-diff kernel: a
        // consumer maintaining a subtractable aggregate (doc counts,
        // token totals per class) needs no snapshot diff and no raw
        // pass — dl_before/dl_after ARE the delta's operands
        def liveAt(st: Manifest.State): DataFrame =
          live(spark, root, st, readPostings(spark, root, st)
              .filter(col("bkt").isin(cBkts: _*)))
            .join(candidates.select("doc_id"), Seq("doc_id"),
              "left_semi")
            .groupBy("doc_id").agg(max(col("dl")).as("dl"))
        val lb = liveAt(stF).select(col("doc_id"), col("dl").as("_dlb"))
        val la = liveAt(stT).select(col("doc_id"), col("dl").as("_dla"))
        candidates.select("doc_id")
          .join(lb, Seq("doc_id"), "left")
          .join(la, Seq("doc_id"), "left")
          .select(col("doc_id"),
            when(col("_dlb").isNull && col("_dla").isNotNull,
              lit("insert"))
              .when(col("_dlb").isNotNull && col("_dla").isNull,
                lit("delete"))
              .when(col("_dlb").isNotNull && col("_dla").isNotNull,
                lit("update")).as("change"),
            col("_dlb").as("dl_before"), col("_dla").as("dl_after"))
          .filter(col("change").isNotNull)
      }
    if (stats) classified else classified.select("doc_id", "change")
  }

  /** One micro-batch through the protocol. `publish = false`
    * simulates a crash after ALL asset writes but before the commit
    * point (the spec's crash face — a reader must see no change).
    * Returns true when the batch ran, false when the high-water mark
    * skipped it. */
  def commitBatch(spark: SparkSession, root: String, batch: DataFrame,
                  batchId: Long, idCol: String, textCol: String,
                  docBuckets: Int, termBuckets: Int,
                  publish: Boolean = true,
                  positions: Boolean = false): Boolean =
    Manifest.commitGuard(spark, root, batchId, publish)(
      Manifest.State(-1L, -1L, -1L, Map.empty)) { (st, vNew) =>
    // the positional family is a property of the STACK: once any commit
    // carried it, every later commit must too (the manifest records it),
    // or tombstones would retire positional rows no commit replaces
    val withPos = positions || st.pos
    // delta vs the COMMITTED LIVE postings only (orphans invisible,
    // tombstoned docs re-ingestable) — bucket-pruned to the batch's
    // doc buckets like every drain
    val storedLive = live(spark, root, st,
      Ledger.prunedToBatch(
        readPostings(spark, root, st)
          .select(col("doc_id"), col("bkt"), col("_b")),
        batch, idCol, docBuckets))
    val delta = Retrieval.bm25IndexAppend(
      storedLive.select(col("doc_id")), batch, idCol, textCol,
      deltaOnly = true).localCheckpoint()
    // the three asset legs below read only the CHECKPOINTED delta and
    // the COMMITTED state st, write disjoint versioned directories,
    // and publish together in the one pointer swap — order-free by
    // the crash contract, so they overlap (guide §2.6 / Par scaladoc)
    val gv = Manifest.attemptVersion(vNew)
    val statsV = Par.all[Any](() => {
      Manifest.writeBuckets(Ledger.withBucket(Retrieval.withDocNorms(delta),
        "doc_id", docBuckets), s"$root/postings/batch=$batchId")
      // positions (optional fourth asset): the SAME fresh-docs decision
      // the posting delta made — absorbed docs contribute no rows here
      // either, so the two assets can never disagree on membership
      if (withPos)
        writePositions(spark, root, batchId,
          batch.join(delta.select(col("doc_id").as(idCol)).distinct(),
            Seq(idCol), "left_semi"),
          idCol, textCol, termBuckets)
    }, () => {
      // global: pinned 1-row read + integer increment, fresh version
      Retrieval.bm25GlobalStatsAppend(readGlobal(spark, root, st), delta)
        .write.mode("overwrite").parquet(s"$root/global/v=$gv")
    }, () => {
      // term stats: touched buckets re-derived from their pinned
      // versions
      val touched = Ledger.keyHashBuckets(delta.select("term").distinct(),
        "term", termBuckets)
      val replaced = Retrieval.bm25TermStatsAppend(
        readPinnedStats(spark, root, st, touched), delta)
      writeStatsAndRepin(spark, root, st, vNew, replaced,
        termBuckets, touched)
    })(2).asInstanceOf[Map[Int, Long]]
    // copy, not construct: the base pointer (baseV/baseBatch) from a
    // prior compaction must ride through every subsequent commit
    st.copy(version = vNew, batchId = batchId, globalV = gv,
      statsV = statsV, pos = withPos)
  }

  /** TRANSACTIONAL DELETE — the takedown face under the protocol
    * (soft-delete tombstones, Lucene's live-docs design): the batch's
    * ids land as a tiny tombstone file at `deletes/batch=N`, every
    * read anti-joins the visible tombstones, and the SAME commit
    * folds the retired postings out of the derived stats — the
    * removed docs' tf rows (read bucket-pruned off the posting
    * ledger) decrement their terms' buckets
    * ([[Retrieval.bm25TermStatsRemove]] — df-0 terms drop) and the
    * 1-row global, all pinned to fresh versions and published by the
    * one swap. O(touched) end to end: tombstone write ∝ batch, stats
    * rewrite ∝ the removed terms' buckets, postings untouched.
    *
    * Already-deleted and never-indexed ids contribute no tf rows, so
    * replay and double-delete are stat-exact no-ops. Tombstones are
    * ORDERED by batch provenance (asof = this batch's id kills rows
    * born before it, nothing after), so a later arrival of the same
    * id simply lands as a new document — no era restriction — and
    * [[commitUpsert]] can retire and replace in one commit. The
    * tombstone window RETIRES at the next [[compactPostings]] (the
    * base consolidates live rows only); its size is bounded by the
    * compaction cadence — the reason the liveness join can
    * broadcast. */
  def commitDelete(spark: SparkSession, root: String,
                   removals: DataFrame, batchId: Long, idCol: String,
                   docBuckets: Int, termBuckets: Int,
                   publish: Boolean = true): Boolean =
    Manifest.commitGuard(spark, root, batchId, publish)(
      Manifest.stateAt(spark, root, None)) { (st, vNew) =>
    val ids = removals.select(col(idCol).as("doc_id")).distinct()
    val removedTf = liveRemovedTf(spark, root, st, ids, docBuckets)
    // three order-free asset legs off the checkpointed removedTf —
    // disjoint directories, one pointer swap (Par scaladoc)
    val gv = Manifest.attemptVersion(vNew)
    val statsV = Par.all[Any](() => {
      removedTf.select("doc_id").distinct()
        .write.mode("overwrite").parquet(s"$root/deletes/batch=$batchId")
    }, () => {
      Retrieval.bm25GlobalStatsRemove(readGlobal(spark, root, st), removedTf)
        .write.mode("overwrite").parquet(s"$root/global/v=$gv")
    }, () => {
      // term stats: the removed terms' buckets re-derived from their
      // pinned versions minus the decrements (a fold that EMPTIES a
      // bucket unpins it — writeStatsAndRepin)
      val touched = Ledger.keyHashBuckets(
        removedTf.select("term").distinct(), "term", termBuckets)
      val replaced = Retrieval.bm25TermStatsRemove(
        readPinnedStats(spark, root, st, touched), removedTf)
      writeStatsAndRepin(spark, root, st, vNew, replaced,
        termBuckets, touched)
    })(2).asInstanceOf[Map[Int, Long]]
    st.copy(version = vNew, batchId = batchId, globalV = gv,
      statsV = statsV)
  }

  /** Land a batch's positional rows at `positions/batch=N`,
    * term-hash-bucketed for the phrase serve's pruning. */
  private def writePositions(spark: SparkSession, root: String,
                             batchId: Long, docs: DataFrame,
                             idCol: String, textCol: String,
                             termBuckets: Int): Unit =
    Manifest.writeBuckets(Ledger.withHashBucket(
        Retrieval.positionalIndexBuild(docs, idCol, textCol),
        "term", termBuckets), s"$root/positions/batch=$batchId")

  /** TRANSACTIONAL UPSERT — replace documents in ONE commit (the
    * re-crawl face: a page's new version supersedes the old): the
    * batch ids' live rows retire under a tombstone at THIS batch id,
    * the batch's postings build WHOLE and land at `batch=N` — born AT
    * N, the tombstone kills only rows born BEFORE N, so the
    * replacement survives its own commit's tombstone — and the stats
    * fold is the exact net (old rows decremented, new rows
    * incremented, both sides' terms' buckets re-pinned), all
    * published by the one swap. Ids with no live rows are pure
    * inserts; `batch` carries each document once (its new full text —
    * two rows for one id would merge into one document's tf).
    * Idempotent by batch id; `publish = false` is the crash face. */
  def commitUpsert(spark: SparkSession, root: String, batch: DataFrame,
                   batchId: Long, idCol: String, textCol: String,
                   docBuckets: Int, termBuckets: Int,
                   publish: Boolean = true,
                   positions: Boolean = false): Boolean =
    Manifest.commitGuard(spark, root, batchId, publish)(
      Manifest.stateAt(spark, root, None)) { (st, vNew) =>
    // stack-derived, like commitBatch: an upsert on a positional stack
    // that omitted the flag would retire the old positional rows via
    // the shared tombstone and land NO replacements — phrase serves
    // would silently miss the document while BM25 serves it
    val withPos = positions || st.pos
    val ids = batch.select(col(idCol).as("doc_id")).distinct()
    // the decrement side (live rows the batch retires) and the
    // replacement build read independent inputs — overlap their two
    // checkpoint materializations (guide §2.6), then the four asset
    // legs: all write disjoint versioned directories published by the
    // ONE swap, so their order is unobservable (Par scaladoc)
    val (removedTf, delta) = Par.both(
      liveRemovedTf(spark, root, st, ids, docBuckets),
      // the replacements build WHOLE — an upsert supersedes, it is not
      // absorbed by what it replaces
      Retrieval.bm25IndexBuild(batch, idCol, textCol).localCheckpoint())
    val gv = Manifest.attemptVersion(vNew)
    val statsV = Par.all[Any](() => {
      removedTf.select("doc_id").distinct()
        .write.mode("overwrite").parquet(s"$root/deletes/batch=$batchId")
    }, () => {
      Manifest.writeBuckets(Ledger.withBucket(Retrieval.withDocNorms(delta),
        "doc_id", docBuckets), s"$root/postings/batch=$batchId")
      // positions: the replacements' rows land whole; the shared
      // tombstone retires the old rows on the positional read too
      if (withPos)
        writePositions(spark, root, batchId, batch, idCol, textCol,
          termBuckets)
    }, () => {
      Retrieval.bm25GlobalStatsAppend(Retrieval.bm25GlobalStatsRemove(
          readGlobal(spark, root, st), removedTf), delta)
        .write.mode("overwrite").parquet(s"$root/global/v=$gv")
    }, () => {
      // stats: net fold over the union of both sides' terms' buckets
      val touched = Ledger.keyHashBuckets(
        removedTf.select("term").unionByName(delta.select("term"))
          .distinct(), "term", termBuckets)
      val replaced = Retrieval.bm25TermStatsAppend(
        Retrieval.bm25TermStatsRemove(
          readPinnedStats(spark, root, st, touched), removedTf), delta)
      writeStatsAndRepin(spark, root, st, vNew, replaced,
        termBuckets, touched)
    })(3).asInstanceOf[Map[Int, Long]]
    st.copy(version = vNew, batchId = batchId, globalV = gv,
      statsV = statsV, pos = withPos)
  }

  /** Posting COMPACTION under the protocol — the drain-age answer the
    * [[TxServeStack]] scaladoc prescribes: consolidate the visible
    * LIVE posting rows (prior base + accumulated per-batch deltas,
    * minus tombstoned docs — compaction is where [[commitDelete]]'s
    * soft deletes purge physically) into a fresh versioned BASE
    * directory, one file per bucket ([[Ledger.compactBuckets]]'
    * shape), then commit a manifest whose base pointer moves and
    * whose delta window — postings AND tombstones — restarts. Same
    * single-swap atomicity as a batch commit, run on a cadence. A
    * crash before the swap leaves the old manifest intact (the new
    * base is an invisible orphan); live rows are untouched by
    * contract, so a compacted stack serves bit-identically.
    * Superseded batch directories become garbage the swap already
    * unpinned — collectable by [[vacuum]]. `publish = false` is the
    * spec's crash face. Returns false when there is nothing visible
    * to compact. */
  def compactPostings(spark: SparkSession, root: String,
                      publish: Boolean = true): Boolean =
    Manifest.transact(spark, root, publish)(
      Manifest.stateAt(spark, root, None)) { (st, vNew) =>
    Option.when(
        Manifest.visibleDeltaDirs(spark, root, st, "postings").nonEmpty) {
      // both legs read only the COMMITTED state and write disjoint base
      // directories published by the one swap — order-free, overlap
      // them (guide §2.6 / Par scaladoc)
      Par.both(
        Manifest.writeBuckets(livePostings(spark, root, st).drop("_b")
          .repartition(col("bkt")), s"$root/postings/base/v=$vNew"),
        // the positional family (when the drain carried one) compacts in
        // the SAME swap — one base pointer covers both row-append assets
        if (Manifest.visibleDeltaDirs(spark, root, st, "positions").nonEmpty)
          Manifest.writeBuckets(
            live(spark, root, st, readPositions(spark, root, st))
              .select(col("doc_id"), col("term"), col("positions"), col("bkt"))
              .repartition(col("bkt")), s"$root/positions/base/v=$vNew"))
      st.copy(version = vNew, baseV = vNew, baseBatch = st.batchId)
    }
    }

  /** Transactional RE-BUCKET for the lexical stack —
    * [[TxGraphStack.rebucket]]'s twin, moving BOTH keyspaces in one
    * commit: the live postings consolidate into a fresh base under
    * `newDocBuckets` (pmod(doc_id, B′) — also a physical purge: the
    * tombstone window restarts with the base pointer), the positional
    * family re-keys under the TERM keyspace it prunes by, and the
    * whole term-stats ledger rewrites under `newTermBuckets` with its
    * pin map moving wholesale. A crash anywhere leaves the old
    * keyspaces serving; a reader can never observe the two numberings
    * interleaved. Callers pass B′ to every subsequent
    * commit/serve election — the same contract as the graph stack's.
    * Inherently O(ledger), amortized over every batch-sized commit
    * after it: the undersized-B case is term-DF skew — with B fixed
    * while the vocabulary grows ∝ corpus, every stats bucket's
    * replacement write grows ∝ vocabulary/B, and the serve's elected
    * "3 buckets of 16" stops pruning (3 of 16 is 19% of a ledger that
    * should have been 3 of 512 = 0.6%). */
  def rebucket(spark: SparkSession, root: String, newDocBuckets: Int,
               newTermBuckets: Int, publish: Boolean = true): Boolean = {
    require(newDocBuckets > 0 && newTermBuckets > 0,
      "bucket counts must be positive")
    Manifest.transact(spark, root, publish)(
      Manifest.stateAt(spark, root, None)) { (st, vNew) =>
    Option.when(
        Manifest.visibleDeltaDirs(spark, root, st, "postings").nonEmpty ||
          st.statsV.nonEmpty) {
      // three order-free legs: all read only the COMMITTED state and
      // write disjoint directories (postings/base, positions/base,
      // stats/v=N) published by the one swap — overlap them (guide §2.6)
      val statsPins = Par.all[Any](() =>
        Manifest.writeBuckets(Ledger.withBucket(
            livePostings(spark, root, st).drop("_b", "bkt"),
            "doc_id", newDocBuckets).repartition(col("bkt")),
          s"$root/postings/base/v=$vNew"),
      () =>
        if (Manifest.visibleDeltaDirs(spark, root, st, "positions").nonEmpty)
          Manifest.writeBuckets(Ledger.withHashBucket(
              live(spark, root, st, readPositions(spark, root, st))
                .select(col("doc_id"), col("term"), col("positions")),
              "term", newTermBuckets).repartition(col("bkt")),
            s"$root/positions/base/v=$vNew"),
      () =>
        if (st.statsV.isEmpty) st.statsV
        else Manifest.moveFamily(
          Ledger.withHashBucket(
            readPinnedStats(spark, root, st, st.statsV.keys.toSeq),
            "term", newTermBuckets),
          "stats", root, vNew))(2).asInstanceOf[Map[Int, Long]]
      st.copy(version = vNew, baseV = vNew, baseBatch = st.batchId,
        statsV = statsPins)
    }
    }
  }

  /** Garbage-collect what no retained cut pins — [[Manifest.vacuum]]
    * over [[families]]: superseded stats buckets and globals,
    * compacted-away posting/position deltas and tombstones, crash
    * orphans, and history manifests below the retention floor. */
  def vacuum(spark: SparkSession, root: String,
             retainVersions: Int = 0): VacuumStats =
    Manifest.vacuum(spark, root, retainVersions, families)
}

/** The IVF-PQ serve stack's TRANSACTIONAL face — the [[Manifest]]
  * protocol applied to the VECTOR index's multi-asset state. The
  * stack is three assets that must move together:
  *
  *  - `codes/batch=N` (+ `codes/base/v=V` after a refresh): the
  *    (vec_id, cell, codes) ledger [[Similarity.pqIndexBuild]]
  *    produces, bucketed on pmod(vec_id, B) inside each directory so
  *    the next batch's already-inserted anti-join reads only the
  *    batch's buckets;
  *  - `quant/v=V/centroids` + `quant/v=V/codebook`: the FROZEN
  *    quantizer pair the codes were encoded against. This pair is the
  *    protocol's sharpest torn-state hazard: a code is m indexes into
  *    a specific codebook — serve codes from quantizer A against
  *    codebook B and every ADC distance is silently wrong
  *    ([[graft.expressions.PqAdcLookup]] throws only on WIDTH
  *    mismatches; same-shape quantizers mis-rank undetectably). One
  *    manifest pins codes and quantizer to the same cut, so the
  *    mixed state is unobservable by construction.
  *
  * QUANTIZER REFRESH — the FAISS
  * retrain-and-reindex lifecycle [[Similarity.pqIndexReencode]]
  * documents as "write to a new path, then switch readers" — becomes
  * a first-class transaction here: re-encode into a fresh codes BASE
  * + fresh quant version, then ONE swap moves both pointers; a crash
  * anywhere leaves the old index serving. */
object TxVectorStack {
  import org.apache.spark.sql.DataFrame
  import org.apache.spark.sql.functions._

  /** The quantizer pair at `globalV`; codes and tombstones under the
    * base pointer + batch window. */
  private[operators] val families: Seq[Manifest.Family] = Seq(
    Manifest.Versioned("quant", _.globalV), Manifest.Appended("codes"),
    Manifest.Appended("deletes"))

  private val CodeCols = org.apache.spark.sql.types.StructType.fromDDL(
    "vec_id BIGINT, cell INT, codes ARRAY<INT>, bkt INT")

  /** Create the stack: commit a trained quantizer (centroids +
    * codebook) with no codes yet. Deployment order is quantizer
    * first — [[commitBatch]] encodes every arrival against the
    * PINNED quantizer, never retrains ([[Similarity.pqIndexAppend]]'s
    * frozen-quantizer invariant). */
  def init(spark: SparkSession, root: String, centroids: DataFrame,
           codebooks: DataFrame): Unit =
    Manifest.create(spark, root,
        s"vector stack already initialized at $root") {
      writeQuant(root, 0L, centroids, codebooks)
      Manifest.State(0L, -1L, 0L, Map.empty)
    }

  private def writeQuant(root: String, v: Long, centroids: DataFrame,
                         codebooks: DataFrame): Unit = {
    centroids.select(col("cell"), col("c_vec"))
      .write.mode("overwrite").parquet(s"$root/quant/v=$v/centroids")
    codebooks.select(col("sub"), col("code"), col("w_vec"))
      .write.mode("overwrite").parquet(s"$root/quant/v=$v/codebook")
  }

  /** The pinned quantizer pair (centroids, codebook). */
  private def readQuant(spark: SparkSession, root: String,
                        st: Manifest.State): (DataFrame, DataFrame) =
    (spark.read.parquet(s"$root/quant/v=${st.globalV}/centroids"),
      spark.read.parquet(s"$root/quant/v=${st.globalV}/codebook"))

  /** The LIVE committed codes (vec_id, cell, codes, bkt, _b): batch
    * provenance `_b` orders the tombstone rule exactly as
    * [[TxServeStack]]'s postings — a tombstone at asof = N kills rows
    * born before N and nothing after, so [[commitUpsert]] replaces in
    * one commit and a post-delete re-ingest just lands. The window
    * retires at the next [[refresh]]. */
  private def liveCodes(spark: SparkSession, root: String,
                        st: Manifest.State): DataFrame =
    Manifest.liveOnly(
      Manifest.readAppended(spark, root, st, "codes", CodeCols),
      Manifest.readTombstones(spark, root, st, "vec_id"), "vec_id")

  /** Tombstone the batch ids that still have live code rows at
    * `deletes/batch=N` — [[commitDelete]]'s whole write and
    * [[commitUpsert]]'s retire half. */
  private def writeTombstones(spark: SparkSession, root: String,
                              st: Manifest.State, ids: DataFrame,
                              buckets: Int, batchId: Long): Unit =
    Ledger.prunedToBatch(liveCodes(spark, root, st), ids,
        "vec_id", buckets)
      .join(ids, Seq("vec_id"), "left_semi")
      .select("vec_id").distinct()
      .write.mode("overwrite").parquet(s"$root/deletes/batch=$batchId")

  /** Resolve the committed (codes ledger, centroids, codebook) for
    * serving — optionally pinned to a snapshot `version`, which
    * serves the index exactly as of that commit (old quantizer, old
    * membership) concurrent with later commits and refreshes. */
  def resolve(spark: SparkSession, root: String,
              version: Option[Long] = None)
      : (DataFrame, DataFrame, DataFrame) = {
    val st = Manifest.stateAt(spark, root, version)
    val codes = liveCodes(spark, root, st).select("vec_id", "cell", "codes")
    val (cent, cb) = readQuant(spark, root, st)
    (codes, cent, cb)
  }

  /** TRANSACTIONAL DELETE for the vector index
    * ([[TxServeStack.commitDelete]]'s twin, minus derived stats —
    * code rows are independent under a frozen quantizer, so a delete
    * is PURELY a tombstone): the ids land at `deletes/batch=N`, reads
    * apply the ordered liveness rule (asof kills rows born before
    * it, so a later re-ingest of the same id just lands), and the
    * window retires at the next [[refresh]], the physical purge.
    * Idempotent by batch id AND by id set: only ids with live code
    * rows are tombstoned. */
  def commitDelete(spark: SparkSession, root: String,
                   removals: DataFrame, batchId: Long, idCol: String,
                   buckets: Int = 16, publish: Boolean = true): Boolean =
    Manifest.commitGuard(spark, root, batchId, publish)(
      Manifest.stateAt(spark, root, None)) { (st, vNew) =>
      writeTombstones(spark, root, st,
        removals.select(col(idCol).as("vec_id")).distinct(),
        buckets, batchId)
      st.copy(version = vNew, batchId = batchId)
    }

  /** One arrival batch through the protocol: anti-join the committed
    * membership (bucket-pruned to the batch's buckets), encode the
    * fresh vectors under the PINNED quantizer, land the delta at
    * `codes/batch=N`, swap. Idempotent by batch id; `publish = false`
    * is the crash face. */
  def commitBatch(spark: SparkSession, root: String, batch: DataFrame,
                  batchId: Long, idCol: String, vecCol: String,
                  buckets: Int = 16, publish: Boolean = true): Boolean =
    Manifest.commitGuard(spark, root, batchId, publish)(
      throw Manifest.notInitialized("vector stack", root)) { (st, vNew) =>
      val (cent, cb) = readQuant(spark, root, st)
      val stored = Ledger.prunedToBatch(
          liveCodes(spark, root, st).select(col("vec_id"), col("bkt")),
          batch.select(col(idCol).as("vec_id")), "vec_id", buckets)
      val delta = Similarity.pqIndexAppend(stored, batch, cent, cb,
        idCol, vecCol, deltaOnly = true)
      Manifest.writeBuckets(Ledger.withBucket(delta, "vec_id", buckets),
        s"$root/codes/batch=$batchId")
      st.copy(version = vNew, batchId = batchId)
    }

  /** TRANSACTIONAL UPSERT for the vector index
    * ([[TxServeStack.commitUpsert]]'s twin): the batch ids' live code
    * rows retire under a tombstone at THIS batch id and the batch's
    * vectors encode WHOLE under the pinned quantizer into
    * `codes/batch=N` — born at N, surviving their own tombstone —
    * one swap publishes both. The re-embed face: a document's vector
    * changes when its content (or the embedding model's input) does,
    * and the index must atomically stop serving the stale vector. */
  def commitUpsert(spark: SparkSession, root: String, batch: DataFrame,
                   batchId: Long, idCol: String, vecCol: String,
                   buckets: Int = 16, publish: Boolean = true): Boolean =
    Manifest.commitGuard(spark, root, batchId, publish)(
      Manifest.stateAt(spark, root, None)) { (st, vNew) =>
      // tombstone and replacement-codes legs read only the committed
      // cut and the batch, write disjoint directories, and publish in
      // the one swap — order-free, overlap them (Par scaladoc)
      Par.both(
        writeTombstones(spark, root, st,
          batch.select(col(idCol).as("vec_id")).distinct(),
          buckets, batchId),
        {
          val (cent, cb) = readQuant(spark, root, st)
          val delta = Similarity.pqIndexBuild(batch, cent, cb, idCol,
            vecCol)
          Manifest.writeBuckets(Ledger.withBucket(delta, "vec_id", buckets),
            s"$root/codes/batch=$batchId")
        })
      st.copy(version = vNew, batchId = batchId)
    }

  /** QUANTIZER REFRESH as one transaction: re-encode the committed
    * membership under a NEW quantizer ([[Similarity.pqIndexReencode]]
    * — the ledger is the membership authority, `corpus` the float
    * authority) into a fresh codes BASE (one file per bucket, so the
    * refresh is also the codes compaction) plus a fresh quant
    * version, then ONE swap moves both pointers and restarts the
    * delta window. A crash anywhere before the swap leaves the old
    * quantizer serving the old codes — the mixed codes-from-A /
    * codebook-B state that in-place reindexing risks cannot be
    * observed. `publish = false` is the crash face. */
  def refresh(spark: SparkSession, root: String, corpus: DataFrame,
              centroids: DataFrame, codebooks: DataFrame,
              idCol: String, vecCol: String, buckets: Int = 16,
              publish: Boolean = true): Boolean =
    Manifest.transact(spark, root, publish)(
      Manifest.stateAt(spark, root, None)) { (st, vNew) =>
      // live membership only — the refresh is also the tombstone purge
      val reenc = Similarity.pqIndexReencode(
        liveCodes(spark, root, st).select("vec_id", "cell", "codes"),
        corpus, centroids, codebooks, idCol, vecCol)
      // fresh codes base and fresh quant version: disjoint directories
      // under the one swap — overlap the writes (Par scaladoc)
      Par.both(
        Manifest.writeBuckets(Ledger.withBucket(reenc, "vec_id", buckets)
          .repartition(col("bkt")), s"$root/codes/base/v=$vNew"),
        writeQuant(root, vNew, centroids, codebooks))
      Some(st.copy(version = vNew, globalV = vNew, baseV = vNew,
        baseBatch = st.batchId))
    }

  /** [[TxServeStack.vacuum]]'s twin for the vector stack: reclaim
    * superseded quantizer versions (each refresh strands one),
    * refreshed-away codes deltas, crash orphans, and history
    * manifests below the retention floor. */
  def vacuum(spark: SparkSession, root: String,
             retainVersions: Int = 0): TxServeStack.VacuumStats =
    Manifest.vacuum(spark, root, retainVersions, families)
}
