package perfbench

import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.execution.metric.SQLMetric
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Collector of a traced run: spans opened by the harness around each call
  * into a layer's public function, plus the counters the listeners below
  * feed. The listeners attach through configuration only
  * (`spark.extraListeners`, `spark.sql.queryExecutionListeners`,
  * `spark.sql.streaming.streamingQueryListeners`); untraced runs do not
  * attach them and every call here is a no-op.
  *
  * A job is attributed to the span whose job group it carries (each span
  * sets `pb-<id>` as the group; `Par` legs inherit it) and otherwise to the
  * innermost open span, which covers jobs started by code that makes its
  * own SparkContext, as the CLI does. */
object Trace {
  @volatile var enabled = false

  final case class Span(id: Long, name: String, parent: Long, start: Long,
                        var end: Long = -1L, var jobs: Long = 0L,
                        var stages: Long = 0L, var tasks: Long = 0L)

  private val ids = new AtomicLong()
  private val spans = mutable.ArrayBuffer[Span]()
  private val byId = mutable.Map[Long, Span]()
  @volatile private var open: List[Span] = Nil

  private val counters = mutable.LinkedHashMap[String, Double]()
  def add(k: String, v: Double): Unit = counters.synchronized {
    counters(k) = counters.getOrElse(k, 0.0) + v
  }
  def snapshot(): Map[String, Double] = counters.synchronized(counters.toMap)

  /** Job intervals (ms) for `spark.job_s` and the driver gap. */
  private val jobIntervals = mutable.ArrayBuffer[(Long, Long)]()
  private val jobStartAt = mutable.Map[Int, Long]()
  private val jobStages = mutable.Map[Int, Seq[Int]]()
  private val stageSpan = mutable.Map[Int, Long]()
  private val completedStages = mutable.Set[Int]()
  private val lastMetric = mutable.Map[Long, Long]()
  private val cachedBlocks = mutable.Map[String, Long]()
  private var cachedPeak = 0L
  private val streamState = mutable.Map[java.util.UUID, Long]()
  private val sqlStartAt = mutable.Map[Long, Long]()
  /** Root SQL executions as (start, end) epoch ms, and SparkContext starts. */
  val sqlExecs = mutable.ArrayBuffer[(Long, Long)]()
  val appStarts = mutable.ArrayBuffer[Long]()

  @volatile private var timedFrom = 0L

  /** Drop the counters so far (the set-up phase's); spans are kept, and
    * [[spanSeconds]] counts only the spans opened from now on. */
  def reset(): Unit = synchronized {
    timedFrom = System.nanoTime()
    counters.synchronized(counters.clear())
    jobIntervals.clear(); cachedPeak = 0L; streamState.clear()
    sqlExecs.clear(); appStarts.clear()
  }

  def span[A](name: String)(body: => A): A = {
    if (!enabled) return body
    val s = synchronized {
      val sp = Span(ids.incrementAndGet(), name, open.headOption.fold(0L)(_.id),
        System.nanoTime())
      spans += sp; byId(sp.id) = sp; open = sp :: open
      sp
    }
    val sc = SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .map(_.sparkContext).filterNot(_.isStopped)
    val keys = Seq("spark.jobGroup.id", "spark.job.description",
      "spark.job.interruptOnCancel")
    val prev = sc.map(c => keys.map(k => k -> c.getLocalProperty(k)))
    sc.foreach(_.setJobGroup(s"pb-${s.id}", name))
    try body
    finally {
      prev.foreach(_.foreach { case (k, v) =>
        try sc.get.setLocalProperty(k, v) catch { case _: Throwable => } })
      synchronized { s.end = System.nanoTime(); open = open.filterNot(_ eq s) }
    }
  }

  /** Sum of the wall time (s) of the closed spans with this name opened
    * since the last [[reset]]. */
  def spanSeconds(name: String): Double = synchronized {
    spans.filter(s => s.name == name && s.end > 0 && s.start >= timedFrom)
      .map(s => (s.end - s.start) / 1e9).sum
  }

  /** Union (s) of the job intervals that fall inside [fromMs, toMs]. */
  def jobSeconds(fromMs: Long, toMs: Long): Double = synchronized {
    val iv = jobIntervals.map { case (a, b) => (math.max(a, fromMs), math.min(b, toMs)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L; var curA = -1L; var curB = -1L
    iv.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) total += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total / 1e3
  }

  def cachePeakMb: Double = synchronized(cachedPeak / 1e6)
  def stateMb: Double = synchronized(streamState.values.sum / 1e6)

  // ---- listener callbacks ------------------------------------------------

  private def spanOf(props: java.util.Properties): Long = {
    val g = Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    g.filter(_.startsWith("pb-")).map(_.drop(3).toLong)
      .getOrElse(open.headOption.fold(0L)(_.id))
  }

  def jobStart(e: SparkListenerJobStart): Unit = synchronized {
    add("spark.jobs", 1)
    val sid = spanOf(e.properties)
    byId.get(sid).foreach(_.jobs += 1)
    jobStartAt(e.jobId) = e.time
    jobStages(e.jobId) = e.stageIds
    e.stageIds.foreach(st => stageSpan(st) = sid)
  }

  def jobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStartAt.remove(e.jobId).foreach(s => jobIntervals += ((s, e.time)))
    jobStages.remove(e.jobId).foreach { st =>
      add("spark.stages_skipped", st.count(s => !completedStages(s)).toDouble)
    }
  }

  def stageDone(e: SparkListenerStageCompleted): Unit = synchronized {
    val id = e.stageInfo.stageId
    completedStages += id
    add("spark.stages", 1)
    stageSpan.get(id).flatMap(byId.get).foreach(_.stages += 1)
  }

  def taskEnd(e: SparkListenerTaskEnd): Unit = {
    add("spark.tasks", 1)
    add("spark.tasks_failed", if (e.reason != org.apache.spark.Success) 1 else 0)
    synchronized(stageSpan.get(e.stageId).flatMap(byId.get).foreach(_.tasks += 1))
    val m = e.taskMetrics
    if (m != null) {
      add("spark.task_run_s", m.executorRunTime / 1e3)
      add("spark.task_cpu_s", m.executorCpuTime / 1e9)
      add("spark.gc_s", m.jvmGCTime / 1e3)
      add("spark.shuffle_write_mb", m.shuffleWriteMetrics.bytesWritten / 1e6)
      add("spark.shuffle_read_mb", m.shuffleReadMetrics.totalBytesRead / 1e6)
      add("spark.spill_mb", (m.memoryBytesSpilled + m.diskBytesSpilled) / 1e6)
    }
  }

  def sqlEvent(e: SparkListenerEvent): Unit = synchronized {
    e match {
      case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
          if s.rootExecutionId.forall(_ == s.executionId) =>
        sqlStartAt(s.executionId) = s.time
      case x: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd =>
        sqlStartAt.remove(x.executionId).foreach(a => sqlExecs += ((a, x.time)))
      case _ =>
    }
  }

  def appStart(t: Long): Unit = synchronized(appStarts += t)

  def blockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val b = e.blockUpdatedInfo
    if (b.blockId.isRDD) {
      val size = b.memSize + b.diskSize
      if (size > 0) cachedBlocks(b.blockId.name) = size else cachedBlocks.remove(b.blockId.name)
      cachedPeak = math.max(cachedPeak, cachedBlocks.values.sum)
    }
  }

  /** Every physical node of an executed plan, AQE stages and cached plans
    * included; reused exchanges are not descended (their work is counted
    * where it ran). */
  private def nodes(p: SparkPlan): Iterator[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => Iterator(a) ++ nodes(a.executedPlan)
    case q: QueryStageExec => Iterator(q) ++ nodes(q.plan)
    case r: ReusedExchangeExec => Iterator(r)
    case m: InMemoryTableScanExec =>
      Iterator(m) ++ nodes(m.relation.cachedPlan)
    case o => Iterator(o) ++ o.children.iterator.flatMap(nodes) ++
      o.subqueries.iterator.flatMap(nodes)
  }

  /** Growth of a metric since it was last read: SQL metrics accumulate
    * on their plan node, and a cached plan is read by every action. */
  private def delta(m: Option[SQLMetric]): Long = m.fold(0L) { x =>
    val prev = lastMetric.getOrElse(x.id, 0L)
    lastMetric(x.id) = x.value
    x.value - prev
  }

  def action(qe: QueryExecution, durationNs: Long): Unit = synchronized {
    add("sql.actions", 1)
    add("sql.exec_s", durationNs / 1e9)
    val ph = qe.tracker.phases
    Seq("analysis", "optimization", "planning").foreach { k =>
      add(s"sql.${k}_s", ph.get(k).fold(0L)(_.durationMs) / 1e3)
    }
    val all = nodes(qe.executedPlan).toSeq
    var write = false
    all.foreach { n =>
      val cls = n.getClass.getSimpleName
      val m = n.metrics
      if (cls == "FileSourceScanExec" || cls == "BatchScanExec") {
        add("sql.scan_files", delta(m.get("numFiles")).toDouble)
        add("sql.scan_mb", delta(m.get("filesSize")) / 1e6)
        add("sql.scan_metadata_s", delta(m.get("metadataTime")) / 1e3)
      } else if (cls == "DataWritingCommandExec") {
        write = true
        add("sql.files_written", delta(m.get("numFiles")).toDouble)
        add("sql.rows_written", delta(m.get("numOutputRows")).toDouble)
        add("sql.task_commit_s", delta(m.get("taskCommitTime")) / 1e3)
        add("sql.job_commit_s", delta(m.get("jobCommitTime")) / 1e3)
      } else if (cls.startsWith("AppendData") || cls.startsWith("OverwriteByExpression") ||
                 cls.startsWith("OverwritePartitions") || cls.startsWith("WriteToDataSourceV2")) {
        write = true
      } else if (cls == "BroadcastExchangeExec") {
        add("sql.broadcast_build_s", delta(m.get("buildTime")) / 1e3)
      }
    }
    if (write) add("sql.write_actions", 1)
  }

  def streamProgress(p: org.apache.spark.sql.streaming.StreamingQueryProgress): Unit = synchronized {
    def ms(k: String): Double = Option(p.durationMs.get(k)).fold(0.0)(_.doubleValue) / 1e3
    add("stream.triggers", 1)
    add("stream.trigger_s", ms("triggerExecution"))
    add("stream.add_batch_s", ms("addBatch"))
    add("stream.wal_commit_s", ms("walCommit"))
    add("stream.commit_offsets_s", ms("commitOffsets"))
    add("stream.latest_offset_s", ms("latestOffset"))
    add("stream.planning_s", ms("queryPlanning"))
    val state = p.stateOperators.map(_.memoryUsedBytes).sum
    streamState(p.id) = math.max(streamState.getOrElse(p.id, 0L), state)
  }

  /** Spans as JSON lines: name, ids, start/end (ns since the first span),
    * wall and self time, and the jobs, stages and tasks they caused. */
  def spansJson(): Seq[String] = synchronized {
    val t0 = spans.headOption.fold(0L)(_.start)
    val childTime = spans.groupBy(_.parent).map { case (p, cs) =>
      p -> cs.filter(_.end > 0).map(c => c.end - c.start).sum }
    spans.filter(_.end > 0).map { s =>
      val wall = s.end - s.start
      Json.write(Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
        "start_ns" -> (s.start - t0), "end_ns" -> (s.end - t0),
        "wall_s" -> wall / 1e9, "self_s" -> (wall - childTime.getOrElse(s.id, 0L)) / 1e9,
        "jobs" -> s.jobs, "stages" -> s.stages, "tasks" -> s.tasks))
    }.toSeq
  }
}

class BenchListener extends SparkListener {
  override def onJobStart(e: SparkListenerJobStart): Unit = Trace.jobStart(e)
  override def onJobEnd(e: SparkListenerJobEnd): Unit = Trace.jobEnd(e)
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Trace.stageDone(e)
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Trace.taskEnd(e)
  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = Trace.blockUpdated(e)
  override def onOtherEvent(e: SparkListenerEvent): Unit = Trace.sqlEvent(e)
  override def onApplicationStart(e: SparkListenerApplicationStart): Unit = Trace.appStart(e.time)
}

class BenchQueryListener extends QueryExecutionListener {
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    Trace.action(qe, durationNs)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    Trace.action(qe, 0L)
}

class BenchStreamListener extends StreamingQueryListener {
  import StreamingQueryListener._
  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit = Trace.streamProgress(e.progress)
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
}
