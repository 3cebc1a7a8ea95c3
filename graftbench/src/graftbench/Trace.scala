package graftbench

import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into a layer: `layer` is the module name the
  * per-layer table uses, `name` the call (an op name or a verb). */
final case class Span(id: Long, parent: Long, layer: String, name: String,
                      thread: Long, startMs: Long, var endMs: Long = -1L)

/** Counters billed to one span by the listeners. */
final class Tally {
  var jobs, stages, tasks, emptyTasks = 0L
  var runMs, gcMs, readBytes, shuffleBytes, scanMs, planMs = 0L
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  /** Jobs and job ms by the module their call site names. */
  val moduleJobs = mutable.HashMap.empty[String, Long].withDefaultValue(0L)
  val moduleJobMs = mutable.HashMap.empty[String, Long].withDefaultValue(0L)
}

/** Spans set from the benchmark's own code around each call into the
  * program, plus the listeners that bill Spark's jobs, stages, tasks,
  * SQL executions and streaming progress to them. All three listener
  * kinds are public Spark APIs; the program itself is not
  * instrumented.
  *
  * Attribution: a job carries the `graftbench.span` local property of
  * the thread that submitted it (SQL broadcast and AQE stage threads
  * inherit it), and is billed to the module of the innermost graft
  * frame of the call stack that started it.
  * A job without the property (a pool thread such as a `Par.both`
  * lane) and every event that carries no properties (SQL execution
  * ends, task ends of unknown jobs) bill to the innermost span open at
  * the event's timestamp; each span drains the listener bus before it
  * closes, so its own events still find it open. Spans stay in memory
  * until [[write]].
  *
  * With tracing off ([[enabled]] = false) [[span]] only times the
  * call: no listeners, no properties, no span records.
  */
final class Trace(spark: SparkSession, val enabled: Boolean) {
  import Trace._

  private val ids = new AtomicLong(0)
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val tallies = mutable.HashMap.empty[Long, Tally]
  private val jobSpan = mutable.HashMap.empty[Int, Long]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val jobStart = mutable.HashMap.empty[Int, Long]
  private val jobModule = mutable.HashMap.empty[Int, String]
  /** SQL execution id -> call stack of the action that started it. */
  private val execStack = mutable.HashMap.empty[Long, String]
  /** (job id, span id, module, result-stage call site), in start order. */
  private val jobSites = mutable.ArrayBuffer.empty[(Int, Long, String, String)]
  /** Streaming progress durations (ms) of the triggers that read data,
    * and trigger counts. */
  val streamMs = mutable.HashMap.empty[String, Long].withDefaultValue(0L)
  var triggers, idleTriggers = 0L
  private val current = new ThreadLocal[Span]

  private def tally(id: Long): Tally = tallies.getOrElseUpdate(id, new Tally)

  /** Innermost span open at `t` (the latest-started one containing it). */
  private def spanAt(t: Long): Long = {
    var best: Span = null
    spans.foreach { s =>
      if (s.startMs <= t && (s.endMs < 0 || t <= s.endMs) &&
          (best == null || s.startMs >= best.startMs)) best = s
    }
    if (best == null) -1L else best.id
  }

  private object Jobs extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
      val props = Option(e.properties)
      val prop = props.flatMap(p => Option(p.getProperty(PROP)))
      val sid = prop.map(_.toLong).getOrElse(spanAt(e.time))
      jobSpan(e.jobId) = sid
      jobStart(e.jobId) = e.time
      e.stageIds.foreach(s => stageJob(s) = e.jobId)
      val t = tally(sid)
      t.jobs += 1
      t.stages += e.stageInfos.size
      // The call stack a job came from: its SQL execution's (captured on
      // the thread that ran the action; AQE submits the stages from pool
      // threads), else its result stage's. A job from a thread without
      // the span property (a Par.both lane) bills to its op's span only.
      val result = e.stageInfos.sortBy(-_.stageId).headOption
      val exec = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .flatMap(id => execStack.get(id.toLong))
      val stacks = exec.toSeq ++ result.map(_.details)
      val module = if (prop.isEmpty) None else stacks.iterator.flatMap(moduleOf).nextOption()
      module.foreach { m => jobModule(e.jobId) = m; t.moduleJobs(m) += 1 }
      jobSites += ((e.jobId, sid, module.getOrElse(""), result.map(_.name).getOrElse("")))
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case x: SparkListenerSQLExecutionStart => lock.synchronized { execStack(x.executionId) = x.details }
      case _ => ()
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
      val t0 = jobStart.getOrElse(e.jobId, e.time)
      val t = tally(jobSpan.getOrElse(e.jobId, -1L))
      t.jobIntervals += ((t0, e.time))
      jobModule.get(e.jobId).foreach(m => t.moduleJobMs(m) += e.time - t0)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
      val m = e.taskMetrics
      if (m != null) {
        val sid = stageJob.get(e.stageId).flatMap(jobSpan.get)
          .getOrElse(spanAt(e.taskInfo.finishTime))
        val t = tally(sid)
        t.tasks += 1
        if (m.inputMetrics.recordsRead + m.shuffleReadMetrics.recordsRead == 0)
          t.emptyTasks += 1
        t.runMs += m.executorRunTime
        t.gcMs += m.jvmGCTime
        t.readBytes += m.inputMetrics.bytesRead
        t.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      }
    }
  }

  private object Sql extends QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, durationNs: Long): Unit = {
      val plan = qe.tracker.phases.values.map(_.durationMs).sum
      val scan = scanMsOf(qe)
      lock.synchronized {
        val t = tally(spanAt(System.currentTimeMillis() - durationNs / 1000000L))
        t.planMs += plan
        t.scanMs += scan
      }
    }
    override def onFailure(f: String, qe: QueryExecution, ex: Exception): Unit = ()
  }

  private object Streams extends StreamingQueryListener {
    import StreamingQueryListener._
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = lock.synchronized {
      val p = e.progress
      triggers += 1
      if (p.numInputRows == 0) idleTriggers += 1
      else p.durationMs.forEach((k, v) => streamMs(k) += v.longValue)
    }
  }

  private val lock = new Object

  if (enabled) {
    spark.sparkContext.addSparkListener(Jobs)
    spark.listenerManager.register(Sql)
    spark.streams.addListener(Streams)
  }

  /** Time `body` as a span of `layer`/`name`; with tracing on, tag the
    * thread's jobs with the span and record it. Returns (result, ms). */
  def span[A](layer: String, name: String)(body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    if (!enabled) {
      val r = body
      return (r, (System.nanoTime() - t0) / 1e6)
    }
    val sc = spark.sparkContext
    val parent = Option(current.get)
    val s = Span(ids.incrementAndGet(), parent.map(_.id).getOrElse(0L), layer, name,
      Thread.currentThread.getId, System.currentTimeMillis())
    lock.synchronized { spans += s }
    val prevProp = sc.getLocalProperty(PROP)
    sc.setLocalProperty(PROP, s.id.toString)
    current.set(s)
    try {
      val r = body
      (r, (System.nanoTime() - t0) / 1e6)
    } finally {
      flush() // bus events of the call bill while its span is open
      s.endMs = System.currentTimeMillis()
      current.set(parent.orNull)
      sc.setLocalProperty(PROP, prevProp)
    }
  }

  /** Deliver every posted listener event (the bus is asynchronous). */
  def flush(): Unit = if (enabled)
    org.apache.spark.graftbridge.ListenerBridge.flush(spark.sparkContext)

  /** Totals billed to the spans selected by `pick`, their descendants,
    * and the root spans of other threads (the stream's batches) that
    * start inside a selected span. */
  def sum(pick: Span => Boolean): Tally = lock.synchronized {
    val chosen = mutable.HashSet.empty[Long]
    val picked = mutable.ArrayBuffer.empty[Span]
    spans.foreach { s =>
      if (pick(s)) { chosen += s.id; picked += s }
      else if (chosen.contains(s.parent) ||
          (s.parent == 0 && picked.exists(p => p.thread != s.thread &&
            p.startMs <= s.startMs && s.startMs <= p.endMs)))
        chosen += s.id
    }
    val out = new Tally
    chosen.foreach { id =>
      tallies.get(id).foreach { t =>
        out.jobs += t.jobs; out.stages += t.stages; out.tasks += t.tasks
        out.emptyTasks += t.emptyTasks; out.runMs += t.runMs
        out.gcMs += t.gcMs
        out.readBytes += t.readBytes; out.shuffleBytes += t.shuffleBytes
        out.scanMs += t.scanMs; out.planMs += t.planMs
        out.jobIntervals ++= t.jobIntervals
        t.moduleJobs.foreach { case (m, n) => out.moduleJobs(m) += n }
        t.moduleJobMs.foreach { case (m, n) => out.moduleJobMs(m) += n }
      }
    }
    out
  }

  /** The recorded spans (a copy). */
  def all: Seq[Span] = lock.synchronized(spans.toList)

  /** Wall ms of `s` not covered by any job of its subtree. */
  def driverMs(s: Span): Long = {
    val iv = sum(_.id == s.id).jobIntervals
      .map { case (a, b) => (math.max(a, s.startMs), math.min(b, s.endMs)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var end = Long.MinValue
    iv.foreach { case (a, b) =>
      if (a > end) { covered += b - a; end = b }
      else if (b > end) { covered += b - end; end = b }
    }
    (s.endMs - s.startMs) - covered
  }

  /** Write the spans, then the jobs with the span each billed to and
    * its call site, as JSON lines. */
  def write(path: String): Unit = if (enabled) {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try {
      all.foreach { s =>
        w.println(s"""{"id":${s.id},"parent":${s.parent},"layer":"${s.layer}",""" +
          s""""name":"${s.name}","start_ms":${s.startMs},"end_ms":${s.endMs}}""")
      }
      lock.synchronized(jobSites.toList).foreach { case (job, sid, module, site) =>
        w.println(s"""{"job":$job,"span":$sid,"module":"$module","site":${Json.str(site)}}""")
      }
    } finally w.close()
  }

  def stop(): Unit = if (enabled) {
    spark.sparkContext.removeSparkListener(Jobs)
    spark.listenerManager.unregister(Sql)
    spark.streams.removeListener(Streams)
  }
}

object Trace {
  val PROP = "graftbench.span"

  private val GraftFrame = """^\s*(?:at\s+)?graft\.([a-z]\w*)\.""".r.unanchored

  /** The module of the innermost graft frame of a call stack (one
    * frame a line, innermost first, as Spark records it): the package
    * under `graft` ("graft.analytics.Retrieval$.bm25TopK(…)" →
    * `analytics`). None when no frame is graft's. */
  def moduleOf(stack: String): Option[String] =
    stack.linesIterator.collectFirst { case GraftFrame(m) => m }

  /** Scan time (ms) of an executed plan, through the AQE wrappers. */
  def scanMsOf(qe: QueryExecution): Long = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    var ms = 0L
    def add(p: SparkPlan): Unit = p.foreach {
      case a: AdaptiveSparkPlanExec => add(a.executedPlan)
      case q: QueryStageExec => add(q.plan)
      case n => n.metrics.get("scanTime").foreach(m => ms += m.value)
    }
    try add(qe.executedPlan) catch { case scala.util.control.NonFatal(_) => () }
    ms
  }
}
