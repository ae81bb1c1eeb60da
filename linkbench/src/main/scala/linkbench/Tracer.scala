package linkbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** A finished span: one call into a layer, timed on the driver (epoch ms). */
final case class Span(id: Int, name: String, parent: Int, runId: String,
    startMs: Long, endMs: Long) {
  def wallMs: Long = endMs - startMs
}

/** Spark work attributed to one span. */
final class SpanWork {
  var jobs = 0
  var tasks = 0L
  var taskMs = 0L
  var gcMs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var singleTaskStages = 0
  val jobIntervals = mutable.ArrayBuffer[(Long, Long)]()
}

object Tracer {
  /** Spark local property carrying the active span id; threads the engine starts
    * inherit it, so the search loop's pool threads report to the enclosing span.
    */
  val SpanKey = "linkbench.span"

  /** Per-layer metric suffixes, in report order. */
  val LayerMetrics: Seq[String] = Seq("self_s", "jobs", "tasks", "task_s", "driver_s",
    "plan_s", "shuffle_mb", "spill_mb", "gc_s", "single_task_stages")

  /** Length of the union of `intervals`, clipped to [from, to]. */
  def coveredMs(from: Long, to: Long, intervals: Iterable[(Long, Long)]): Long = {
    val clipped = intervals.iterator
      .map { case (a, b) => (math.max(a, from), math.min(b, to)) }
      .filter { case (a, b) => b > a }.toSeq.sortBy(_._1)
    var total = 0L
    var curStart = Long.MinValue
    var curEnd = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curEnd) {
        if (curEnd > curStart) total += curEnd - curStart
        curStart = a; curEnd = b
      } else curEnd = math.max(curEnd, b)
    }
    if (curEnd > curStart) total += curEnd - curStart
    total
  }

  /** Span duration minus the part of it its child spans cover. */
  def selfMs(span: Span, children: Iterable[Span]): Long =
    span.wallMs - coveredMs(span.startMs, span.endMs, children.map(c => (c.startMs, c.endMs)))

  /** Span wall time during which none of the given jobs ran. */
  def driverMs(span: Span, jobIntervals: Iterable[(Long, Long)]): Long =
    span.wallMs - coveredMs(span.startMs, span.endMs, jobIntervals)
}

/** Records spans in memory and attributes Spark jobs, tasks, bytes and query
  * planning time to the span active when they ran. Spans are opened on the
  * driver thread only; listener callbacks arrive on Spark's listener bus and are
  * synchronized on this object.
  */
final class Tracer(spark: SparkSession, runId: String)
    extends SparkListener with QueryExecutionListener {
  import Tracer._

  private val sc = spark.sparkContext
  private val finished = mutable.ArrayBuffer[Span]()
  private var open: List[Int] = Nil
  private var nextId = 1
  private val counters = mutable.LinkedHashMap[String, Double]()

  private val work = mutable.HashMap[Int, SpanWork]()
  private val jobSpan = mutable.HashMap[Int, (Int, Long)]()
  private val stageSpan = mutable.HashMap[Int, Int]()
  private val planPhases = mutable.ArrayBuffer[(Long, Long)]()
  private var installed = false

  def install(): Unit = if (!installed) {
    sc.addSparkListener(this)
    spark.listenerManager.register(this)
    installed = true
  }

  /** Waits for the listener bus to deliver pending events, then detaches. */
  def uninstall(): Unit = if (installed) {
    org.apache.spark.linkbenchbus.Bus.drain(sc)
    sc.removeSparkListener(this)
    spark.listenerManager.unregister(this)
    installed = false
  }

  def span[A](name: String)(body: => A): A = {
    val id = nextId
    nextId += 1
    val parent = open.headOption.getOrElse(0)
    val previous = sc.getLocalProperty(SpanKey)
    open = id :: open
    sc.setLocalProperty(SpanKey, id.toString)
    val start = System.currentTimeMillis()
    try body
    finally {
      val end = System.currentTimeMillis()
      synchronized { finished += Span(id, name, parent, runId, start, end) }
      open = open.tail
      sc.setLocalProperty(SpanKey, previous)
    }
  }

  /** Adds `v` to a named count recorded at a layer boundary. */
  def count(name: String, v: Double): Unit = synchronized {
    counters(name) = counters.getOrElse(name, 0.0) + v
  }

  def counts: Map[String, Double] = synchronized(counters.toMap)
  def spans: Seq[Span] = synchronized(finished.toSeq.sortBy(_.id))

  private def spanOf(props: java.util.Properties): Int =
    Option(props).flatMap(p => Option(p.getProperty(SpanKey))).map(_.toInt).getOrElse(0)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val s = spanOf(e.properties)
    jobSpan(e.jobId) = (s, e.time)
    e.stageIds.foreach(st => stageSpan.getOrElseUpdate(st, s))
    work.getOrElseUpdate(s, new SpanWork).jobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobSpan.remove(e.jobId).foreach { case (s, start) =>
      work.getOrElseUpdate(s, new SpanWork).jobIntervals += ((start, e.time))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    if (e.stageInfo.numTasks == 1) {
      val s = stageSpan.getOrElse(e.stageInfo.stageId, 0)
      work.getOrElseUpdate(s, new SpanWork).singleTaskStages += 1
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val w = work.getOrElseUpdate(stageSpan.getOrElse(e.stageId, 0), new SpanWork)
    w.tasks += 1
    Option(e.taskMetrics).foreach { m =>
      w.taskMs += m.executorRunTime
      w.gcMs += m.jvmGCTime
      w.shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
      w.spillBytes += m.diskBytesSpilled
    }
  }

  private def recordPlan(qe: QueryExecution): Unit = synchronized {
    qe.tracker.phases.values.foreach(p => planPhases += ((p.startTimeMs, p.durationMs)))
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    recordPlan(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    recordPlan(qe)

  /** Per-span metrics (after [[uninstall]] has drained the bus). Jobs, tasks and
    * bytes belong to the span whose id the job carried; planning time to the
    * innermost span open when the planning phase started. `driver_s` is the span's
    * wall time with none of its own or its descendants' jobs running.
    */
  def spanMetrics: Map[Int, Map[String, Double]] = synchronized {
    val all = finished.toSeq
    val children = all.groupBy(_.parent)
    def descendants(id: Int): Seq[Int] =
      children.getOrElse(id, Nil).flatMap(c => c.id +: descendants(c.id))
    val plan = mutable.HashMap[Int, Long]()
    planPhases.foreach { case (start, dur) =>
      val inner = all.filter(s => s.startMs <= start && start <= s.endMs)
      if (inner.nonEmpty) {
        val s = inner.maxBy(_.id)
        plan(s.id) = plan.getOrElse(s.id, 0L) + dur
      }
    }
    all.map { s =>
      val w = work.getOrElse(s.id, new SpanWork)
      val jobs = (s.id +: descendants(s.id)).flatMap(id =>
        work.get(id).map(_.jobIntervals.toSeq).getOrElse(Nil))
      s.id -> Map(
        "self_s" -> selfMs(s, children.getOrElse(s.id, Nil)) / 1000.0,
        "jobs" -> w.jobs.toDouble,
        "tasks" -> w.tasks.toDouble,
        "task_s" -> w.taskMs / 1000.0,
        "driver_s" -> driverMs(s, jobs) / 1000.0,
        "plan_s" -> plan.getOrElse(s.id, 0L) / 1000.0,
        "shuffle_mb" -> w.shuffleBytes / 1048576.0,
        "spill_mb" -> w.spillBytes / 1048576.0,
        "gc_s" -> w.gcMs / 1000.0,
        "single_task_stages" -> w.singleTaskStages.toDouble)
    }.toMap
  }

  /** Sums of [[spanMetrics]] over every span named after each layer. */
  def layerMetrics(layers: Seq[String]): Seq[(String, Double)] = {
    val per = spanMetrics
    val byName = spans.groupBy(_.name)
    layers.flatMap { l =>
      val ms = byName.getOrElse(l, Nil).map(s => per(s.id))
      LayerMetrics.map(m => s"$l.$m" -> ms.map(_(m)).sum)
    }
  }
}
