package perfbench

import scala.collection.mutable

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One call the benchmark made into a layer's public function.
  * Times are `System.nanoTime` values; `parent` is -1 for a root. */
final case class Span(id: Int, parent: Int, layer: String, name: String,
    start: Long, end: Long) {
  def duration: Long = end - start
}

object SelfTime {

  /** Length of the union of `intervals`, clipped to `[lo, hi)`. */
  def covered(lo: Long, hi: Long, intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var reach = lo
    for ((s0, e0) <- intervals.sortBy(_._1)) {
      val s = math.max(s0, reach)
      val e = math.min(e0, hi)
      if (e > s) { total += e - s; reach = e }
    }
    total
  }

  /** Self time of every span: its duration minus the part of its
    * interval that its direct children cover. */
  def of(spans: Seq[Span]): Map[Int, Long] = {
    val children = spans.groupBy(_.parent)
    spans.map { s =>
      val kids = children.getOrElse(s.id, Nil).map(c => (c.start, c.end))
      s.id -> (s.duration - covered(s.start, s.end, kids))
    }.toMap
  }
}

/** Task metrics summed over the tasks of one Spark job. "Scan" tasks
  * read input files; "write" tasks wrote output files; a task can be
  * both. */
final class TaskSums {
  var tasks, runMs, gcMs, inBytes, inRecords, outBytes, outRecords = 0L
  var shuffleBytes, spillBytes = 0L
  var scanRunMs, writeTasks, writeRunMs = 0L

  def add(o: TaskSums): TaskSums = {
    tasks += o.tasks; runMs += o.runMs; gcMs += o.gcMs
    inBytes += o.inBytes; inRecords += o.inRecords
    outBytes += o.outBytes; outRecords += o.outRecords
    shuffleBytes += o.shuffleBytes; spillBytes += o.spillBytes
    scanRunMs += o.scanRunMs
    writeTasks += o.writeTasks; writeRunMs += o.writeRunMs
    this
  }
}

/** A Spark job, tied to the innermost span open when it was submitted
  * (-1 when none was). */
final class JobRec(val id: Int, val span: Int, val start: Long) {
  var end: Long = start
  val sums = new TaskSums
  def writes: Boolean = sums.outBytes > 0
}

/** What one traced run recorded. `plans` holds the start time and the
  * analysis + optimization + planning milliseconds of each query. */
final case class Trace(spans: Seq[Span], jobs: Seq[JobRec],
    plans: Seq[(Long, Long)]) {

  private lazy val byId = spans.map(s => s.id -> s).toMap

  def spansOf(layer: String, name: String = ""): Seq[Span] =
    spans.filter(s => s.layer == layer && (name.isEmpty || s.name == name))

  /** Whether span `id` is `root` or lies below it. */
  def within(id: Int, root: Span): Boolean =
    id == root.id || byId.get(id).exists(s => s.parent >= 0 &&
      within(s.parent, root))

  /** Jobs submitted while one of `roots` (or a span below it) was the
    * innermost open span. */
  def jobsUnder(roots: Seq[Span]): Seq[JobRec] =
    jobs.filter(j => roots.exists(r => within(j.span, r)))

  def sums(js: Seq[JobRec]): TaskSums =
    js.foldLeft(new TaskSums)((acc, j) => acc.add(j.sums))

  /** Time inside `s` during which no Spark job ran. */
  def driverGap(s: Span): Long =
    s.duration - SelfTime.covered(s.start, s.end,
      jobsUnder(Seq(s)).map(j => (j.start, j.end)))

  /** Planning milliseconds of the queries that started inside `s`. */
  def planMs(s: Span): Long =
    plans.collect { case (t, ms) if t >= s.start && t <= s.end => ms }.sum

  /** Spans with their self times, as JSON lines. */
  def spansJson: String = {
    val self = SelfTime.of(spans)
    spans.map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"layer":"${s.layer}",""" +
        s""""name":"${s.name}","start_ns":${s.start},"dur_ns":""" +
        s"""${s.duration},"self_ns":${self(s.id)},"jobs":""" +
        s"""${jobs.count(_.span == s.id)}}"""
    }.mkString("\n")
  }
}

/** Opens spans around the benchmark's calls into the engine and, while
  * installed, records Spark jobs, task metrics and planning phases.
  * Jobs are tied to spans through a Spark local property set before
  * each call. Everything stays in memory until [[finish]]. */
final class Tracer(spark: SparkSession) {
  import Tracer._

  private val sc = spark.sparkContext
  private val offsetNs = System.nanoTime() - System.currentTimeMillis() * 1000000L
  private def toNs(ms: Long): Long = ms * 1000000L + offsetNs

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var open: List[Int] = Nil
  private var nextId = 0
  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageJob = mutable.HashMap.empty[Int, JobRec]
  private val plans = mutable.ArrayBuffer.empty[(Long, Long)]
  private val lock = new Object

  /** Spans are recorded only while this is set. */
  var enabled = false

  def span[T](layer: String, name: String)(f: => T): T =
    if (!enabled) f
    else {
      val id = nextId
      nextId += 1
      val parent = open.headOption.getOrElse(-1)
      open = id :: open
      sc.setLocalProperty(SpanKey, id.toString)
      val t0 = System.nanoTime()
      try f
      finally {
        spans += Span(id, parent, layer, name, t0, System.nanoTime())
        open = open.tail
        sc.setLocalProperty(SpanKey,
          if (parent >= 0) parent.toString else null)
      }
    }

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
      val span = Option(e.properties).flatMap(p =>
        Option(p.getProperty(SpanKey))).map(_.toInt).getOrElse(-1)
      val rec = new JobRec(e.jobId, span, toNs(e.time))
      jobs(e.jobId) = rec
      e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = rec)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
      jobs.get(e.jobId).foreach(_.end = toNs(e.time))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
      for (job <- stageJob.get(e.stageId); m <- Option(e.taskMetrics)) {
        val s = job.sums
        val in = m.inputMetrics.bytesRead
        val out = m.outputMetrics.bytesWritten
        s.tasks += 1; s.runMs += m.executorRunTime; s.gcMs += m.jvmGCTime
        s.inBytes += in; s.inRecords += m.inputMetrics.recordsRead
        s.outBytes += out; s.outRecords += m.outputMetrics.recordsWritten
        s.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        if (in > 0) s.scanRunMs += m.executorRunTime
        if (out > 0) { s.writeTasks += 1; s.writeRunMs += m.executorRunTime }
      }
    }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution,
        durationNs: Long): Unit = lock.synchronized {
      val phases = qe.tracker.phases
      if (phases.nonEmpty) {
        val ms = PlanPhases.flatMap(phases.get).map(_.durationMs).sum
        plans += ((toNs(phases.values.map(_.startTimeMs).min), ms))
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution,
        exception: Exception): Unit = ()
  }

  def install(): Unit = {
    sc.addSparkListener(listener)
    spark.listenerManager.register(queryListener)
  }

  /** Wait for pending listener events, uninstall, and snapshot. */
  def finish(): Trace = {
    PerfbenchBus.drain(sc)
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(queryListener)
    lock.synchronized(Trace(spans.toList, jobs.values.toList, plans.toList))
  }
}

object Tracer {
  val SpanKey = "perfbench.span"
  private val PlanPhases = Seq("analysis", "optimization", "planning")
}
