package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into the program. Times are epoch milliseconds, as
  * Spark stamps jobs and planning phases; `module` is the program
  * module the call enters (`queries`, `lake`, `ingest`, ...). */
final case class Span(id: Long, parent: Long, name: String, module: String,
    startMs: Double, endMs: Double) {
  def wallS: Double = (endMs - startMs) / 1e3
}

/** One Spark job as the listener saw it: the span whose job group
  * started it, the program source file of its first `graft.` call-site
  * frame, and its stages' task totals. */
final class JobRec(val id: Int, val group: String, val startMs: Long) {
  var endMs: Long = -1L
  var files: Seq[String] = Nil
  var stageIds: Seq[Int] = Nil
}

final class StageRec {
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  var fetchWaitMs = 0L
}

/** One planned action (`QueryExecutionListener`): its planning phases
  * (analysis, optimization, planning) and the files and bytes its scans
  * read. */
final case class PlanRec(startMs: Long, endMs: Long, planMs: Long,
    phases: Seq[(Long, Long)], scanFiles: Long, scanBytes: Long)

/** The benchmark's tracer. Spans are opened around calls into the
  * program from the client thread; when tracing is on, each span is also
  * the Spark job group of the jobs it starts, so jobs attribute to
  * spans, and a `SparkListener` plus a `QueryExecutionListener` record
  * jobs, stage task metrics and planning phases. With tracing off a span
  * is only its wall-clock interval. */
final class Trace(spark: SparkSession) {
  private val ids = new AtomicLong(0)
  private val stack = mutable.ArrayBuffer.empty[Long]
  val spans = mutable.ArrayBuffer.empty[Span]
  @volatile var enabled = false

  val jobs = new ConcurrentHashMap[Int, JobRec]()
  val stages = new ConcurrentHashMap[Int, StageRec]()
  val plans = new java.util.concurrent.ConcurrentLinkedQueue[PlanRec]()

  def span[T](name: String, module: String)(body: => T): T = {
    val id = ids.incrementAndGet()
    val parent = stack.lastOption.getOrElse(0L)
    val sc = spark.sparkContext
    val prevGroup = sc.getLocalProperty("spark.jobGroup.id")
    val prevDesc = sc.getLocalProperty("spark.job.description")
    if (enabled) sc.setJobGroup(s"span-$id", name, interruptOnCancel = false)
    stack += id
    val t0 = System.currentTimeMillis.toDouble
    val n0 = System.nanoTime
    try body
    finally {
      val end = t0 + (System.nanoTime - n0) / 1e6
      stack.remove(stack.size - 1)
      spans += Span(id, parent, name, module, t0, end)
      if (enabled) {
        if (prevGroup == null) sc.clearJobGroup()
        else sc.setJobGroup(prevGroup, prevDesc, interruptOnCancel = false)
      }
    }
  }

  /** Whether `group` is span `id` or one of its descendants. */
  def groupUnder(group: String, id: Long): Boolean = {
    if (group == null || !group.startsWith("span-")) false
    else {
      var cur = group.stripPrefix("span-").toLong
      val parentOf = spanParents
      while (cur != 0L && cur != id) cur = parentOf.getOrElse(cur, 0L)
      cur == id
    }
  }

  private var parentsCache: (Int, Map[Long, Long]) = (-1, Map.empty)
  private def spanParents: Map[Long, Long] = {
    if (parentsCache._1 != spans.size)
      parentsCache = (spans.size, spans.map(s => s.id -> s.parent).toMap)
    parentsCache._2
  }

  /** Jobs started under span `s` (its group or a descendant's, or, for
    * jobs with no span group such as a stream's own, inside its
    * interval). */
  def jobsOf(s: Span): Seq[JobRec] = jobs.values.asScala.toSeq.filter { j =>
    if (j.group != null && j.group.startsWith("span-")) groupUnder(j.group, s.id)
    else j.startMs >= s.startMs && j.startMs <= s.endMs
  }

  def plansIn(s: Span): Seq[PlanRec] = plans.asScala.toSeq.filter(p =>
    p.startMs >= s.startMs - 1 && p.endMs <= s.endMs + 1)

  /** The program files on the stack that prepared job `j` (innermost
    * first): the latest query preparation at or before its start, else
    * its stage's call site. */
  def filesOf(j: JobRec): Seq[String] = {
    val t = prepTimes
    var lo = 0; var hi = t.length - 1; var at = -1
    while (lo <= hi) {
      val mid = (lo + hi) >>> 1
      if (t(mid)._1 <= j.startMs) { at = mid; lo = mid + 1 } else hi = mid - 1
    }
    if (at >= 0 && j.startMs - t(at)._1 < 60000L) t(at)._2 else j.files
  }

  private var prepCache: (Int, Array[(Long, Seq[String])]) = (-1, Array.empty)
  private def prepTimes: Array[(Long, Seq[String])] = {
    val n = CallSiteRule.events.size
    if (prepCache._1 != n)
      prepCache = (n, CallSiteRule.events.asScala.toArray.sortBy(_._1))
    prepCache._2
  }

  def stageTotals(js: Seq[JobRec]): StageRec = {
    val t = new StageRec
    js.flatMap(_.stageIds).distinct.flatMap(i => Option(stages.get(i)))
      .foreach { s =>
        t.tasks += s.tasks; t.runMs += s.runMs; t.cpuNs += s.cpuNs
        t.gcMs += s.gcMs; t.shuffleWrite += s.shuffleWrite
        t.shuffleRead += s.shuffleRead; t.spill += s.spill
        t.fetchWaitMs += s.fetchWaitMs
      }
    t
  }

  /** Wall seconds of the union of `intervals`, clipped to `s`. */
  def unionS(s: Span, intervals: Seq[(Double, Double)]): Double = {
    val clipped = intervals.map { case (a, b) =>
      (math.max(a, s.startMs), math.min(b, s.endMs)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0.0; var curA = -1.0; var curB = -1.0
    clipped.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) total += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total / 1e3
  }

  /** Share of `s`'s wall spent outside every planning phase and job it
    * ran. */
  def unattributedShare(s: Span): Double = {
    val js = jobsOf(s).filter(_.endMs >= 0)
      .map(j => (j.startMs.toDouble, j.endMs.toDouble))
    val ps = plansIn(s).flatMap(_.phases).map { case (a, b) =>
      (a.toDouble, b.toDouble) }
    val wall = s.wallS
    if (wall <= 0) 0.0 else math.max(0.0, 1.0 - unionS(s, js ++ ps) / wall)
  }

  def jobWallS(js: Seq[JobRec]): Double =
    js.filter(_.endMs >= 0).map(j => (j.endMs - j.startMs) / 1e3).sum

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val group = Option(e.properties)
        .map(_.getProperty("spark.jobGroup.id")).orNull
      val r = new JobRec(e.jobId, group, e.time)
      r.stageIds = e.stageIds
      r.files = e.stageInfos.sortBy(-_.stageId).headOption
        .map(si => Trace.sourceFiles(si.details)).getOrElse(Nil)
      jobs.put(e.jobId, r)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) {
        val s = stages.computeIfAbsent(e.stageId, _ => new StageRec)
        s.synchronized {
          s.tasks += 1
          s.runMs += m.executorRunTime
          s.cpuNs += m.executorCpuTime
          s.gcMs += m.jvmGCTime
          s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          s.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        }
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution,
        durationNs: Long): Unit = record(qe, durationNs)
    override def onFailure(funcName: String, qe: QueryExecution,
        exception: Exception): Unit = record(qe, 0L)
  }

  private def record(qe: QueryExecution, durationNs: Long): Unit = {
    val phases = qe.tracker.phases.values.toSeq
    if (phases.nonEmpty) {
      val ps = phases.map(p => (p.startTimeMs, p.endTimeMs))
      val start = ps.map(_._1).min
      val end = math.max(ps.map(_._2).max, start + durationNs / 1000000L)
      val (files, bytes) = Trace.scans(qe)
      plans.add(PlanRec(start, end, phases.map(_.durationMs).sum, ps,
        files, bytes))
    }
  }

  private var installed = false
  def install(): Unit = if (!installed) {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
    installed = true
    enabled = true
    CallSiteRule.enabled = true
  }

  /** Waits until the listener bus has delivered every queued event. */
  def drain(): Unit =
    org.apache.spark.perfbench.Bus.waitUntilEmpty(spark.sparkContext)

  /** Forgets every span, job and plan recorded so far. */
  def clearRecords(): Unit = {
    spans.clear(); jobs.clear(); stages.clear(); plans.clear()
    CallSiteRule.events.clear()
  }
}

object Trace extends AdaptiveSparkPlanHelper {
  private val frame = """\s*(?:at\s+)?graft\.([A-Za-z0-9_]+)[.$][^(]*\(([A-Za-z0-9_]+\.scala):\d+\)""".r

  /** `module/File.scala` of every `graft.` frame of a stack trace (a
    * stage's call site, or a thread's stack), innermost first, once
    * each. */
  def sourceFiles(stack: String): Seq[String] =
    if (stack == null) Nil
    else stack.split('\n').toSeq.map(_.trim).collect {
      case frame(module, file) => s"$module/$file"
    }.distinct

  /** Files and bytes read by the file scans of an executed plan,
    * adaptive stages and subqueries included. */
  def scans(qe: QueryExecution): (Long, Long) = {
    val plan = try qe.executedPlan catch { case _: Throwable => null }
    if (plan == null) (0L, 0L)
    else {
      val ms = collectWithSubqueries(plan) {
        case s: FileSourceScanExec => s.metrics
      }
      def sum(k: String) = ms.flatMap(_.get(k)).map(_.value).sum
      (sum("numFiles"), sum("filesSize"))
    }
  }
}
