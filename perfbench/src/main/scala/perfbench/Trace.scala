package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Process-wide counters read before and after a span: local filesystem
  * operations ([[CountingLocalFileSystem]]) and bytes (Hadoop FileSystem
  * statistics), JVM GC time and JIT time. */
final case class Counters(readOps: Long, writeOps: Long, bytesRead: Long,
    bytesWritten: Long, gcMs: Long, jitMs: Long) {
  def -(o: Counters): Counters = Counters(readOps - o.readOps, writeOps - o.writeOps,
    bytesRead - o.bytesRead, bytesWritten - o.bytesWritten, gcMs - o.gcMs, jitMs - o.jitMs)
}

object Counters {
  private val jit = java.lang.management.ManagementFactory.getCompilationMXBean

  def now(): Counters = {
    @annotation.nowarn("cat=deprecation")
    val fs = org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
      .filter(_.getScheme == "file")
    val gc = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum
    Counters(CountingLocalFileSystem.reads.get, CountingLocalFileSystem.writes.get,
      fs.map(_.getBytesRead).sum + CountingLocalFileSystem.vectoredBytes.get,
      fs.map(_.getBytesWritten).sum, gc, jit.getTotalCompilationTime)
  }
}

/** One timed region. Times are epoch milliseconds (the listener's clock). */
final class Span(val id: Int, val name: String, val parent: Int, val op: Int,
    val start: Double, val c0: Counters) {
  var end: Double = Double.NaN
  var c1: Counters = c0
  def dur: Double = end - start
  def delta: Counters = c1 - c0
}

final class StageRec(val numTasks: Int) {
  var submit = 0L
  var complete = 0L
  var tasks = 0
  var failures = 0
  var runMs = 0L
  var maxTaskMs = 0L
  var resultBytes = 0L
  var shuffleWrite = 0L
  var fetchWaitMs = 0L
  var inputBytes = 0L
  var spillBytes = 0L
  def wall: Double = (complete - submit).max(0L).toDouble
}

final class JobRec(val id: Int, val spanProp: Option[Int], val start: Long,
    val site: String, val longSite: String, val stageIds: Seq[Int]) {
  var end = 0L
  var span: Int = -1
}

/** SparkListener recording jobs, stages and task metrics. Events arrive on
  * the listener-bus thread; readers call [[Recorder.drain]] first. */
final class Recorder(sc: SparkContext) extends SparkListener {
  val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  val stages = mutable.HashMap.empty[Int, StageRec]
  /** SQL execution id -> (short, long) call site of the calling thread. Jobs
    * of SQL actions run on Spark's own threads, so their stage call sites
    * name no library frame; the execution's call site does. */
  private val sqlSites = mutable.HashMap.empty[Long, (String, String)]

  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(sc)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val last = if (e.stageInfos.isEmpty) None else Some(e.stageInfos.maxBy(_.stageId))
    def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
    val (site, longSite) = prop("spark.sql.execution.id").flatMap(id => sqlSites.get(id.toLong))
      .getOrElse((last.map(_.name).getOrElse(""), last.map(_.details).getOrElse("")))
    jobs(e.jobId) = new JobRec(e.jobId, prop(Tracer.SpanKey).map(_.toInt), e.time,
      site, longSite, e.stageInfos.map(_.stageId))
    e.stageInfos.foreach(s => stages.getOrElseUpdate(s.stageId,
      new StageRec(s.numTasks)))
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case x: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
      synchronized(sqlSites(x.executionId) = (x.description, x.details))
    case _ =>
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val s = stages.getOrElseUpdate(e.stageInfo.stageId,
      new StageRec(e.stageInfo.numTasks))
    s.submit = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stages.get(e.stageInfo.stageId).foreach { s =>
      s.complete = e.stageInfo.completionTime.getOrElse(System.currentTimeMillis())
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stages.get(e.stageId).foreach { s =>
      s.tasks += 1
      if (e.taskInfo.failed || e.taskInfo.killed) s.failures += 1
      s.maxTaskMs = s.maxTaskMs.max(e.taskInfo.duration)
      val m = e.taskMetrics
      if (m != null) {
        s.runMs += m.executorRunTime
        s.resultBytes += m.resultSize
        s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        s.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        s.inputBytes += m.inputMetrics.bytesRead
        s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }
}

/** Spans around calls into the library. When tracing is on, each span sets
  * the [[Tracer.SpanKey]] local property so every Spark job the call starts
  * is attached to it; jobs submitted from threads that did not inherit the
  * property are attached to the innermost span open at their start. */
final class Tracer(sc: SparkContext, val recorder: Option[Recorder]) {
  private val wall0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def clock(): Double = wall0 + (System.nanoTime() - nano0) / 1e6

  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private var currentOp = -1

  def enabled: Boolean = recorder.isDefined

  def span[A](name: String)(f: => A): A =
    if (!enabled) f
    else {
      val parent = stack.headOption.map(_.id).getOrElse(-1)
      val s = new Span(spans.length, name, parent, currentOp, clock(), Counters.now())
      spans += s
      stack = s :: stack
      sc.setLocalProperty(Tracer.SpanKey, s.id.toString)
      try f
      finally {
        s.end = clock()
        s.c1 = Counters.now()
        stack = stack.tail
        sc.setLocalProperty(Tracer.SpanKey, stack.headOption.map(_.id.toString).orNull)
      }
    }

  /** Runs one op under a root span named `op`; returns the root span. */
  def op(id: Int)(f: => Unit): Option[Span] = {
    currentOp = id
    if (!enabled) { f; None }
    else {
      var root: Span = null
      span("op") { root = spans.last; f }
      Some(root)
    }
  }

  def children(s: Span): Seq[Span] = spans.toSeq.filter(_.parent == s.id)
  def subtree(s: Span): Seq[Span] = s +: children(s).flatMap(subtree)

  /** Attaches every recorded job to a span of this op; returns the op's jobs. */
  def jobsOf(root: Span): Seq[JobRec] = recorder.toSeq.flatMap { r =>
    r.drain()
    val tree = subtree(root)
    val ids = tree.map(_.id).toSet
    r.synchronized {
      r.jobs.values.toSeq.filter { j =>
        if (j.span < 0) {
          j.span = j.spanProp.filter(ids.contains).getOrElse {
            tree.filter(s => s.start <= j.start && j.start <= s.end)
              .sortBy(-_.start).headOption.map(_.id).getOrElse(-1)
          }
        }
        ids.contains(j.span)
      }
    }
  }

  def stagesOf(jobs: Seq[JobRec]): Seq[StageRec] = recorder.toSeq.flatMap { r =>
    r.synchronized(jobs.flatMap(_.stageIds).distinct.flatMap(r.stages.get).filter(_.tasks > 0))
  }

  def toJson(jobs: Seq[JobRec]): String = {
    import org.json4s.JsonDSL._
    import org.json4s.jackson.JsonMethods._
    val spanRows = spans.toSeq.map { s =>
      ("name" -> s.name) ~ ("id" -> s.id) ~ ("parent" -> s.parent) ~ ("op" -> s.op) ~
        ("start_ms" -> s.start) ~ ("end_ms" -> s.end) ~
        ("self_ms" -> Layers.selfMs(s, children(s), jobs.filter(_.span == s.id)))
    }
    val jobRows = jobs.map { j =>
      ("name" -> s"job:${j.site}") ~ ("job" -> j.id) ~ ("parent" -> j.span) ~
        ("start_ms" -> j.start) ~ ("end_ms" -> j.end)
    }
    compact(render(("spans" -> spanRows) ~ ("jobs" -> jobRows)))
  }
}

object Tracer {
  val SpanKey = "perfbench.span"
}

/** Interval arithmetic over spans and jobs. */
object Layers {
  def union(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    iv.filter(x => x._2 > x._1).sortBy(_._1).foreach { case (s, e) =>
      if (curE.isNaN || s > curE) {
        if (!curE.isNaN) total += curE - curS
        curS = s; curE = e
      } else curE = curE.max(e)
    }
    if (!curE.isNaN) total += curE - curS
    total
  }

  def jobIv(j: JobRec): (Double, Double) = (j.start.toDouble, j.end.toDouble)

  /** Wall time of `s` not covered by its child spans or its own jobs, ms. */
  def selfMs(s: Span, kids: Seq[Span], ownJobs: Seq[JobRec]): Double =
    s.dur - union(kids.map(k => (k.start, k.end)) ++
      ownJobs.map(jobIv).map { case (a, b) => (a.max(s.start), b.min(s.end)) })

  /** Driver gap of a set of spans: their wall time minus job coverage, s. */
  def gapS(spans: Seq[Span], jobs: Seq[JobRec]): Double =
    spans.map { s =>
      s.dur - union(jobs.map(jobIv).map { case (a, b) => (a.max(s.start), b.min(s.end)) })
    }.sum / 1000.0

  def wallS(jobs: Seq[JobRec]): Double = union(jobs.map(jobIv)) / 1000.0
}
