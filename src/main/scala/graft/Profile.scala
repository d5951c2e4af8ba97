package graft

import java.lang.management.ManagementFactory
import java.util.Properties
import java.util.concurrent.{Semaphore, TimeUnit}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.FileSystem
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerStageSubmitted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.json4s._
import org.json4s.jackson.JsonMethods

/**
 * The layer profile of a grid run: where each entry's wall time went.
 * [[Bench]] runs every entry through [[run]], which tags the Spark jobs
 * the entry submits with a local property — inherited by the threads the
 * entry starts (`Jobs.par` pools, broadcast and stream execution
 * threads) — and reads the JVM-wide counters before and after. A job's
 * PHASE is its `spark.job.description` as [[JobPhase]] set it
 * (`graft:<phase>`, kept without the prefix); a job without one is
 * unphased ([[Unphased]]). Nothing is inferred from call sites.
 *
 * Per run it records:
 *  - `jobs`, `stages`, `tasks` (completed stage attempts and their tasks);
 *  - `stage_s` (summed stage wall) against `task_s` (summed task run time);
 *  - `job_s`, the union of the run's job intervals, and `driver_gap_s`,
 *    the run's wall minus that union; `unphased_s`, the union of its
 *    unphased jobs;
 *  - task input, shuffle read and write, and spill (memory + disk) bytes;
 *  - JVM GC count and seconds and codegen compilations over the run
 *    (JVM-wide: in local mode the executors share the driver's JVM);
 *  - Hadoop FileSystem read (incl. large) and write ops and bytes, from
 *    the global FileSystem statistics (the local filesystem counts bytes
 *    but no ops: its op columns read 0, HDFS and object stores fill them);
 *  - per phase, its jobs' interval union (`s`) and job count;
 *  - for a streaming entry, `batches` and each micro-batch's
 *    queryPlanning, addBatch, walCommit and commitOffsets milliseconds.
 *
 * [[layers]] reports every value as (min, median) over an entry's runs.
 * The listener keeps counters per run, never per task.
 */
final class Profile private (spark: SparkSession) {
  import Profile._

  private val sc = spark.sparkContext

  private final class RunState(val entry: String) {
    var t0Ms = 0L
    var t1Ms = 0L
    var wallS = 0.0
    var counters = Map.empty[String, Double]
    val jobs = mutable.ArrayBuffer.empty[(Long, Long, String)] // start, end, phase
    val stage = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    val batches = mutable.ArrayBuffer.empty[Seq[Double]]
  }

  // Guarded by `this`: written by the listener threads, read by [[layers]].
  private val runs = mutable.ArrayBuffer.empty[RunState]
  private val openJobs = mutable.Map.empty[Int, (RunState, Long, String)]
  private val openStages = mutable.Map.empty[Int, RunState]
  private val streams = mutable.Map.empty[java.util.UUID, RunState]
  private var streamsOpen = 0
  private var drainJob = -1
  private val drained = new Semaphore(0)

  private def runOf(tag: String): Option[RunState] =
    Option(tag).flatMap(_.toIntOption).flatMap(runs.lift)

  private def tagOf(p: Properties): String =
    if (p == null) null else p.getProperty(RunKey)

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Profile.this.synchronized {
      val tag = tagOf(e.properties)
      if (tag == Drain) drainJob = e.jobId
      else runOf(tag).foreach(r => openJobs(e.jobId) = (r, e.time, phaseOf(e.properties)))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Profile.this.synchronized {
      openJobs.remove(e.jobId).foreach { case (r, t0, phase) => r.jobs += ((t0, e.time, phase)) }
      if (e.jobId == drainJob) drained.release()
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      Profile.this.synchronized {
        runOf(tagOf(e.properties)).foreach(openStages(e.stageInfo.stageId) = _)
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Profile.this.synchronized {
        val si = e.stageInfo
        openStages.remove(si.stageId).foreach { r =>
          val tm = si.taskMetrics
          val add = Seq(
            "stages" -> 1.0,
            "tasks" -> si.numTasks.toDouble,
            "stage_s" -> (for (c <- si.completionTime; s <- si.submissionTime)
              yield (c - s) / 1e3).getOrElse(0.0),
            "task_s" -> tm.executorRunTime / 1e3,
            "input_bytes" -> tm.inputMetrics.bytesRead.toDouble,
            "shuffle_read_bytes" -> tm.shuffleReadMetrics.totalBytesRead.toDouble,
            "shuffle_write_bytes" -> tm.shuffleWriteMetrics.bytesWritten.toDouble,
            "spill_bytes" -> (tm.memoryBytesSpilled + tm.diskBytesSpilled).toDouble)
          add.foreach { case (k, v) => r.stage(k) += v }
        }
      }
  }

  // onQueryStarted is delivered on the query's execution thread before
  // `start()` returns; that thread was created by the starting thread
  // and carries its local properties, so the run tag is readable there.
  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      Profile.this.synchronized {
        runOf(sc.getLocalProperty(RunKey)).foreach { r =>
          streams(e.runId) = r
          streamsOpen += 1
        }
      }
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Profile.this.synchronized {
        val p = e.progress
        streams.get(p.runId).foreach(_.batches +=
          BatchDurations.map(k => Option(p.durationMs.get(k)).fold(0.0)(_.doubleValue)))
      }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
      Profile.this.synchronized { if (streams.contains(e.runId)) streamsOpen -= 1 }
  }

  /** Run `body` as one run of `entry`; returns its wall seconds. */
  def run(entry: String)(body: => Unit): Double = {
    val r = new RunState(entry)
    val id = synchronized { runs += r; runs.size - 1 }
    val before = counters()
    val previous = sc.getLocalProperty(RunKey)
    sc.setLocalProperty(RunKey, id.toString)
    val t0Ms = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try body
    finally {
      val wallS = (System.nanoTime() - t0) / 1e9
      val t1Ms = System.currentTimeMillis()
      sc.setLocalProperty(RunKey, previous)
      val after = counters()
      synchronized {
        r.t0Ms = t0Ms
        r.t1Ms = t1Ms
        r.wallS = wallS
        r.counters = after.map { case (k, v) => k -> (v - before(k)) }
      }
    }
    r.wallS
  }

  /** Every event of the runs so far delivered: one marker job, whose end
    * follows every earlier job and stage event on the listener's queue,
    * and the end of every stream a run started. */
  private def drain(): Unit = {
    val previous = sc.getLocalProperty(RunKey)
    sc.setLocalProperty(RunKey, Drain)
    try sc.parallelize(Seq(0), 1).count()
    finally sc.setLocalProperty(RunKey, previous)
    drained.tryAcquire(60, TimeUnit.SECONDS)
    val deadline = System.nanoTime() + 60L * 1000000000L
    while (synchronized(streamsOpen) > 0 && System.nanoTime() < deadline) Thread.sleep(20)
  }

  /** Each profiled entry's [[Layers]], in first-run order. */
  def layers(): Seq[(String, Layers)] = {
    drain()
    synchronized {
      val byEntry = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Sample]]
      runs.foreach(r => byEntry.getOrElseUpdate(r.entry, mutable.ArrayBuffer.empty) += sample(r))
      byEntry.toSeq.map { case (entry, samples) => entry -> summarize(samples.toSeq) }
    }
  }

  private def sample(r: RunState): Sample = {
    val jobs = r.jobs.toSeq.map { case (a, b, p) => (a max r.t0Ms, b min r.t1Ms, p) }
    def unionS(js: Seq[(Long, Long, String)]) = union(js.map(j => (j._1, j._2))) / 1e3
    val jobS = unionS(jobs)
    val columns = Map(
      "wall_s" -> r.wallS,
      "jobs" -> jobs.size.toDouble,
      "job_s" -> jobS,
      "driver_gap_s" -> ((r.t1Ms - r.t0Ms) / 1e3 - jobS).max(0.0),
      "unphased_s" -> unionS(jobs.filter(_._3 == Unphased)),
      "batches" -> r.batches.size.toDouble) ++ r.stage ++ r.counters
    Sample(Columns.map(c => c -> columns.getOrElse(c, 0.0)).toMap,
      jobs.groupBy(_._3).map { case (p, js) => p -> (unionS(js), js.size.toDouble) },
      r.batches.toSeq)
  }

  private def counters(): Map[String, Double] = {
    val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala
    val fs = FileSystem.getGlobalStorageStatistics.iterator.asScala.toSeq
    def stat(key: String) = fs.flatMap(st => Option(st.getLong(key))).map(_.doubleValue).sum
    Map(
      "gc_count" -> gcs.map(_.getCollectionCount).sum.toDouble,
      "gc_s" -> gcs.map(_.getCollectionTime).sum / 1e3,
      // Spark-internal, not stable API: a Spark that hides it reads 0
      "codegen" -> scala.util.Try(org.apache.spark.metrics.source.CodegenMetrics
        .METRIC_COMPILATION_TIME.getCount.toDouble).getOrElse(0.0),
      "fs_read_ops" -> (stat("readOps") + stat("largeReadOps")),
      "fs_write_ops" -> stat("writeOps"),
      "fs_read_bytes" -> stat("bytesRead"),
      "fs_write_bytes" -> stat("bytesWritten"))
  }

  /** Unregister the listeners. */
  def close(): Unit = {
    sc.removeSparkListener(jobListener)
    spark.streams.removeListener(streamListener)
  }
}

object Profile {

  /** The local property naming a job's run (an index into the runs). */
  private val RunKey = "graft.profile.run"
  private val Drain = "drain"

  /** The phase of a job no [[JobPhase]] labelled. */
  val Unphased = "-"

  /** Per-run columns, in output order. */
  val Columns: Seq[String] = Seq("wall_s", "jobs", "stages", "tasks", "job_s",
    "driver_gap_s", "unphased_s", "stage_s", "task_s", "input_bytes",
    "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes", "gc_count", "gc_s",
    "codegen", "fs_read_ops", "fs_write_ops", "fs_read_bytes", "fs_write_bytes", "batches")

  /** The micro-batch durations recorded per batch (ms). */
  val BatchDurations: Seq[String] = Seq("queryPlanning", "addBatch", "walCommit", "commitOffsets")

  /** (min, median) over an entry's runs. */
  type MinMed = (Double, Double)

  /** One run: the [[Columns]], each phase's (seconds, jobs), each batch's
    * [[BatchDurations]]. */
  private final case class Sample(columns: Map[String, Double],
      phases: Map[String, (Double, Double)], batches: Seq[Seq[Double]])

  /** One entry over its runs. `phases` maps a phase to (seconds, jobs);
    * a run without the phase counts 0. `batches` covers the batch
    * indexes every run reached. */
  final case class Layers(columns: Map[String, MinMed],
      phases: Map[String, (MinMed, MinMed)], batches: Seq[Map[String, MinMed]])

  /** A profile listening on `spark` until [[Profile.close]]. */
  def register(spark: SparkSession): Profile = {
    val p = new Profile(spark)
    spark.sparkContext.addSparkListener(p.jobListener)
    spark.streams.addListener(p.streamListener)
    p
  }

  private def phaseOf(p: Properties): String =
    Option(p).flatMap(p => Option(p.getProperty("spark.job.description")))
      .filter(_.startsWith("graft:")).fold(Unphased)(_.stripPrefix("graft:"))

  /** Total length of the union of `[a, b]` intervals. */
  private def union(iv: Seq[(Long, Long)]): Long =
    iv.filter { case (a, b) => b > a }.sortBy(_._1)
      .foldLeft((0L, Long.MinValue)) { case ((sum, end), (a, b)) =>
        if (b <= end) (sum, end) else (sum + b - (a max end), b)
      }._1

  /** The true median: the mean of the two middle values when even. */
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2.0
  }

  private def minMed(xs: Seq[Double]): MinMed = (xs.min, median(xs))

  private def summarize(samples: Seq[Sample]): Layers = {
    val phases = samples.flatMap(_.phases.keys).distinct.map { p =>
      val v = samples.map(_.phases.getOrElse(p, (0.0, 0.0)))
      p -> (minMed(v.map(_._1)), minMed(v.map(_._2)))
    }.toMap
    val nBatches = samples.map(_.batches.size).min
    Layers(Columns.map(c => c -> minMed(samples.map(_.columns(c)))).toMap, phases,
      (0 until nBatches).map(b => BatchDurations.indices.map(d =>
        BatchDurations(d) -> minMed(samples.map(_.batches(b)(d)))).toMap))
  }

  private def num(d: Double): JValue =
    if (d == math.rint(d) && math.abs(d) < 1e15) JInt(BigInt(d.toLong))
    else JDouble(math.rint(d * 1e4) / 1e4)

  private def pair(v: MinMed): JValue = JArray(List(num(v._1), num(v._2)))

  /** The `layers` map of the full bench line: per entry, each column as
    * [min, median], `phases` as {phase: {s, jobs}} and, for a streaming
    * entry, `batch` as one {duration: [min, median]} per micro-batch. */
  def json(layers: Seq[(String, Layers)]): String =
    JsonMethods.compact(JsonMethods.render(JObject(layers.toList.map { case (entry, l) =>
      val phases = l.phases.toList.sortBy(-_._2._1._2).map { case (p, (s, jobs)) =>
        p -> JObject("s" -> pair(s), "jobs" -> pair(jobs))
      }
      val batch =
        if (l.batches.isEmpty) Nil
        else List("batch" -> JArray(l.batches.toList.map(b =>
          JObject(BatchDurations.toList.map(d => d -> pair(b(d)))))))
      entry -> JObject(Columns.toList.map(c => c -> pair(l.columns(c))) ++
        (("phases" -> JObject(phases)) :: batch))
    })))

  /** The longest line [[topLine]] prints. */
  val MaxTopLine = 1500

  /** One compact JSON line of the `n` slowest entries by median wall:
    * `entry: [wall_s, jobs, driver_gap_s, slowest phase, its s]`
    * (medians), within [[MaxTopLine]] chars — entries that would pass it
    * are left off. */
  def topLine(layers: Seq[(String, Layers)], n: Int = 15): String = {
    def r2(d: Double) = num(math.rint(d * 100) / 100)
    val head = """{"metric":"top","unit":"sec","cols":["wall_s","jobs","driver_gap_s","phase","phase_s"]"""
    val cells = layers.sortBy(-_._2.columns("wall_s")._2).take(n).map { case (entry, l) =>
      val (phase, s) = l.phases.toSeq.map { case (p, (s, _)) => (p, s._2) }
        .sortBy(-_._2).headOption.getOrElse((Unphased, 0.0))
      JsonMethods.compact(JsonMethods.render(JObject(entry -> JArray(List(
        r2(l.columns("wall_s")._2), num(l.columns("jobs")._2),
        r2(l.columns("driver_gap_s")._2), JString(phase.take(24)), r2(s)))))).drop(1).dropRight(1)
    }
    val kept = cells.scanLeft(head.length + 1)(_ + 1 + _.length)
      .drop(1).takeWhile(_ <= MaxTopLine).size
    cells.take(kept).map("," + _).mkString(head, "", "}")
  }
}
