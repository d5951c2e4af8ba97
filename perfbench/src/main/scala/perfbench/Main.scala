package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One benchmark run of one workload in a fresh JVM:
  *
  *   perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *                  --work DIR [--smoke]
  *
  * generates the seeded inputs under DIR/data, times the set-up several
  * times, runs untimed warm-up ops, then runs ops for S seconds (with
  * --trace 1: the first half untraced, the second half traced) and writes
  * DIR/result.json (and DIR/spans.json when traced). The summary line
  * and the oracle check are left to `run.py`. */
object Main {
  def main(argv: Array[String]): Unit = {
    val args = argv.sliding(2, 1).collect { case Array(k, v) if k.startsWith("--") => k -> v }
      .toMap
    val smoke = argv.contains("--smoke")
    val name = args("--workload")
    val seed = args("--seed").toLong
    val seconds = args("--seconds").toDouble
    val trace = args("--trace") == "1"
    val work = args("--work")
    val scale = if (smoke) Scale.smoke else Scale.full
    val setups = if (smoke) 1 else 2

    val spark = SparkSession.builder()
      .master("local[4]")
      .appName(s"perfbench-$name")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.hadoop.fs.file.impl", classOf[CountingLocalFileSystem].getName)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val phases = mutable.LinkedHashMap("session_up" -> uptimeS())
    def phase(n: String)(f: => Unit): Unit = { phases(n) = timed(f) }
    val w = Workloads(name, spark, s"$work/data", seed, scale)
    phase("generate")(w.generate())

    val setupS = (0 until setups).map(i => timed(w.setup(i)))
    phases("setup") = setupS.sum

    val ops = mutable.ArrayBuffer.empty[OpRec]
    val plain = new Tracer(spark.sparkContext, None)
    def runOp(t: Tracer, phase: String): Option[Span] = {
      val i = ops.length
      val c0 = Counters.now()
      var root: Option[Span] = None
      var err: Option[String] = None
      val s = timed {
        try root = t.op(i)(w.op(i, t))
        catch { case e: Throwable => err = Some(e.toString) }
      }
      val d = Counters.now() - c0
      if (err.isEmpty) err = try w.check(i) catch { case e: Throwable => Some(e.toString) }
      ops += OpRec(phase, s, d.jitMs, d.gcMs, err)
      root
    }
    phase("warmup")((0 until (if (smoke) 0 else w.warmups)).foreach(_ => runOp(plain, "warmup")))
    def loop(t: Tracer, phase: String, budget: Double): Seq[Span] = {
      val t0 = System.nanoTime()
      val roots = mutable.ArrayBuffer.empty[Span]
      do roots ++= runOp(t, phase)
      while ((System.nanoTime() - t0) / 1e9 < budget)
      roots.toSeq
    }
    phase("timed")(loop(plain, "timed", if (trace) seconds / 2 else seconds))

    var layers = Map.empty[String, Double]
    var accounted = 0.0
    if (trace) {
      val recorder = new Recorder(spark.sparkContext)
      spark.sparkContext.addSparkListener(recorder)
      val tracer = new Tracer(spark.sparkContext, Some(recorder))
      var roots = Seq.empty[Span]
      phase("traced") { roots = loop(tracer, "traced", seconds / 2) }
      val perOp = roots.map { root =>
        val jobs = tracer.jobsOf(root)
        val stages = tracer.stagesOf(jobs)
        val d = root.delta
        w.layers(tracer, root, jobs) ++ Map(
          "spark.tasks" -> stages.map(_.tasks).sum.toDouble,
          "spark.task_failures" -> stages.map(_.failures).sum.toDouble,
          "spark.gc_s" -> d.gcMs / 1000.0,
          "spark.fetch_wait_s" -> stages.map(_.fetchWaitMs).sum / 1000.0,
          "spark.spill_bytes" -> stages.map(_.spillBytes).sum.toDouble,
          "jvm.jit_ms" -> d.jitMs.toDouble)
      }
      layers = perOp.flatMap(_.keys).distinct.map(k => k -> median(perOp.flatMap(_.get(k)))).toMap
      // self times plus job-covered time of every span, over the op's wall
      accounted = median(roots.map { root =>
        val jobs = tracer.jobsOf(root)
        tracer.subtree(root).map { s =>
          val own = jobs.filter(_.span == s.id)
          Layers.selfMs(s, tracer.children(s), own) +
            Layers.union(own.map(Layers.jobIv).map { case (a, b) => (a.max(s.start), b.min(s.end)) })
        }.sum / root.dur
      })
      Files.write(Paths.get(s"$work/spans.json"), tracer.toJson(roots.flatMap(tracer.jobsOf))
        .getBytes(UTF_8))
    }
    val last = ops.length - 1
    if (ops(last).error.isEmpty)
      ops(last) = ops(last).copy(error = try w.lastCheck() catch { case e: Throwable => Some(e.toString) })
    var extra = Map.empty[String, Double]
    if (trace) phase("finish") { extra = w.finish() }
    phase("stop")(spark.stop())

    import org.json4s.JsonDSL._
    import org.json4s.jackson.JsonMethods._
    val json = ("workload" -> name) ~ ("seed" -> seed) ~ ("setup_s" -> setupS) ~
      ("setup_mismatches" -> w.setupMismatches.toList) ~
      ("ops" -> ops.toList.map(o => ("phase" -> o.phase) ~ ("s" -> o.s) ~
        ("jit_ms" -> o.jitMs) ~ ("gc_ms" -> o.gcMs) ~ ("error" -> o.error))) ~
      ("peak_rss_mb" -> peakRssMb()) ~ ("extra" -> extra) ~ ("layers" -> layers) ~
      ("phases_s" -> phases.toMap) ~ ("span_accounting" -> accounted)
    Files.write(Paths.get(s"$work/result.json"), compact(render(json)).getBytes(UTF_8))
  }

  final case class OpRec(phase: String, s: Double, jitMs: Long, gcMs: Long,
      error: Option[String])

  def timed(f: => Unit): Double = {
    val t0 = System.nanoTime()
    f
    (System.nanoTime() - t0) / 1e9
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  def uptimeS(): Double =
    java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1000.0

  /** The JVM's peak resident set (VmHWM), MB. */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024
  }
}
