package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Warm-up: pay session/codegen/file-listing startup outside the timed
    // region so the first query's number measures the query, not the JVM.
    spark.range(1000000).selectExpr("sum(id)").collect()
    SparkEntry.entry(spark).count()
    // noop sink: forces every projection/expression to actually run —
    // count() lets Catalyst prune projections, silently under-measuring
    // expression-heavy queries. Each query runs `repeats` times and
    // reports the MEDIAN (plus min, for reference) so round-over-round
    // comparisons distinguish regression from single-run noise.
    val repeats = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPEATS", "3").toInt.max(1)
    // A failing query must show up in the artifact, not bench as its
    // time-to-throw: failures are counted per query and emitted in an
    // "errors" map (first exception message kept for diagnosis).
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, (Int, String)]
    // Optional comma-separated name filter for focused investigation runs
    // (e.g. SPARK_GRAFT_BENCH_ONLY=q40_stream_window,q52_stream_stream_join).
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
    // Repeats are INTERLEAVED (run the full query cycle `repeats` times)
    // rather than back-to-back per query: a transient contention window —
    // GC storm, driver-side concurrent work, OS noise — spans tens of
    // seconds, so back-to-back repeats put ALL of one query's runs inside
    // it and even min-of-N reports the inflated number. That was the r5/r6
    // artifact signature exactly: a different contiguous query block
    // "regressed" each round (q25+q27 in r5, q30 in r6) and never
    // reproduced in isolation. Cycling visits each query once per ~40 s
    // lap, so a window corrupts at most one of its runs and the min
    // recovers the clean time.
    val profile = Profile.register(spark)
    def runOnce(name: String, fn: (SparkSession, String) => DataFrame): Double =
      profile.run(name) {
        try runEntry(spark, sfDir, fn)
        catch {
          case e: Throwable =>
            val (n, first) = errors.getOrElse(name, (0, e.toString.take(200)))
            errors(name) = (n + 1, first)
        }
      }
    val byQuery = selected.map { case (name, _) =>
      name -> scala.collection.mutable.ArrayBuffer.empty[Double]
    }.toMap
    for (_ <- 0 until repeats; (name, fn) <- selected)
      byQuery(name) += runOnce(name, fn)
    val results = selected.map { case (name, _) =>
      val runs = byQuery(name).toSeq
      // true median: the mean of the two middle runs when repeats is even
      name -> (Profile.median(runs), runs.min)
    }
    val layers = profile.layers()
    profile.close()
    val outFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_LOCAL.json")
    val out = lines(results, errors.toSeq, layers, repeats, cpus, sfDir, outFile)
    println(out.head)
    // The driver's BENCH_r{N}.json artifact keeps only a 2,000-char tail of
    // the sbt output, which truncates the grid to ~58 of 161 queries and
    // blinds round-over-round comparison for the rest (the r15 q59
    // investigation). Persist the FULL grid to a committed file as well —
    // overwritten per run, committed with the round docs.
    try java.nio.file.Files.write(java.nio.file.Paths.get(outFile),
      (out.head + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    catch { case e: Exception =>
      System.err.println(s"BENCH: could not write $outFile: $e") }
    out.tail.foreach(println)
    if (errors.nonEmpty) {
      System.err.println(s"BENCH FAILURES: ${errors.keys.mkString(", ")}")
    }
    spark.stop()
  }

  /** One run of an entry: build its frame, drain it into the noop sink —
    * the sink's jobs labelled `graft:sink` — and release the caches. */
  private[graft] def runEntry(spark: SparkSession, sfDir: String,
      fn: (SparkSession, String) => DataFrame): Unit =
    try {
      val df = fn(spark, sfDir)
      JobPhase(spark.sparkContext, "sink")(df.write.format("noop").mode("overwrite").save())
    } finally graft.queries.Caches.releaseAll()

  /** The bench's stdout lines, in order: the full line (also written to
    * `outFile`), the slowest entries ([[Profile.topLine]]) and the
    * compact summary, which stays LAST. */
  private[graft] def lines(results: Seq[(String, (Double, Double))],
      errors: Seq[(String, (Int, String))], layers: Seq[(String, Profile.Layers)],
      repeats: Int, cpus: String, sfDir: String, outFile: String): Seq[String] = {
    val qs = results.map { case (k, (med, _)) => s"\"" + k + "\":" + med }
      .mkString("{", ",", "}")
    val qsMin = results.map { case (k, (_, mn)) => s"\"" + k + "\":" + mn }
      .mkString("{", ",", "}")
    // `total` = sum of per-query MEDIANS since round 2 (round-1 artifacts
    // were single-run sums — not like-for-like; the `repeats` field marks
    // which semantics a given artifact used).
    val total = results.map(_._2._1).sum
    // Full JSON string escape including control chars: exception messages
    // carry newlines (Spark AnalysisException embeds plan trees), and one
    // raw newline inside the errors map invalidates the whole artifact
    // line — that was BENCH_r13's `parsed: null`.
    def jstr(v: String) = "\"" + v.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val errs = errors.map { case (k, (n, msg)) =>
      jstr(k) + s""":{"failures":$n,"first":${jstr(msg)}}"""
    }.mkString("{", ",", "}")
    // "methodology" makes protocol changes machine-visible round-over-round
    // (the r6→r7 interleaving shift looked like a broad regression until
    // adjudicated by hand — an artifact field settles that up front).
    val line = s"""{"metric":"total","value":$total,"unit":"sec","repeats":$repeats,""" +
      s""""methodology":"interleaved","statistic":"median_of_repeats",""" +
      s""""queries":$qs,"queries_min":$qsMin,"errors":$errs,"sf":"$sfDir",""" +
      s""""layers":${Profile.json(layers)}}"""
    // The full line above is ~8 KB for 222 queries before its layers map;
    // the driver keeps only a
    // 2,000-char tail of the sbt output, so the full JSON gets decapitated
    // and the round-over-round comparison comes back empty (r20/r21 both had
    // `parsed: null`). Emit a compact, COMPLETE summary as the LAST stdout
    // line so the tail always contains one parseable JSON object; per-query
    // detail stays in the full line and the committed BENCH_LOCAL artifact.
    val summary = s"""{"metric":"total","value":$total,"unit":"sec",""" +
      s""""n_queries":${results.size},"n_errors":${errors.size},""" +
      s""""repeats":$repeats,"methodology":"interleaved",""" +
      s""""statistic":"median_of_repeats","cpus":"$cpus",""" +
      s""""sf":"$sfDir","detail":"$outFile"}"""
    Seq(line, Profile.topLine(layers), summary)
  }
}
