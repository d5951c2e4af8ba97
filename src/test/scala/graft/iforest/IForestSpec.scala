package graft.iforest

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.ml.linalg.Vectors
import org.apache.spark.ml.param.ParamMap
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.monotonically_increasing_id
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

class IForestSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark

  /** Deterministic ramp data: vector values = row index (mirrors the
    * reference suite's generator shape). */
  private def rampData(rows: Int, dim: Int) = {
    import spark.implicits._
    (0 until rows).map(i => Tuple1(Vectors.dense(Array.fill(dim)(i.toDouble))))
      .toDF("features")
  }

  /** 8 inliers in [-1,1]^2 plus 2 far outliers. */
  private def outlierData() = {
    import spark.implicits._
    val rng = new scala.util.Random(5)
    val inliers = Seq.fill(48)(Vectors.dense(rng.nextDouble() * 2 - 1, rng.nextDouble() * 2 - 1))
    val outliers = Seq(Vectors.dense(9.0, 9.0), Vectors.dense(-9.0, -9.0))
    (inliers ++ outliers).map(Tuple1(_)).toDF("features")
  }

  test("default parameters") {
    val est = new IForest()
    assert(est.getNumTrees == 100)
    assert(est.getMaxSamples == 1.0)
    assert(est.getMaxFeatures == 1.0)
    assert(est.getMaxDepth == 10)
    assert(est.getContamination == 0.1)
    assert(est.getApproxQuantileRelativeError == 0.0)
    assert(!est.getBootstrap)
    assert(est.getFeaturesCol == "features")
    assert(est.getAnomalyScoreCol == "anomalyScore")
    assert(est.getPredictionCol == "prediction")
  }

  test("set parameters and validators") {
    val est = new IForest()
      .setNumTrees(10).setMaxSamples(0.5).setMaxFeatures(0.5).setMaxDepth(4)
      .setContamination(0.2).setBootstrap(true).setSeed(7L)
    assert(est.getNumTrees == 10 && est.getMaxSamples == 0.5 && est.getBootstrap)
    intercept[IllegalArgumentException](new IForest().setNumTrees(-1))
    intercept[IllegalArgumentException](new IForest().setMaxSamples(-0.5))
    intercept[IllegalArgumentException](new IForest().setMaxDepth(0))
    intercept[IllegalArgumentException](new IForest().setContamination(1.5))
  }

  test("maxSamples as count larger than dataset fails") {
    val est = new IForest().setNumTrees(2).setMaxSamples(20)
    intercept[IllegalArgumentException](est.fit(rampData(10, 2)))
  }

  test("fit, transform and summary: contamination picks ~20% anomalies") {
    val est = new IForest()
      .setNumTrees(10).setMaxDepth(4).setContamination(0.2).setSeed(42L)
    val model = est.fit(rampData(10, 2))
    assert(model.hasSummary)
    assert(model.hasThreshold)
    val predictions = model.summary.predictions
    assert(predictions.columns.contains("anomalyScore"))
    assert(predictions.columns.contains("prediction"))
    assert(predictions.count() == 10)
    assert(model.summary.numAnomalies == 2)
    val scores = predictions.select("anomalyScore").collect().map(_.getDouble(0))
    assert(scores.forall(s => s > 0 && s <= 1))
  }

  test("obvious outliers get the highest scores") {
    val model = new IForest()
      .setNumTrees(20).setMaxDepth(6).setContamination(0.04).setSeed(1L)
      .fit(outlierData())
    val rows = model.summary.predictions
      .select("features", "anomalyScore").collect()
    val sorted = rows.sortBy(-_.getDouble(1))
    val top2 = sorted.take(2).map(_.get(0).toString)
    assert(top2.forall(s => s.contains("9.0")), s"top2 = ${top2.mkString(", ")}")
  }

  test("4-point doctest set: the isolated corner is the single anomaly") {
    // Mirrors the reference's python doctest fixture (FIXTURES.md #4):
    // [0,0],[7,9],[9,8],[8,9] with contamination 0.3, maxDepth 2 -> the
    // [0,0] row is the anomaly and carries the top score. (Golden score
    // values are seed-dependent; the behavioral contract is what's stable.)
    import spark.implicits._
    val df = Seq(
      Vectors.dense(0.0, 0.0), Vectors.dense(7.0, 9.0),
      Vectors.dense(9.0, 8.0), Vectors.dense(8.0, 9.0),
    ).map(Tuple1(_)).toDF("features")
    val model = new IForest()
      .setNumTrees(100).setMaxDepth(2).setContamination(0.3).setSeed(123L)
      .fit(df)
    val rows = model.summary.predictions
      .select("features", "anomalyScore", "prediction").collect()
    val byScore = rows.sortBy(-_.getDouble(1))
    assert(byScore.head.get(0).toString == "[0.0,0.0]")
    assert(byScore.head.getDouble(2) == 1.0)
    assert(rows.map(_.getDouble(2)).sum == 1.0) // exactly one anomaly at 30% of 4
  }

  test("scoring is deterministic for a fixed seed") {
    val df = outlierData()
    def scoresFor(seed: Long) = new IForest()
      .setNumTrees(10).setMaxDepth(5).setContamination(0.1).setSeed(seed)
      .fit(df).summary.predictions
      .select("anomalyScore").collect().map(_.getDouble(0)).toSeq
    assert(scoresFor(99L) == scoresFor(99L))
  }

  test("manual threshold override skips the quantile") {
    val df = rampData(20, 2)
    val model = new IForest()
      .setNumTrees(5).setMaxDepth(4).setContamination(0.1).setSeed(3L).fit(df)
    model.setThreshold(0.0)
    val preds = model.transform(df).select("prediction").collect().map(_.getDouble(0))
    assert(preds.forall(_ == 1.0)) // every score > 0.0
  }

  test("model write/load round-trip preserves trees, params, and scores") {
    val df = rampData(30, 3)
    val model = new IForest()
      .setNumTrees(7).setMaxSamples(16).setMaxDepth(5)
      .setContamination(0.15).setSeed(11L).fit(df)
    val dir = Files.createTempDirectory("iforest-model").toString + "/m"
    model.write.overwrite().save(dir)
    val loaded = IForestModel.load(dir)
    assert(loaded.uid == model.uid)
    assert(loaded.numTreesFitted == model.numTreesFitted)
    assert(loaded.getNumTrees == 7 && loaded.getMaxSamples == 16.0 &&
      loaded.getMaxDepth == 5 && loaded.getContamination == 0.15 && loaded.getSeed == 11L)
    assert(loaded.trees.toSeq == model.trees.toSeq) // structural equality via case classes
    assert(!loaded.hasSummary)
    assert(bits(loaded.getThreshold) == bits(model.getThreshold)) // saved with the forest
    val a = model.transform(df).select("anomalyScore", "prediction").collect().toSeq
    val b = loaded.transform(df).select("anomalyScore", "prediction").collect().toSeq
    assert(a == b)
  }

  private def bits(d: Double): Long = java.lang.Double.doubleToLongBits(d)

  /** 120 rows in [-3, 3]^2 with ids: wider than [[outlierData]]'s inliers,
    * so its own quantile is not the threshold fitted on that set. */
  private def wideData() = {
    import spark.implicits._
    val rng = new scala.util.Random(21)
    (0 until 120).map(i => (i.toLong, Vectors.dense(rng.nextDouble() * 6 - 3,
      rng.nextDouble() * 6 - 3))).toDF("id", "features")
  }

  /** (id, score bits, prediction) per row, by id. */
  private def labels(model: IForestModel, df: DataFrame): Seq[(Long, Long, Double)] =
    model.transform(df).select("id", "anomalyScore", "prediction").collect()
      .map(r => (r.getLong(0), bits(r.getDouble(1)), r.getDouble(2))).sortBy(_._1).toSeq

  private def fittedAndSaved(): (IForestModel, String) = {
    val model = new IForest().setNumTrees(10).setMaxSamples(32).setMaxDepth(6)
      .setContamination(0.1).setSeed(23L).fit(outlierData())
    val dir = Files.createTempDirectory("iforest-threshold").toString + "/m"
    model.write.overwrite().save(dir)
    (model, dir)
  }

  test("a loaded model scores and predicts bit-identically to the fitted one, with no threshold job") {
    val (model, dir) = fittedAndSaved()
    val df = wideData()
    val expected = labels(model, df)
    val loaded = IForestModel.load(dir)
    assert(bits(loaded.getThreshold) == bits(model.getThreshold))
    val (got, phases) = phasesOf(labels(loaded, df))
    assert(!phases.exists(_.startsWith("graft:iforest:")), phases)
    assert(got == expected)
  }

  test("a model load runs one Spark job: the forest rows' collect, with no schema inference") {
    val (_, dir) = fittedAndSaved()
    val (loaded, jobs) = jobsOf(IForestModel.load(dir))
    assert(jobs == List("outer"), jobs)
    assert(loaded.trees.length == 10)
  }

  test("two threads transforming one loaded model get identical output") {
    val (model, dir) = fittedAndSaved()
    val loaded = IForestModel.load(dir)
    val df = wideData()
    val expected = labels(model, df)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    val runs = Seq.fill(2)(Future(Seq.fill(3)(labels(loaded, df))))
    runs.flatMap(Await.result(_, 2.minutes)).foreach(out => assert(out == expected))
    assert(bits(loaded.getThreshold) == bits(model.getThreshold))
  }

  /** The model saved at `dir`, its `threshold` key stripped (as a
    * reference-written or older model reads), loaded. */
  private def unkeyed(dir: String): IForestModel = {
    import org.json4s.jackson.JsonMethods._
    val part = Paths.get(dir, "metadata").toFile.listFiles().map(_.toPath)
      .find(p => !p.getFileName.toString.matches("[._].*")).get
    val meta = parse(Files.readString(part)).removeField(_._1 == "threshold")
    Files.deleteIfExists(part.resolveSibling(s".${part.getFileName}.crc"))
    Files.writeString(part, compact(meta) + "\n")
    IForestModel.load(dir)
  }

  test("a model without a saved threshold labels each input against its own quantile") {
    val (model, dir) = fittedAndSaved()
    val loaded = unkeyed(dir)
    assert(!loaded.hasThreshold)
    val training = outlierData().withColumn("id", monotonically_increasing_id())
    assert(labels(loaded, training) == labels(model, training), "the first transform's output")
    val wide = wideData()
    val scores = model.transform(wide).select("id", "anomalyScore")
    val t = ExactQuantile(scores.select("anomalyScore"), 1 - model.getContamination)
    assert(bits(t) != bits(model.getThreshold))
    val own = scores.collect().map(r => (r.getLong(0), bits(r.getDouble(1)),
      if (r.getDouble(1) > t) 1.0 else 0.0)).sortBy(_._1).toSeq
    assert(labels(loaded, wide) == own, "a later call reused an earlier call's quantile")
    assert(loaded.getThreshold.isNaN)
  }

  test("finite and infinite thresholds round-trip bit-exactly; NaN writes no key") {
    import org.json4s._
    import org.json4s.jackson.JsonMethods._
    val model = fittedAndSaved()._1
    val dir = Files.createTempDirectory("iforest-roundtrip").toString
    val values = Seq(model.getThreshold, 0.1 + 0.2, Double.MinPositiveValue, -0.0, 2e23,
      Double.MaxValue, Double.PositiveInfinity, Double.NegativeInfinity, Double.NaN)
    for ((t, i) <- values.zipWithIndex) {
      val path = s"$dir/m$i"
      model.copy(ParamMap.empty).setThreshold(t).write.save(path)
      val saved = parse(Files.readString(Paths.get(path, "metadata", "part-00000")))
      (t, saved \ "threshold") match {
        case (t, JNothing) if t.isNaN =>
        case (Double.PositiveInfinity, JString("Inf")) | (Double.NegativeInfinity, JString("-Inf")) =>
        case (t, JDouble(_)) if !t.isNaN && !t.isInfinite =>
        case (t, other) => fail(s"threshold $t saved as $other")
      }
      assert(bits(IForestModel.load(path).getThreshold) == bits(t), s"threshold $t")
    }
    val rng = new scala.util.Random(7)
    for (_ <- 0 until 10000) {
      val t = java.lang.Double.longBitsToDouble(rng.nextLong())
      val back = IForestModel.thresholdOf(
        parse(compact(render(JObject("t" -> IForestModel.thresholdJson(t))))) \ "t")
      assert(bits(back) == bits(t) || (t.isNaN && back.isNaN), s"threshold $t")
    }
  }

  test("estimator write/load round-trip") {
    val est = new IForest().setNumTrees(3).setMaxDepth(4).setSeed(17L)
    val dir = Files.createTempDirectory("iforest-est").toString + "/e"
    est.write.overwrite().save(dir)
    val loaded = IForest.load(dir)
    assert(loaded.getNumTrees == 3 && loaded.getMaxDepth == 4 && loaded.getSeed == 17L)
  }

  test("scoring expression: sparse vectors score identically to their dense form") {
    import spark.implicits._
    val model = new IForest().setNumTrees(8).setMaxDepth(5).setSeed(11L)
      .fit(rampData(40, 4))
    // same 40 vectors, one dataset dense, one sparse (with explicit zeros
    // dropped) — IForestScore's two denseValues branches must agree
    val dense = (0 until 40).map(i =>
      (i.toLong, Vectors.dense(i.toDouble, 0.0, i.toDouble, 0.0))).toDF("id", "features")
    val sparse = (0 until 40).map(i =>
      (i.toLong, Vectors.sparse(4, Array(0, 2), Array(i.toDouble, i.toDouble))))
      .toDF("id", "features")
    val d = model.transform(dense).select("id", "anomalyScore")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val sp = model.transform(sparse).select("id", "anomalyScore")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(d.keySet == sp.keySet)
    d.foreach { case (id, score) => assert(score == sp(id), s"id=$id") }
  }

  test("scoring expression: interpreted eval matches codegen output") {
    import spark.implicits._
    val model = new IForest().setNumTrees(8).setMaxDepth(5).setSeed(11L)
      .fit(rampData(40, 4))
    val df = (0 until 40).map(i =>
      (i.toLong, Vectors.dense(Array.fill(4)(i.toDouble)))).toDF("id", "features")
    val viaCodegen = model.transform(df).select("id", "anomalyScore")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // force the interpreted path for the same expression tree
    val prev = spark.conf.get("spark.sql.codegen.factoryMode", "FALLBACK")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try {
      val viaInterp = model.transform(df).select("id", "anomalyScore")
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      viaCodegen.foreach { case (id, score) => assert(score == viaInterp(id), s"id=$id") }
    } finally spark.conf.set("spark.sql.codegen.factoryMode", prev)
  }

  test("scoring expression: a vector shorter than the forest's splits is rejected by size") {
    import spark.implicits._
    val model = new IForest().setNumTrees(8).setMaxDepth(5).setSeed(11L)
      .fit(rampData(40, 4))
    assert(FlatForest(model.trees).minFeatures == 4,
      "no tree splits on the last feature, so a 3-dim vector would not reach it")
    val short = Seq(Tuple1(Vectors.dense(1.0, 2.0, 3.0))).toDF("features")
    val e = intercept[Exception](model.transform(short).collect())
    val messages = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(_.getMessage).toList
    assert(messages.exists(m => m != null && m.contains("size >= 4, got size 3")),
      messages.mkString("\n"))
  }

  test("copy preserves params, threshold, and summary") {
    val model = new IForest().setNumTrees(4).setMaxDepth(4).setSeed(2L)
      .fit(rampData(12, 2))
    val copied = model.copy(org.apache.spark.ml.param.ParamMap.empty)
    assert(copied.getNumTrees == 4)
    assert(copied.getThreshold == model.getThreshold)
    assert(copied.hasSummary)
  }

  /** `body`'s result and the distinct descriptions, in order, of the Spark
    * jobs it ran from this thread (the caller's own read `outer`). A phase
    * may run more than one job (adaptive execution), so phases are
    * compared distinct. */
  private def phasesOf[T](body: => T): (T, List[String]) = {
    val (result, jobs) = jobsOf(body)
    (result, jobs.distinct)
  }

  /** `body`'s result and the description of each Spark job it ran from
    * this thread, in order (the caller's own read `outer`). */
  private def jobsOf[T](body: => T): (T, List[String]) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val group = s"job-descriptions-${System.nanoTime()}"
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties.getProperty("spark.jobGroup.id") == group) {
          seen.add(String.valueOf(e.properties.getProperty("spark.job.description")))
        }
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "outer")
    try {
      // The bus is asynchronous but ordered: once the end marker's job
      // start arrives, every earlier one has.
      val result = body
      assert(sc.getLocalProperty("spark.job.description") == "outer")
      graft.JobPhase(sc, "end")(sc.parallelize(Seq(1), 1).count())
      val deadline = System.nanoTime() + 30e9.toLong
      while (!seen.contains("graft:end") && System.nanoTime() < deadline) Thread.sleep(20)
      (result, List.from(seen.iterator().asScala).takeWhile(_ != "graft:end"))
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  test("fit and transform label their jobs graft:iforest:<phase> and restore the caller's") {
    val df = rampData(200, 2).cache()
    df.count()
    try {
      // maxSamples = 1.0 (the default) makes transform count its input
      val (model, fitPhases) = phasesOf(new IForest().setNumTrees(4).setSeed(1L).fit(df))
      assert(fitPhases == List("graft:iforest:size", "graft:iforest:build",
        "graft:iforest:count", "graft:iforest:threshold"))
      val (_, transformPhases) =
        phasesOf(model.copy(ParamMap.empty).setThreshold(Double.NaN).transform(df))
      assert(transformPhases == List("graft:iforest:count", "graft:iforest:threshold"))
    } finally df.unpersist()
  }
}
