package graft.similarity

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions.desc
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** The k-means geometry of the IVF, PQ and IVF-PQ tiers ([[AnnLloyd]]):
  * a pure function of the corpus rows and the seed, cheap to fit, and —
  * once persisted — served as stored, whatever fitted it. */
class AnnGeometrySpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"
  private val tmp = java.nio.file.Files.createTempDirectory("graft-ann-geometry-spec").toString

  private def deleteRec(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteRec)); f.delete()
  }

  override def afterAll(): Unit = try deleteRec(new java.io.File(tmp)) finally super.afterAll()

  private val tiers: Seq[(String, Long => AnnTier)] = Seq(
    "ivf" -> (seed => IvfTier(seed = seed)),
    "pq" -> (seed => PqTier(seed = seed)),
    "ivfpq" -> (seed => IvfPqTier(seed = seed)))

  /** `from`'s corpus rewritten at `dir` as `files` parquet files, rows in
    * descending vec_id order spread round-robin. */
  private def corpusIn(dir: String, files: Int, from: String = sf): String = {
    spark.read.parquet(s"$from/embeddings.parquet").orderBy(desc("vec_id")).repartition(files)
      .write.parquet(s"$dir/embeddings.parquet")
    dir
  }

  /** sf0.001's corpus as one parquet file and as seven. */
  private lazy val oneFile = corpusIn(s"$tmp/one_file", 1)
  private lazy val sevenFiles = corpusIn(s"$tmp/seven_files", 7)

  /** Every double of a geometry as raw bits, with each array's length. */
  private def bits(g: Any): Seq[Long] = g match {
    case a: Array[Double] => a.length.toLong +: a.toSeq.map(java.lang.Double.doubleToRawLongBits)
    case a: Array[_] => a.length.toLong +: a.toSeq.flatMap(bits)
    case (x, y) => bits(x) ++ bits(y)
  }

  /** (result, descriptions of the Spark jobs `body` started), the jobs
    * seen by a listener on a private job group. */
  private def jobsOf[T](body: => T): (T, Seq[String]) = {
    val sc = spark.sparkContext
    val group = s"ann-geometry-${System.nanoTime()}"
    val seen = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties.getProperty("spark.jobGroup.id") == group)
          seen.add(String.valueOf(e.properties.getProperty("spark.job.description")))
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "counted")
    try {
      val result = body
      // the bus is ordered: once the marker's start arrives, every earlier one has
      graft.JobPhase(sc, "end")(sc.parallelize(Seq(1), 1).count())
      val deadline = System.nanoTime() + 30e9.toLong
      while (!seen.contains("graft:end") && System.nanoTime() < deadline) Thread.sleep(20)
      assert(seen.contains("graft:end"), "listener bus did not deliver the end marker")
      (result, seen.asScala.toSeq.takeWhile(_ != "graft:end"))
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  private def fitted(t: AnnTier, dir: String): Any =
    t.resolve(spark, dir).fit(spark, dir, AnnTier.dimOf(AnnTier.vectors(spark, dir)))

  test("IVF, PQ and IVF-PQ geometry is bit-identical however the corpus is split into files") {
    assert(new java.io.File(s"$sevenFiles/embeddings.parquet").listFiles()
      .count(_.getName.endsWith(".parquet")) == 7)
    for ((method, tier) <- tiers) {
      AnnLloyd.clearFits()
      val g = bits(fitted(tier(4099L), oneFile))
      assert(g == bits(fitted(tier(4099L), sevenFiles)),
        s"$method: the geometry depends on the corpus's file layout")
      assert(g != bits(fitted(tier(4100L), oneFile)), s"$method: the seed does not reach the fit")
    }
  }

  test("a capped sample is the same rows however the corpus is split into files") {
    val one = AnnLloyd.sample(spark, oneFile, 100)
    assert(one.length == 100)
    assert(bits(one) == bits(AnnLloyd.sample(spark, sevenFiles, 100)))
  }

  test("the fit memo is keyed on the knobs the fit reads, not the probe-side ones") {
    val probeSide: Seq[(String, AnnTier, AnnTier)] = Seq(
      ("ivf", IvfTier(nprobe = 8), IvfTier(nprobe = 40)),
      ("pq", PqTier(rerank = 64), PqTier(rerank = 128)),
      ("ivfpq", IvfPqTier(nprobe = 8, rerank = 64), IvfPqTier(nprobe = 40, rerank = 128)))
    AnnLloyd.clearFits()
    for ((method, a, b) <- probeSide) {
      val g = fitted(a, sf)
      val (again, jobs) = jobsOf(fitted(b, sf))
      assert(!jobs.contains("graft:ann:fit:sample"), s"$method: a probe-side knob refit the geometry")
      assert(again.asInstanceOf[AnyRef] eq g.asInstanceOf[AnyRef], method)
    }
  }

  test("a cold fit runs at most 5 Spark jobs (sf0.1's 2,000 vectors)") {
    for ((method, tier) <- tiers) {
      // a fresh corpus dir: the row-count memo is cold as well
      val dir = corpusIn(s"$tmp/cold_$method", 3, "/root/testdata/sf0.1")
      AnnLloyd.clearFits()
      val t0 = System.nanoTime()
      val (_, jobs) = jobsOf(fitted(tier(4099L), dir))
      info(f"$method: cold resolve + fit ran ${jobs.size} jobs in ${(System.nanoTime() - t0) / 1e9}%.2f s" +
        s" (${jobs.distinct.mkString(", ")})")
      assert(jobs.size <= 5, s"$method: a cold fit ran ${jobs.size} jobs")
      // the sample is one collect, which Spark may run as two jobs
      assert(jobs.count(_ == "graft:ann:fit:sample") <= 2, jobs)
    }
  }

  test("an index whose geometry another fit produced keeps serving that geometry") {
    // Stands in for an index built by an earlier k-means implementation:
    // its model/ is overwritten with a perturbed geometry, and its
    // assignments re-encoded against it, as that build would have left
    // them. The corpus is unchanged, so the index stays current, and
    // topK must answer from the stored geometry without fitting.
    val emb = AnnTier.vectors(spark, sf)
    for ((method, _) <- tiers) {
      val path = s"$tmp/index_$method"
      AnnIndex.build(spark, sf, path, method)
      val model = spark.read.parquet(s"$path/model")
      val perturbed = model.withColumn("center", org.apache.spark.sql.functions.expr(
        "transform(center, x -> x + 0.01D * sin(1000D * x))")).collect()
      spark.createDataFrame(java.util.Arrays.asList(perturbed: _*), model.schema)
        .repartition(1).write.mode("overwrite").parquet(s"$path/model")
      val t = AnnTier.defaults(method).resolve(spark, sf)
      val g = t.readGeometry(spark, path)
      assert(bits(g) != bits(t.fit(spark, sf, 64)), s"$method: the perturbation changed nothing")
      t.encode(spark, g, emb).write.mode("overwrite").parquet(s"$path/assignments")
      assert(AnnIndex.isCurrent(spark, sf, path), s"$method: a rewritten geometry read as stale")

      AnnLloyd.clearFits()
      val (served, jobs) = jobsOf(AnnIndex.topK(spark, sf, path, method, numProbes = 5, k = 5)
        .collect().toSeq)
      assert(!jobs.contains("graft:ann:fit:sample"), s"$method: topK fit a geometry")
      val expected = t.rank(spark,
        t.scan(spark, g, emb, spark.read.parquet(s"$path/assignments"), 5), emb, 5, 5,
        emb.count()).collect().toSeq
      assert(served.map(_.toSeq) == expected.map(_.toSeq),
        s"$method: topK did not answer from the stored geometry")
    }
  }
}
