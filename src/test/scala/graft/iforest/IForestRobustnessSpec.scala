package graft.iforest

import org.apache.spark.ml.linalg.{Vector, Vectors}
import org.apache.spark.ml.param.ParamMap
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** Inputs the reference meets in practice, on tiny data: constant rows,
  * sparse rows, forest sizes off the four-tree grouping, more trees than
  * input partitions (one of them empty), and nothing to take a threshold
  * from. Scores are checked bit for bit against [[TreeOracle]]'s per-tree
  * ADT walks, and the threshold leaves no cached scores behind. */
class IForestRobustnessSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark

  private def frame(vecs: Seq[Vector], partitions: Int = 2): DataFrame = {
    import spark.implicits._
    spark.sparkContext.parallelize(vecs.zipWithIndex.map { case (v, i) => (i.toLong, v) },
      partitions).toDF("id", "features")
  }

  private def scores(model: IForestModel, df: DataFrame): Map[Long, Double] =
    model.transform(df).select("id", "anomalyScore").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap

  /** Each row's score from the ADT oracle, for `maxSamples > 1`. */
  private def oracle(model: IForestModel, vecs: Seq[Vector]): Map[Long, Double] = {
    val norm = IsolationMath.avgLength(model.getMaxSamples)
    vecs.zipWithIndex.map { case (v, i) =>
      i.toLong -> IsolationMath.score(
        TreeOracle.pathLengthSum(model.trees, v.toArray) / model.trees.length, norm)
    }.toMap
  }

  private def randomVecs(n: Int, seed: Int): Seq[Vector] = {
    val rng = new scala.util.Random(seed)
    Seq.fill(n)(Vectors.dense(Array.fill(3)(rng.nextGaussian())))
  }

  test("all-identical rows: every tree is one leaf and every score is exactly 0.5") {
    val df = frame(Seq.fill(200)(Vectors.dense(1.0, 2.0, 3.0)))
    val model = new IForest().setNumTrees(5).setSeed(3L).fit(df)
    assert(model.trees.forall(_ == IFLeafNode(200)))
    assert(scores(model, df).values.forall(_ == 0.5))
    assert(model.getThreshold == 0.5)
    assert(model.summary.numAnomalies == 0)
  }

  test("sparse rows fit the same forest and score bit-equal to their dense twins") {
    val rng = new scala.util.Random(4)
    val dense = Seq.fill(60)(Vectors.dense(Array.fill(4)(
      if (rng.nextInt(3) == 0) 0.0 else rng.nextDouble())))
    val sparse = dense.map(_.toSparse)
    assert(sparse.exists(_.numNonzeros < 4))
    def fit(vecs: Seq[Vector]) =
      new IForest().setNumTrees(6).setMaxSamples(32).setSeed(8L).fit(frame(vecs))
    val (d, s) = (fit(dense), fit(sparse))
    assert(d.trees.toSeq == s.trees.toSeq)
    assert(d.getThreshold == s.getThreshold)
    assert(scores(d, frame(dense)) == scores(s, frame(sparse)))
  }

  test("numTrees 1 and 7 score through transform as the ADT oracle does") {
    val vecs = randomVecs(40, 5)
    for (numTrees <- Seq(1, 7)) {
      val model = new IForest().setNumTrees(numTrees).setMaxSamples(16).setSeed(9L)
        .fit(frame(vecs))
      assert(model.numTreesFitted == numTrees)
      assert(scores(model, frame(vecs)) == oracle(model, vecs), s"numTrees=$numTrees")
    }
  }

  test("more trees than partitions, one partition empty: every tree gets its samples") {
    val vecs = randomVecs(30, 6)
    val df = frame(vecs, partitions = 3)
    val gapped = spark.createDataFrame(
      df.rdd.mapPartitionsWithIndex((p, rows) => if (p == 1) Iterator.empty else rows),
      df.schema)
    val kept = gapped.select("features").collect().map(_.getAs[Vector](0)).toSeq
    assert(gapped.rdd.getNumPartitions == 3 && kept.size == 20)
    val model = new IForest().setNumTrees(9).setMaxSamples(12).setSeed(10L).fit(gapped)
    def leafRows(n: IFNode): Long = n match {
      case l: IFLeafNode => l.numInstance
      case in: IFInternalNode => leafRows(in.left) + leafRows(in.right)
    }
    assert(model.trees.map(leafRows).toSeq == Seq.fill(9)(12L))
    assert(scores(model, frame(kept)) == oracle(model, kept))
  }

  /** The model with its threshold cleared, so the next transform takes the quantile. */
  private def unthresholded(model: IForestModel, relErr: Double = 0.0): IForestModel =
    model.copy(ParamMap(model.approxQuantileRelativeError -> relErr)).setThreshold(Double.NaN)

  test("nothing to score: an empty dataset or all-null features raise a clear error") {
    val model = new IForest().setNumTrees(4).setMaxSamples(16).setSeed(11L)
      .fit(frame(randomVecs(30, 7)))
    val empty = frame(Seq.empty)
    val allNull = frame(Seq.fill(5)(null))
    for (df <- Seq(empty, allNull); relErr <- Seq(0.0, 0.01)) {
      val e = intercept[IllegalArgumentException](unthresholded(model, relErr).transform(df))
      assert(e.getMessage.contains("no non-null anomaly scores") &&
        e.getMessage.contains("1 - contamination") && e.getMessage.contains("setThreshold"),
        e.getMessage)
    }
    // a set threshold skips the quantile: nothing to score is then no error
    assert(model.transform(allNull).where("anomalyScore is not null").count() == 0)
  }

  test("the threshold caches nothing it leaves behind, also when the scoring job fails") {
    val sc = spark.sparkContext
    val vecs = randomVecs(60, 8)
    val model = new IForest().setNumTrees(8).setMaxSamples(32).setSeed(12L).fit(frame(vecs))
    val before = sc.getPersistentRDDs.keySet
    val fresh = unthresholded(model).transform(frame(vecs))
    assert(fresh.count() == 60)
    assert(sc.getPersistentRDDs.keySet == before)

    assert(FlatForest(model.trees).minFeatures == 3)
    val short = frame(Seq.fill(10)(Vectors.dense(1.0, 2.0)))
    val e = intercept[Exception](unthresholded(model).transform(short))
    val messages = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(_.getMessage).toList
    assert(messages.exists(m => m != null && m.contains("size >= 3, got size 2")),
      messages.mkString("\n"))
    assert(sc.getPersistentRDDs.keySet == before)
  }

  test("null feature vectors: fit skips them, transform scores them null; NaN entries fit") {
    val vecs = randomVecs(30, 13)
    val withNulls = vecs.grouped(6).flatMap(_ :+ null).toSeq
    assert(withNulls.count(_ == null) == 5)
    def fit(vs: Seq[Vector]) =
      new IForest().setNumTrees(6).setMaxSamples(16).setSeed(14L).fit(frame(vs))
    val (clean, mixed) = (fit(vecs), fit(withNulls))
    assert(mixed.trees.toSeq.map(NodeData.flatten) == clean.trees.toSeq.map(NodeData.flatten))
    assert(java.lang.Double.doubleToLongBits(mixed.getThreshold) ==
      java.lang.Double.doubleToLongBits(clean.getThreshold))
    val scored = mixed.transform(frame(withNulls)).select("features", "anomalyScore").collect()
    assert(scored.count(_.isNullAt(0)) == 5)
    assert(scored.forall(r => r.isNullAt(0) == r.isNullAt(1)),
      "a null vector got a score, or a vector got none")
    // a NaN in half the rows: feature 0 turns all-NaN below some splits
    val nan = vecs.zipWithIndex.map { case (v, i) =>
      if (i % 2 == 0) Vectors.dense(v.toArray.updated(0, Double.NaN)) else v }
    def nanScores = scores(fit(nan), frame(nan))
    val first = nanScores
    assert(first.size == 30 && first.values.forall(x => x > 0.0 && x <= 1.0), first)
    assert(nanScores == first, "the same seed scored NaN rows differently")
  }
}
