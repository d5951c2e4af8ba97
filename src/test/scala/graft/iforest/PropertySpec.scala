package graft.iforest

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types.{DoubleType, StructField, StructType}
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/**
 * Property-based invariants of the tree codec and math kernel
 * (SURVEY §5's rebuild test plan): persistence round-trips on arbitrary
 * tree shapes, bit-equal forest scoring, score bounds, normalizer
 * monotonicity, and the exact threshold selection against a sorted array
 * and Spark's `approxQuantile(…, 0.0)`. Raw scalacheck generators driven
 * from a fixed seed chain
 * (the scalatest-scalacheck bridge artifact isn't among the allowed
 * deps), so failures reproduce deterministically.
 */
class PropertySpec extends AnyFunSuite {

  private def samples[A](g: Gen[A], n: Int, seed: Long = 42L): Seq[A] = {
    val params = Gen.Parameters.default
    Iterator.iterate(Seed(seed))(_.next)
      .map(s => g.apply(params, s))
      .collect { case Some(a) => a }
      .take(n).toSeq
  }

  private val genTree: Gen[IFNode] = {
    def tree(depth: Int): Gen[IFNode] =
      if (depth <= 0) Gen.chooseNum(0L, 1000L).map(IFLeafNode)
      else Gen.frequency(
        1 -> Gen.chooseNum(0L, 1000L).map(IFLeafNode(_): IFNode),
        2 -> (for {
          l <- tree(depth - 1)
          r <- tree(depth - 1)
          f <- Gen.chooseNum(0, 7)
          v <- Gen.chooseNum(-100.0, 100.0)
        } yield IFInternalNode(l, r, f, v): IFNode))
    Gen.chooseNum(0, 6).flatMap(tree)
  }

  test("flatten then rebuild is the identity on arbitrary trees") {
    samples(genTree, 200).foreach { root =>
      val rows = NodeData.flatten(root).toArray
      assert(NodeData.rebuild(rows) === root)
      // pre-order ids are contiguous from 0
      assert(rows.map(_.id).sorted.toSeq === rows.indices.toSeq)
    }
  }

  test("FlatTree path length equals recursive ADT walk") {
    // a one-tree FlatForest is the flat layout of a single tree
    val genCase = for {
      root <- genTree
      vec <- Gen.containerOfN[Array, Double](8, Gen.chooseNum(-150.0, 150.0))
    } yield (root, vec)
    samples(genCase, 200).foreach { case (root, vec) =>
      val got = FlatForest(Array(root)).pathLengthSum(vec)
      val want = TreeOracle.pathLength(root, vec)
      assert(java.lang.Double.doubleToRawLongBits(got) ==
        java.lang.Double.doubleToRawLongBits(want), s"got $got, want $want")
    }
  }

  test("packed forest sum equals the tree-order sum of ADT walks, bit for bit") {
    // 1-9 trees, so numTrees % 4 takes every value; genTree mixes depths
    // 0-6, and depth 0 is a single-leaf tree
    val genForest = for {
      n <- Gen.chooseNum(1, 9)
      trees <- Gen.containerOfN[Array, IFNode](n, genTree)
    } yield trees
    val genValue = Gen.frequency(1 -> Gen.const(Double.NaN), 6 -> Gen.chooseNum(-150.0, 150.0))
    val genCase = for {
      trees <- genForest
      vecs <- Gen.containerOfN[Array, Array[Double]](5, Gen.containerOfN[Array, Double](8, genValue))
    } yield (trees, vecs)
    val cases = samples(genCase, 300)
    assert((1 to 9).forall(n => cases.exists(_._1.length == n)))
    assert(cases.exists(_._1.exists(_.isInstanceOf[IFLeafNode])))
    assert(cases.exists(_._1.forall(_.isInstanceOf[IFLeafNode])))
    assert(cases.exists(_._2.exists(_.exists(_.isNaN))))
    cases.foreach { case (trees, vecs) =>
      val forest = FlatForest(trees)
      assert(forest.numTrees == trees.length)
      assert(forest.minFeatures == trees.map(TreeOracle.maxFeature).max + 1)
      vecs.foreach { v =>
        val want = TreeOracle.pathLengthSum(trees, v)
        val got = forest.pathLengthSum(v)
        assert(java.lang.Double.doubleToRawLongBits(got) ==
          java.lang.Double.doubleToRawLongBits(want), s"got $got, want $want")
      }
      // a forest of single leaves splits on nothing and reads no feature
      if (forest.minFeatures == 0) {
        assert(forest.pathLengthSum(Array.empty[Double]) == TreeOracle.pathLengthSum(trees, Array()))
      }
    }
  }

  /** A one-column double frame with one partition per inner list; `None` is null. */
  private def scoreFrame(parts: Seq[Seq[Option[Double]]]): DataFrame = {
    val spark = SparkTestSession.spark
    spark.createDataFrame(
      spark.sparkContext.parallelize(parts, parts.size).flatMap(_.map(_.fold(Row(null))(Row(_)))),
      StructType(Seq(StructField("s", DoubleType))))
  }

  /** Spark jobs `body` runs, counted by a listener on a private job group. */
  private def jobsRun(sc: SparkContext)(body: => Unit): Int = {
    val group = s"property-jobs-${System.nanoTime()}"
    val started = new AtomicInteger
    val flushed = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties.getProperty("spark.jobGroup.id") == group) {
          if (e.properties.getProperty("spark.job.description") == "end") flushed.countDown()
          else started.incrementAndGet()
        }
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "counted")
    try {
      body
      // the bus is ordered: once the marker's start arrives, every earlier one has
      sc.setJobDescription("end")
      sc.parallelize(Seq(1), 1).count()
      assert(flushed.await(30, TimeUnit.SECONDS))
      started.get
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  test("exact threshold selection equals a sorted-array oracle and approxQuantile(…, 0.0), bit for bit") {
    def bits(d: Double) = java.lang.Double.doubleToRawLongBits(d)
    /** Checks every contamination, plus the ones giving k = 1 and k = n and one
      * close enough to 0 that Spark reads the max; the given ones also with a
      * cap and a sample size small enough to re-bracket. */
    def check(parts: Seq[Seq[Option[Double]]], cs: Seq[Double]): Unit = {
      val df = scoreFrame(parts)
      val sorted = parts.flatten.flatten.filterNot(_.isNaN).sorted.toArray
      val n = sorted.length
      val all = if (n == 0) cs else cs ++ Seq(1 - 0.5 / n, 0.5 / n, 1e-12)
      val fromGk = df.stat.approxQuantile("s", all.map(1 - _).toArray, 0.0)
      if (n == 0) {
        assert(fromGk.isEmpty && ExactQuantile(df, 0.5).isNaN)
      } else {
        all.zip(fromGk).foreach { case (c, fromSpark) =>
          val q = 1 - c
          val oracle = sorted((math.ceil(q * n).toLong.max(1L).min(n.toLong) - 1).toInt)
          val label = s"c=$c n=$n parts=${parts.map(_.size)}"
          assert(bits(fromSpark) == bits(oracle), label)
          assert(bits(ExactQuantile(df, q)) == bits(oracle), label)
          if (cs.contains(c)) {
            assert(bits(ExactQuantile(df, q, cap = 4, sampleSize = 8)) == bits(oracle), label)
          }
        }
        assert(ExactQuantile.rank(0.5 / n, n) == 1 && ExactQuantile.rank(1 - 0.5 / n, n) == n)
      }
    }

    // scores in (0, 1] from a pool of 1-1000 values (ties at every rank when
    // small), 1 in 14 null and 1 in 14 NaN, 1-6 partitions of skewed sizes
    val genCase = for {
      poolSize <- Gen.oneOf(1, 2, 3, 40, 1000)
      pool <- Gen.listOfN(poolSize, Gen.chooseNum(1, 1000000).map(_ / 1e6))
      score = Gen.frequency(1 -> Gen.const(None), 1 -> Gen.const(Some(Double.NaN)),
        12 -> Gen.oneOf(pool).map(Some(_)))
      numParts <- Gen.chooseNum(1, 6)
      sizes <- Gen.listOfN(numParts,
        Gen.frequency(2 -> Gen.const(0), 3 -> Gen.chooseNum(1, 5), 3 -> Gen.chooseNum(20, 200)))
      parts <- Gen.sequence[List[List[Option[Double]]], List[Option[Double]]](
        sizes.map(Gen.listOfN(_, score)))
      c <- Gen.chooseNum(0.001, 0.5)
    } yield (parts, c)
    val cases = samples(genCase, 16, seed = 7L)
    assert(cases.exists(_._1.exists(_.isEmpty)))
    assert(cases.exists(_._1.flatten.exists(_.isEmpty)))
    assert(cases.exists(_._1.flatten.exists(_.exists(_.isNaN))))
    cases.foreach { case (parts, c) => check(parts, Seq(c)) }

    val cs = Seq(0.004, 0.05, 0.1, 0.3)
    check(Seq(Seq(Some(0.7)), Seq(), Seq(None, Some(Double.NaN))), cs)
    check(Seq(Seq.fill(50)(Some(0.5)), Seq.fill(30)(Some(0.5)), Seq()), cs)
    check(Seq(Seq(), Seq(None)), cs)
    // a run of 0.5 split over two partitions, with neighbours on both sides:
    // k at its first copy, inside it, at its last copy and just past it
    // (k = 11, 25, 40 and 41 of 50)
    val tied = Seq(Seq.fill(10)(Some(0.25)) ++ Seq.fill(12)(Some(0.5)),
      Seq.fill(18)(Some(0.5)) ++ Seq.fill(10)(Some(0.75)))
    check(tied, Seq(0.79, 0.5, 0.21, 0.19))

    // partitions larger than the sample size: by default the first bracket
    // is collected (2 jobs); with a cap of 4 it is sampled instead and
    // bracketed again, in further jobs
    val rng = new scala.util.Random(13)
    val big = Seq.fill(3)(Seq.fill(3000)(Some((rng.nextInt(1000000) + 1) / 1e6)))
    val df = scoreFrame(big)
    val sorted = big.flatten.flatten.sorted.toArray
    for (c <- Seq(0.004, 0.05); capped <- Seq(false, true)) {
      var got = Double.NaN
      val jobs = jobsRun(SparkTestSession.spark.sparkContext) {
        got =
          if (capped) ExactQuantile(df, 1 - c, cap = 4, sampleSize = 8) else ExactQuantile(df, 1 - c)
      }
      assert(if (capped) jobs >= 3 else jobs == 2, s"c=$c capped=$capped: $jobs jobs")
      assert(bits(got) == bits(sorted(math.ceil((1 - c) * sorted.length).toInt - 1)),
        s"c=$c capped=$capped")
    }
  }

  test("scores stay in (0, 1] and decrease with path length") {
    val genCase = for {
      len <- Gen.chooseNum(0.0, 100.0)
      norm <- Gen.chooseNum(0.5, 50.0)
    } yield (len, norm)
    samples(genCase, 500).foreach { case (len, norm) =>
      val s = IsolationMath.score(len, norm)
      assert(s > 0.0 && s <= 1.0)
      assert(IsolationMath.score(len + 1.0, norm) < s)
    }
  }

  test("avgLength: anchors and monotonicity") {
    assert(IsolationMath.avgLength(0.0) === 0.0)
    assert(IsolationMath.avgLength(1.0) === 0.0)
    assert(IsolationMath.avgLength(2.0) === 1.0)
    samples(Gen.chooseNum(3.0, 1e6), 500).foreach { n =>
      assert(IsolationMath.avgLength(n + 1.0) > IsolationMath.avgLength(n))
      // c(n) grows like 2 ln n - sublinear, far below n
      assert(IsolationMath.avgLength(n) < n)
    }
  }
}

/** Naive recursive scoring over the tree ADT: the oracle for [[FlatForest]]. */
object TreeOracle {
  def pathLength(node: IFNode, v: Array[Double], depth: Int = 0): Double = node match {
    case leaf: IFLeafNode => depth + IsolationMath.avgLength(leaf.numInstance.toDouble)
    case in: IFInternalNode =>
      if (v(in.featureIndex) < in.featureValue) pathLength(in.left, v, depth + 1)
      else pathLength(in.right, v, depth + 1)
  }

  /** Per-tree path lengths added in tree order. */
  def pathLengthSum(trees: Array[IFNode], v: Array[Double]): Double =
    trees.foldLeft(0.0)((sum, t) => sum + pathLength(t, v))

  /** Largest feature index a split tests, -1 for a single leaf. */
  def maxFeature(node: IFNode): Int = node match {
    case _: IFLeafNode => -1
    case in: IFInternalNode =>
      math.max(in.featureIndex, math.max(maxFeature(in.left), maxFeature(in.right)))
  }
}
