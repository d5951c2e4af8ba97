package graft.iforest

import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/**
 * Property-based invariants of the tree codec and math kernel
 * (SURVEY §5's rebuild test plan): persistence round-trips on arbitrary
 * tree shapes, bit-equal forest scoring, score bounds, normalizer
 * monotonicity. Raw scalacheck generators driven from a fixed seed chain
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
