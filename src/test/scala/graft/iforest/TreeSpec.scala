package graft.iforest

import scala.util.Random

import org.scalatest.funsuite.AnyFunSuite

class TreeSpec extends AnyFunSuite {

  private def randomTree(rng: Random, depth: Int): IFNode =
    if (depth >= 5 || rng.nextInt(3) == 0) IFLeafNode(rng.nextInt(100).toLong)
    else IFInternalNode(randomTree(rng, depth + 1), randomTree(rng, depth + 1),
      rng.nextInt(10), rng.nextDouble() * 200 - 100)

  test("flatten then rebuild is identity (100 random trees)") {
    val rng = new Random(123)
    (0 until 100).foreach { _ =>
      val tree = randomTree(rng, 0)
      val flat = NodeData.flatten(tree)
      assert(flat.map(_.id).sorted == flat.indices)
      assert(NodeData.rebuild(flat.toArray) == tree)
    }
  }

  test("avgLength c(n) matches harmonic-sum definition") {
    assert(IsolationMath.avgLength(0) == 0.0)
    assert(IsolationMath.avgLength(1) == 0.0)
    assert(IsolationMath.avgLength(2) == 1.0)
    // definition uses H(i) ~= ln(i) + gamma; exact for the formula itself
    for (n <- Seq(3, 10, 256, 10000)) {
      val approx = 2 * (math.log(n - 1) + 0.5772156649) - 2.0 * (n - 1) / n
      assert(IsolationMath.avgLength(n) == approx)
    }
    // and the approximation converges to the exact harmonic sum for large n
    for (n <- Seq(256, 10000)) {
      val h = (1 until n).map(1.0 / _).sum
      val exact = 2 * h - 2.0 * (n - 1) / n
      assert(math.abs(IsolationMath.avgLength(n) - exact) < 5e-3,
        s"c($n): got ${IsolationMath.avgLength(n)}, want ~$exact")
    }
  }

  test("score formula: path length 0 -> 1.0; path c(n) -> 0.5") {
    val c = IsolationMath.avgLength(256)
    assert(IsolationMath.score(0.0, c) == 1.0)
    assert(math.abs(IsolationMath.score(c, c) - 0.5) < 1e-12)
  }

  test("sampleIndices without replacement: distinct, in range, deterministic") {
    val a = TreeBuilder.sampleIndices(bootstrap = false, 100, 1000000L, new Random(7))
    val b = TreeBuilder.sampleIndices(bootstrap = false, 100, 1000000L, new Random(7))
    assert(a.toSeq == b.toSeq)
    assert(a.distinct.length == 100)
    assert(a.forall(i => i >= 0 && i < 1000000L))
    // k == total degenerates to the full range
    val full = TreeBuilder.sampleIndices(bootstrap = false, 10, 10L, new Random(1))
    assert(full.sorted.toSeq == (0L until 10L))
  }

  test("sampleIndices bootstrap: in range, right size, bound exclusive") {
    val a = TreeBuilder.sampleIndices(bootstrap = true, 5000, 7L, new Random(3))
    assert(a.length == 5000)
    assert(a.forall(i => i >= 0 && i < 7))
  }

  test("sampleFeatures identity when subFeatures == numFeatures") {
    val data = Array(Array(1.0, 2.0, 3.0), Array(4.0, 5.0, 6.0))
    val (sampled, idx) = TreeBuilder.sampleFeatures(data, 1.0, new Random(1))
    assert(sampled eq data)
    assert(idx.toSeq == Seq(0, 1, 2))
  }

  test("sampleFeatures subsampling: shape and original-index mapping") {
    val data = Array.tabulate(20)(r => Array.tabulate(10)(c => r * 10.0 + c))
    val (sampled, idx) = TreeBuilder.sampleFeatures(data, 0.4, new Random(5))
    assert(idx.length == 4)
    assert(idx.distinct.length == 4)
    assert(idx.sorted.toSeq == idx.toSeq)
    assert(sampled.head.length == 4)
    for (c <- idx.indices) assert(sampled(3)(c) == data(3)(idx(c)))
  }

  test("buildTree isolates an obvious outlier quickly") {
    val rng = new Random(11)
    val rows = Array.tabulate(128)(_ => Array(rng.nextDouble(), rng.nextDouble())) :+
      Array(1000.0, 1000.0)
    val tree = TreeBuilder.buildTree(rows, 10, Array(0, 1), new Random(42))
    val forest = FlatForest(Array(tree))
    val outlierLen = forest.pathLengthSum(Array(1000.0, 1000.0))
    val inlierLen = forest.pathLengthSum(Array(0.5, 0.5))
    assert(outlierLen < inlierLen)
  }

  test("buildTree on constant data yields a single leaf") {
    val rows = Array.fill(50)(Array(3.0, 3.0))
    val tree = TreeBuilder.buildTree(rows, 10, Array(0, 1), new Random(1))
    assert(tree == IFLeafNode(50))
  }

  test("buildTree respects depth cap") {
    val rng = new Random(2)
    val rows = Array.tabulate(1024)(_ => Array(rng.nextDouble()))
    def depth(n: IFNode): Int = n match {
      case _: IFLeafNode => 0
      case i: IFInternalNode => 1 + math.max(depth(i.left), depth(i.right))
    }
    val tree = TreeBuilder.buildTree(rows, 3, Array(0), new Random(9))
    assert(depth(tree) <= 3)
  }

  test("FlatTree path length equals recursive walk over the ADT") {
    // a one-tree FlatForest is the flat layout of a single tree
    val rng = new Random(8)
    val rows = Array.tabulate(256)(_ => Array(rng.nextDouble(), rng.nextDouble(), rng.nextDouble()))
    val tree = TreeBuilder.buildTree(rows, 10, Array(0, 1, 2), new Random(13))
    val forest = FlatForest(Array(tree))
    (0 until 50).foreach { _ =>
      val v = Array(rng.nextDouble(), rng.nextDouble(), rng.nextDouble())
      assert(forest.pathLengthSum(v) == TreeOracle.pathLength(tree, v))
    }
  }

  test("buildTree retires an all-NaN feature instead of splitting it at -Inf or NaN") {
    def internals(n: IFNode): Seq[IFInternalNode] = n match {
      case _: IFLeafNode => Nil
      case i: IFInternalNode => i +: (internals(i.left) ++ internals(i.right))
    }
    for (seed <- 0 until 20) {
      val rng = new Random(seed)
      val rows = Array.fill(64)(Array(Double.NaN, rng.nextDouble()))
      val nodes = internals(TreeBuilder.buildTree(rows, 8, Array(0, 1), new Random(seed)))
      assert(nodes.nonEmpty, s"seed $seed: the finite feature was never split")
      for (n <- nodes)
        assert(n.featureIndex == 1 && java.lang.Double.isFinite(n.featureValue),
          s"seed $seed: split on feature ${n.featureIndex} at ${n.featureValue}")
    }
  }
}
