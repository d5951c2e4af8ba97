package graft.iforest

/**
 * Isolation-tree node ADT.
 *
 * Capability parity with the reference tree structure
 * (reference: IFNode.scala:3-22) re-expressed as Scala case classes so the
 * whole forest is trivially serializable/broadcastable.
 */
sealed abstract class IFNode extends Serializable

final case class IFInternalNode(
    left: IFNode,
    right: IFNode,
    featureIndex: Int,
    featureValue: Double) extends IFNode

final case class IFLeafNode(numInstance: Long) extends IFNode

/**
 * Flattened tree row for persistence. Pre-order ids; leaf sentinel is
 * `featureIndex = -1` with child ids `-1` (layout parity with the
 * reference's parquet model format, reference: IForest.scala:189-228, so
 * saved models stay interchangeable).
 */
final case class NodeData(
    id: Int,
    featureIndex: Int,
    featureValue: Double,
    leftChild: Int,
    rightChild: Int,
    numInstance: Long)

final case class EnsembleNodeData(treeID: Int, nodeData: NodeData)

object NodeData {

  /** Pre-order flatten of a pointer tree (reference: IForest.scala:207-217). */
  def flatten(root: IFNode): Seq[NodeData] = build(root, 0)._1

  private def build(node: IFNode, id: Int): (Seq[NodeData], Int) = node match {
    case leaf: IFLeafNode =>
      (Seq(NodeData(id, -1, 0.0, -1, -1, leaf.numInstance)), id)
    case internal: IFInternalNode =>
      val (leftRows, leftMax) = build(internal.left, id + 1)
      val (rightRows, rightMax) = build(internal.right, leftMax + 1)
      val row = NodeData(id, internal.featureIndex, internal.featureValue,
        id + 1, leftMax + 1, 0L)
      (row +: (leftRows ++ rightRows), rightMax)
  }

  /**
   * Re-link a flattened tree. Pre-order ids are contiguous and children have
   * strictly larger ids than parents, so a reverse pass can link children
   * before their parents (reference: IForest.scala:259-281).
   */
  def rebuild(data: Array[NodeData]): IFNode = {
    require(data.nonEmpty, "cannot rebuild a tree from zero nodes")
    val sorted = data.sortBy(_.id)
    val nodes = new Array[IFNode](sorted.length)
    var i = sorted.length - 1
    while (i >= 0) {
      val d = sorted(i)
      nodes(i) =
        if (d.featureIndex == -1) IFLeafNode(d.numInstance)
        else IFInternalNode(nodes(d.leftChild), nodes(d.rightChild),
          d.featureIndex, d.featureValue)
      i -= 1
    }
    nodes(0)
  }
}

/** Math kernel shared by training and scoring (Liu/Ting/Zhou, ICDM 2008). */
object IsolationMath {

  /** Euler–Mascheroni constant (reference: IForest.scala:171). */
  val EulerGamma: Double = 0.5772156649

  /**
   * Average path length c(n) of an unsuccessful BST search:
   * `2 * H(n-1) - 2 * (n-1) / n`, with `H(i) ~= ln(i) + gamma`.
   * 1.0 at n == 2; 0 below (reference: IForest.scala:151-158).
   */
  def avgLength(n: Double): Double =
    if (n > 2) 2 * (math.log(n - 1) + EulerGamma) - 2 * (n - 1) / n
    else if (n == 2) 1.0
    else 0.0

  /** Anomaly score `2 ^ (-avgPathLength / c(possibleMaxSamples))`. */
  def score(avgPathLength: Double, normFactor: Double): Double =
    math.pow(2, -avgPathLength / normFactor)
}

/**
 * The whole forest packed into flat arrays and walked with a fixed number
 * of branchless steps, four trees in lock-step.
 *
 * Node `i` of the concatenated forest has its children at `kids(2*i)`
 * (left) and `kids(2*i+1)` (right), its split in `feat(i)`/`thr(i)`, and,
 * if it is a leaf, its path length `depth + c(numInstance)` in
 * `leafVal(i)` — pre-computed once here instead of per row (the reference
 * recomputes it inside the scoring UDF for every row, reference:
 * IForest.scala:133-144 — hoisted per SURVEY §4). A leaf points to itself
 * in both child slots and splits on feature 0, so steps past it keep it in
 * place: tree `t` is walked from `root(t)` for exactly `depth(t)` (its
 * deepest leaf) steps with no exit test, and a group of four trees for the
 * largest of their four depths. One step is one compare feeding an index,
 * so the four walks' loads overlap instead of waiting on a mispredicted
 * branch each. NaN compares false and goes right, as in the reference.
 *
 * Leaf values are added in tree order, so the sum is bit-identical to
 * summing per-tree path lengths one tree at a time.
 */
final class FlatForest private (
    kids: Array[Int],
    feat: Array[Int],
    thr: Array[Double],
    leafVal: Array[Double],
    root: Array[Int],
    depth: Array[Int],
    val minFeatures: Int) extends Serializable {

  def numTrees: Int = root.length

  /** Sum over all trees, in tree order, of the path length of `v`. Reads
    * `v` at split features, and at 0 while a walk waits at a leaf, so
    * `v.length >= minFeatures` suffices: any split makes `minFeatures`
    * at least 1, and a forest of single leaves takes no steps. */
  def pathLengthSum(v: Array[Double]): Double = {
    var sum = 0.0
    var t = 0
    while (t + 4 <= root.length) {
      var a = root(t)
      var b = root(t + 1)
      var c = root(t + 2)
      var d = root(t + 3)
      var steps = math.max(math.max(depth(t), depth(t + 1)), math.max(depth(t + 2), depth(t + 3)))
      while (steps > 0) {
        a = kids(2 * a + (if (v(feat(a)) < thr(a)) 0 else 1))
        b = kids(2 * b + (if (v(feat(b)) < thr(b)) 0 else 1))
        c = kids(2 * c + (if (v(feat(c)) < thr(c)) 0 else 1))
        d = kids(2 * d + (if (v(feat(d)) < thr(d)) 0 else 1))
        steps -= 1
      }
      sum += leafVal(a)
      sum += leafVal(b)
      sum += leafVal(c)
      sum += leafVal(d)
      t += 4
    }
    while (t < root.length) {
      var a = root(t)
      var steps = depth(t)
      while (steps > 0) {
        a = kids(2 * a + (if (v(feat(a)) < thr(a)) 0 else 1))
        steps -= 1
      }
      sum += leafVal(a)
      t += 1
    }
    sum
  }
}

object FlatForest {
  def apply(trees: Array[IFNode]): FlatForest = {
    def size(n: IFNode): Int = n match {
      case _: IFLeafNode => 1
      case in: IFInternalNode => 1 + size(in.left) + size(in.right)
    }
    val n = trees.iterator.map(size).sum
    val kids = new Array[Int](2 * n)
    val feat = new Array[Int](n)
    val thr = new Array[Double](n)
    val leafVal = new Array[Double](n)
    val root = new Array[Int](trees.length)
    val depth = new Array[Int](trees.length)
    var next = 0
    var maxFeature = -1
    // pre-order ids; returns the node's id and records the tree's deepest leaf
    def put(node: IFNode, d: Int, t: Int): Int = {
      val id = next
      next += 1
      node match {
        case leaf: IFLeafNode =>
          kids(2 * id) = id
          kids(2 * id + 1) = id
          leafVal(id) = d + IsolationMath.avgLength(leaf.numInstance.toDouble)
          depth(t) = math.max(depth(t), d)
        case in: IFInternalNode =>
          feat(id) = in.featureIndex
          thr(id) = in.featureValue
          maxFeature = math.max(maxFeature, in.featureIndex)
          kids(2 * id) = put(in.left, d + 1, t)
          kids(2 * id + 1) = put(in.right, d + 1, t)
      }
      id
    }
    trees.indices.foreach(t => root(t) = put(trees(t), 0, t))
    new FlatForest(kids, feat, thr, leafVal, root, depth, maxFeature + 1)
  }
}
