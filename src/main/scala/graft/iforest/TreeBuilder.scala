package graft.iforest

import scala.util.Random

/**
 * Driver-side sampling utilities and the per-executor recursive iTree
 * builder. Semantics follow the reference algorithm (reference:
 * IForest.scala:404-656) with two deliberate fixes noted in SURVEY §2.1:
 * the bootstrap bound is exclusive (#16), and constant-feature handling is
 * re-derived rather than translated.
 *
 * Scale note (100 TB posture): sampling draws k row-ids out of [0, total)
 * in O(k) time and memory via Floyd's algorithm — the reference's
 * reservoir pass iterates the whole id range on the driver, which is O(n)
 * and would not survive 1e11 rows. Everything here is bounded by
 * numTrees * maxSamples, independent of dataset size.
 */
object TreeBuilder {

  /** Uniform long in [0, bound), deterministic under the rng's seed. */
  private def nextLong(rng: Random, bound: Long): Long = {
    val v = (rng.nextDouble() * bound).toLong
    if (v >= bound) bound - 1 else v
  }

  /**
   * Sample `k` row ids from [0, total). With replacement when `bootstrap`
   * (reference: IForest.scala:414-436, minus the inclusive-bound quirk);
   * otherwise k distinct ids via Floyd's O(k) algorithm (replaces the
   * reference's O(total) reservoir pass, IForest.scala:857-893).
   */
  def sampleIndices(bootstrap: Boolean, k: Int, total: Long, rng: Random): Array[Long] = {
    if (bootstrap) {
      Array.fill(k)(nextLong(rng, total))
    } else if (k >= total) {
      Array.tabulate(total.toInt)(_.toLong)
    } else {
      val chosen = new scala.collection.mutable.LinkedHashSet[Long]
      var j = total - k
      while (j < total) {
        val t = nextLong(rng, j + 1)
        if (!chosen.add(t)) chosen.add(j)
        j += 1
      }
      chosen.toArray
    }
  }

  /**
   * Per-tree feature subsample. Returns the projected data matrix plus the
   * map from local column position back to the original feature index
   * (reference: IForest.scala:558-588).
   */
  def sampleFeatures(
      data: Array[Array[Double]],
      maxFeatures: Double,
      rng: Random): (Array[Array[Double]], Array[Int]) = {
    val numFeatures = data.head.length
    val subFeatures =
      if (maxFeatures > 1) math.min(maxFeatures.toInt, numFeatures)
      else math.max(1, (maxFeatures * numFeatures).toInt)
    if (subFeatures >= numFeatures) {
      (data, Array.tabulate(numFeatures)(identity))
    } else {
      val idx = rng.shuffle((0 until numFeatures).toVector).take(subFeatures).sorted.toArray
      (data.map(row => idx.map(row)), idx)
    }
  }

  /**
   * Build one isolation tree. `featureMap(i)` translates a local column
   * position to the original feature index recorded in the node, so scoring
   * indexes the full vector directly.
   *
   * Leaf conditions: depth cap reached, <=1 row, or all candidate features
   * constant. Split: random non-constant feature, uniform cut in (min, max);
   * left = `<`, right = `>=` (reference: IForest.scala:603-656). A feature
   * found constant at a node stays retired for the whole subtree (constant
   * at the parent implies constant at every descendant).
   */
  def buildTree(
      rows: Array[Array[Double]],
      maxDepth: Int,
      featureMap: Array[Int],
      rng: Random): IFNode = {
    val numFeatures = if (rows.isEmpty) 0 else rows.head.length
    grow(rows, 0, maxDepth, Array.tabulate(numFeatures)(identity), numFeatures, featureMap, rng)
  }

  private def grow(
      rows: Array[Array[Double]],
      depth: Int,
      maxDepth: Int,
      candidates: Array[Int],
      numCandidates: Int,
      featureMap: Array[Int],
      rng: Random): IFNode = {
    if (depth >= maxDepth || rows.length <= 1) return IFLeafNode(rows.length.toLong)
    var n = numCandidates
    while (n > 0) {
      val pick = rng.nextInt(n)
      val f = candidates(pick)
      var mn = Double.MaxValue
      var mx = -Double.MaxValue
      var i = 0
      while (i < rows.length) {
        val v = rows(i)(f)
        if (v < mn) mn = v
        if (v > mx) mx = v
        i += 1
      }
      if (!(mn < mx)) {
        // retire the constant feature for this subtree: swap-to-end. An
        // all-NaN column leaves mn/mx at ±MaxValue (mn > mx): it has no
        // cut to take either, so it retires too.
        candidates(pick) = candidates(n - 1)
        candidates(n - 1) = f
        n -= 1
      } else {
        val split = mn + rng.nextDouble() * (mx - mn)
        val (leftRows, rightRows) = rows.partition(_(f) < split)
        val leftChild = grow(leftRows, depth + 1, maxDepth, candidates.take(n), n, featureMap, rng)
        val rightChild = grow(rightRows, depth + 1, maxDepth, candidates.take(n), n, featureMap, rng)
        return IFInternalNode(leftChild, rightChild, featureMap(f), split)
      }
    }
    IFLeafNode(rows.length.toLong)
  }
}
