package graft.similarity

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, xxhash64}

/**
 * The k-means behind [[IvfTier]]'s coarse centroids, [[PqTier]]'s
 * sub-codebooks and [[IvfPqTier]]'s both: Lloyd's on the driver, over one
 * bounded sample of unit-normalized corpus rows. On the unit sphere
 * ||a-b||^2 = 2 - 2*cos(a, b), so the fit minimizes what the cosine
 * ranking needs. Centroids are plain means (not renormalized), as IVF-PQ's
 * residuals en − c(list) read them. The geometry is a pure function of
 * the corpus rows and the seed, whatever the file or partition layout.
 */
object AnnLloyd {

  /** Training rows per centroid: FAISS's cap (Jégou, Douze & Schmid,
    * TPAMI 2011) — past it more rows stop moving the centroids. */
  val perCentroid = 256

  /** Most rows one fit reads, whatever k (64 MB at dim 64): both gated
    * corpora fit whole; past k = 512 a fit trains on fewer rows per
    * centroid. It bounds driver memory, not fit time, which grows as
    * sample × k (TUNE_r23.txt: 193 s cold at k = 4,096 on 4 cores). */
  val maxSample: Int = perCentroid * 512

  /** Lloyd rounds after the k-means++ seeding (MLlib's maxIter default). */
  val rounds = 10

  /** Fitted geometries keyed by (dir, the fit's own knobs) and STAMPED
    * with the corpus parquet's [[graft.queries.Tables.dirStamp]], so a
    * corpus replaced under the same dir refits in place. A refit (one sample job plus ~0.6 s of arithmetic
    * for sf0.1's IVF) still costs more than a q49 probe. */
  private val fits =
    new java.util.concurrent.ConcurrentHashMap[(String, String), (String, Any)]()

  private[similarity] def clearFits(): Unit = fits.clear()

  /** The geometry `key` names (method and fit knobs, no probe-side ones)
    * on `dir`'s corpus, memoized: `fit` of a [[sample]] of [[perCentroid]]
    * rows per centroid of the largest codebook, at most [[maxSample]]. */
  private[similarity] def geometry[G](s: SparkSession, dir: String, key: String,
      centroids: Int)(fit: Array[Array[Double]] => G): G = {
    val sig = graft.queries.Tables.dirStamp(s, s"$dir/embeddings.parquet")
    fits.compute((dir, key), (_, prev) => if (prev != null && prev._1 == sig) prev
      else (sig, fit(sample(s, dir, math.min(maxSample, perCentroid * centroids)))))._2
      .asInstanceOf[G]
  }

  /** The `cap` rows of `dir`'s corpus of smallest xxhash64(vec_id) (ties
    * by vec_id; all of them for a smaller corpus), in vec_id order, each
    * through [[AnnIvf.unitNorm]] as every encode and probe is. The rule
    * reads only vec_ids, so the sample does not depend on the split. */
  private[similarity] def sample(s: SparkSession, dir: String, cap: Int): Array[Array[Double]] = {
    import s.implicits._
    val rows = graft.JobPhase(s.sparkContext, "ann:fit:sample") {
      AnnTier.vectors(s, dir).orderBy(xxhash64(col("vec_id")), col("vec_id")).limit(cap)
        .as[(Long, Array[Double])].collect()
    }
    require(rows.nonEmpty, s"no vectors to fit an ANN geometry on in $dir")
    rows.sortBy(_._1).map(r => AnnIvf.unitNorm(r._2))
  }

  /** `f(i)` for i in [0, n) on the driver's cores; each i owns its slot. */
  private def forEach(n: Int)(f: Int => Unit): Unit =
    java.util.stream.IntStream.range(0, n).parallel().forEach(i => f(i))

  /** `k` centroids for the `w`-wide slice at `off` of every point:
    * k-means++ seeding from `seed` (a uniform draw once every point sits
    * on a seed), then at most [[rounds]] rounds of first-min assignment
    * ([[AnnIvf.nearest]], the rule of every encode and probe) and mean
    * update, stopping once no assignment moves; an emptied cluster keeps
    * its centroid. Distances run on the driver's cores, sums serially, so
    * the core count does not reach the centroids. */
  private[similarity] def fit(points: Array[Array[Double]], off: Int, w: Int, k: Int,
      seed: Long): Array[Array[Double]] = {
    val n = points.length
    val rnd = new java.util.Random(seed)
    def slice(i: Int) = java.util.Arrays.copyOfRange(points(i), off, off + w)
    val cs = new Array[Array[Double]](k)
    cs(0) = slice(rnd.nextInt(n))
    val d2 = Array.fill(n)(Double.PositiveInfinity)
    for (c <- 1 until k) {
      forEach(n)(i => d2(i) = math.min(d2(i), AnnIvf.dist2(cs(c - 1), points(i), off)))
      val total = d2.sum
      val r = rnd.nextDouble() * total
      var i = 0
      var acc = d2(0)
      while (acc <= r && i < n - 1) { i += 1; acc += d2(i) }
      cs(c) = slice(if (total > 0) i else rnd.nextInt(n))
    }
    val assign = Array.fill(n)(-1)
    val next = new Array[Int](n)
    var moved = true
    var round = 0
    while (moved && round < rounds) {
      forEach(n)(i => next(i) = AnnIvf.nearest(cs, points(i), off))
      moved = !java.util.Arrays.equals(assign, next)
      if (moved) {
        System.arraycopy(next, 0, assign, 0, n)
        val sums = Array.ofDim[Double](k, w)
        val counts = new Array[Int](k)
        for (i <- 0 until n) {
          counts(assign(i)) += 1
          var j = 0
          while (j < w) { sums(assign(i))(j) += points(i)(off + j); j += 1 }
        }
        for (c <- 0 until k if counts(c) > 0) cs(c) = sums(c).map(_ / counts(c))
      }
      round += 1
    }
    cs
  }
}
