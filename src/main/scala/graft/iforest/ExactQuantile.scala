package graft.iforest

import java.util.Arrays

import scala.annotation.tailrec

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/**
 * Exact `q`-quantile of a one-column double [[DataFrame]] by distributed
 * selection, bit for bit what `approxQuantile(col, Array(q), 0.0)` returns:
 * nulls and NaNs are dropped, and the result is the value at 1-based rank
 * [[rank]]`(q, n)` (`ceil(q * n)`) among the `n` values left. At relative
 * error 0 Spark's GK summary keeps every value (`g = 1, delta = 0`) and
 * merges them all in one task; here only the values near that rank reach
 * the driver. (The summary keeps every value only below 2^30 values; past
 * that `approxQuantile` itself turns approximate, and this stays exact.)
 *
 *  1. One job sorts each partition's values into a primitive array, caches
 *     it, and returns its count and at most `sampleSize` evenly spaced
 *     order statistics (both ends included).
 *  1. From those rank-indexed samples the driver picks a bracket
 *     `[lo, hi]` that must hold the k-th value.
 *  1. A second job binary-searches the cached arrays and returns, per
 *     partition, the count at or under `lo` and the values strictly inside
 *     the bracket: all of them when the samples bound their number by
 *     `cap`, else `sampleSize` order statistics of them, which the driver
 *     brackets again.
 *
 * Driver memory stays O(`cap` + `sampleSize` × partitions) whatever `n` is.
 * The cached arrays are unpersisted on the way out, also when a job fails.
 */
private[iforest] object ExactQuantile {
  val SampleSize = 1024
  val Cap = 1 << 20

  /** One partition's sorted values strictly inside the current bracket:
    * `below` lie under it, `size` inside, and `values` are all of those or
    * order statistics of them. The count bounds hold for `v` in the
    * bracket. */
  private final case class Slice(below: Int, size: Int, values: Array[Double]) {
    private def pos(j: Int): Int = below + offset(j, size, values.length)
    /** Lower bound on the partition's count of values `<= v`. */
    def countLe(v: Double): Int = {
      val i = firstIndex(0, values.length)(values(_) > v)
      if (i == 0) below else pos(i - 1) + 1
    }
    /** Upper bound on the partition's count of values `< v`. */
    def countLt(v: Double): Int = {
      val i = firstIndex(0, values.length)(values(_) >= v)
      if (i == values.length) below + size else pos(i)
    }
  }

  /** Smallest `i` in `[from, until)` with `p(i)`, or `until`; `p` monotone. */
  private def firstIndex(from: Int, until: Int)(p: Int => Boolean): Int = {
    var l = from
    var h = until
    while (l < h) {
      val m = (l + h) >>> 1
      if (p(m)) h = m else l = m + 1
    }
    l
  }

  /** Offset of the `j`-th of `m` evenly spaced picks from `size` values. */
  private def offset(j: Int, size: Int, m: Int): Int =
    if (m <= 1) 0 else (j.toLong * (size - 1) / (m - 1)).toInt

  private def spaced(a: Array[Double], from: Int, until: Int, sampleSize: Int): Array[Double] = {
    val m = math.min(until - from, sampleSize)
    Array.tabulate(m)(j => a(from + offset(j, until - from, m)))
  }

  /** 1-based rank of the `q`-quantile of `n` values as Spark's GK summary
    * reads it at `approxQuantile`'s relative error 0 (accuracy
    * `Int.MaxValue`): `ceil(q * n)`, except that a `q` within
    * `1 / Int.MaxValue` of 0 or 1 takes the min or the max. */
  private[iforest] def rank(q: Double, n: Long): Long = {
    val eps = 1.0 / Int.MaxValue
    if (q <= eps) 1L else if (q >= 1 - eps) n else math.min(n, math.ceil(q * n).toLong)
  }

  /** The `q`-quantile of `scores`' only column, NaN when it holds no
    * non-null, non-NaN value. `cap` and `sampleSize` (at least 2) are open
    * to tests, which force bracket rounds with small values. */
  private[iforest] def apply(
      scores: DataFrame, q: Double, cap: Int = Cap, sampleSize: Int = SampleSize): Double = {
    require(sampleSize >= 2, s"sampleSize must be at least 2, got $sampleSize")
    val sc = scores.sparkSession.sparkContext
    val sorted = scores.queryExecution.toRdd.mapPartitions { rows =>
      var buf = new Array[Double](1024)
      var n = 0
      rows.foreach { r =>
        if (!r.isNullAt(0) && !r.getDouble(0).isNaN) {
          if (n == buf.length) buf = Arrays.copyOf(buf, 2 * n)
          buf(n) = r.getDouble(0)
          n += 1
        }
      }
      val a = Arrays.copyOf(buf, n)
      Arrays.sort(a)
      Iterator.single(a)
    }.persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val first = sc.runJob(sorted, (it: Iterator[Array[Double]]) => {
        val a = it.next()
        Slice(0, a.length, spaced(a, 0, a.length, sampleSize))
      })
      val n = first.map(_.size.toLong).sum
      val k = rank(q, n)
      // invariant: sum(below) < k <= sum(below + size)
      @tailrec def select(slices: Array[Slice]): Double = {
        val cands = slices.flatMap(_.values)
        Arrays.sort(cands)
        def le(v: Double) = slices.map(_.countLe(v).toLong).sum
        def lt(v: Double) = slices.map(_.countLt(v).toLong).sum
        val hi = cands(firstIndex(0, cands.length)(i => le(cands(i)) >= k))
        val lo = cands(firstIndex(0, cands.length)(i => lt(cands(i)) >= k) - 1)
        if (lo == hi) lo
        else {
          val all = slices.map(s => math.max(0, s.countLt(hi) - s.countLe(lo)).toLong).sum <= cap
          val next = sc.runJob(sorted, (it: Iterator[Array[Double]]) => {
            val a = it.next()
            val from = firstIndex(0, a.length)(a(_) > lo)
            val until = firstIndex(from, a.length)(a(_) >= hi)
            Slice(from, until - from,
              if (all) Arrays.copyOfRange(a, from, until) else spaced(a, from, until, sampleSize))
          })
          val below = next.map(_.below.toLong).sum
          if (k <= below) lo
          else if (k > below + next.map(_.size.toLong).sum) hi
          else select(next)
        }
      }
      if (n == 0) Double.NaN else select(first)
    } finally sorted.unpersist(blocking = false)
  }
}
