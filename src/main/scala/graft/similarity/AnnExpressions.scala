package graft.similarity

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType}

/**
 * Native Catalyst expressions for ANN bucket assignment.
 *
 * These replace the last two ScalaUDFs on any hot path (the LSH/IVF
 * index-build and probe-fanout assignments). A ScalaUDF here pays, per
 * corpus row: a catalyst→Scala converter that materializes a boxed
 * `Seq[Double]`, an opaque call that fences whole-stage codegen, and a
 * Scala→catalyst converter back for the result array. At index-build
 * scale this runs once per corpus row — exactly the place deser/boxing
 * cost matters. Both expressions participate in codegen via [[doGenCode]]
 * (one bulk `toDoubleArray` copy, primitive loops, no boxing) following
 * the [[graft.iforest.IForestScore]] pattern: the planes/centroids travel
 * as a [[Broadcast]] handle, so the expression serialized into the task
 * binary is a few bytes and executors fetch the table blocks once.
 *
 * Assignment math is delegated to the same private kernels the former
 * UDFs used ([[AnnLsh.bucketOf]]/[[AnnLsh.probeSequence]],
 * [[AnnIvf.unitNorm]]/[[AnnIvf.nearestLists]]), so assignments are
 * bit-identical and the ModulesSpec recall gates are unaffected.
 */

/**
 * Bucket ids for a vector across `numTables` LSH tables, as
 * `table * 2^numPlanes + bucket` so tables never collide.
 *
 * `probesPerTable == 1`: index side — the vector's own bucket per table
 * (one entry per table). `probesPerTable > 1`: probe side — each table's
 * margin-ordered probe sequence (Lv et al.'s query-directed probing),
 * taken one of two ways:
 *
 *  - no `bcCounts` (the default): a FIXED per-table quota — each table
 *    emits exactly its `probesPerTable` cheapest buckets (fewer when the
 *    quota exceeds the 2^numPlanes lattice).
 *  - `bcCounts != null`: OCCUPANCY-BUDGETED probing — the candidate
 *    buckets of all tables merge cheapest-flip-first (own buckets, cost
 *    0, lead), and are taken greedily while the running sum of their
 *    OCCUPANCY (looked up in the broadcast per-bucket count array) stays
 *    within `poolBudget` rows; empty buckets and buckets that would
 *    overflow the remaining budget are skipped, the walk continuing to
 *    cheaper-than-nothing smaller buckets behind them. This turns the
 *    id-only pre-vote pool — the dominant scale term once collision
 *    voting prunes the SCORED pool — from an emergent number into a
 *    HARD PER-PROBE BOUND, and spends that bound in neighbor-likelihood
 *    order instead of letting a handful of mega-buckets (dense regions
 *    of the corpus hash there AND the query's margins are often tight
 *    there too) eat most of it. The count array is sized by the lattice
 *    (`numTables * 2^numPlanes` longs), not the corpus, so the broadcast
 *    stays sub-MB at any data scale. `probesPerTable` becomes the
 *    per-table ENUMERATION cap for the merge.
 *
 * Why the quota is fixed per table: a global merge of the same
 * `numTables * probesPerTable` buckets, cheapest-flip-first across
 * tables, lost to it on BOTH recall and scan at every swept point
 * (TUNE_r9.txt, the committed AnnTune grid; 25 probes, sf0.001, e.g.
 * planes=10 tables=6 probes=64: fixed 0.808 recall@5 at 0.333 scan vs
 * merged 0.760 at 0.339). Concentrating the budget in one low-margin
 * table buys duplicate candidates (tables hash the same vectors), while
 * a guaranteed per-table floor keeps the tables' independent-miss
 * product working. The occupancy budget merges across tables too, but
 * charges each bucket its true row cost, so one table hogging the budget
 * with duplicate candidates pays for them and the greedy walk
 * self-corrects; the own bucket of every table, at cost 0, still leads.
 */
case class LshBuckets(
    child: Expression,
    bcPlanes: Broadcast[Array[Array[Double]]],
    numTables: Int,
    numPlanes: Int,
    probesPerTable: Int,
    bcCounts: Broadcast[Array[Long]] = null,
    poolBudget: Long = 0L) extends UnaryExpression {

  @transient private lazy val planes: Array[Array[Double]] = bcPlanes.value

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  override def prettyName: String =
    if (probesPerTable == 1) "lsh_index_buckets" else "lsh_probe_buckets"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName needs array<double>, got ${other.simpleString}")
  }

  /** Hot path — called from both interpreted eval and generated code. */
  def bucketsOf(a: ArrayData): ArrayData = {
    val vec = a.toDoubleArray()
    val ps = planes
    val tableSpan = 1 << numPlanes
    if (probesPerTable == 1) {
      val out = new Array[Int](numTables)
      var t = 0
      while (t < numTables) {
        out(t) = t * tableSpan + AnnLsh.bucketOf(vec, ps, t * numPlanes, numPlanes)
        t += 1
      }
      new GenericArrayData(out)
    } else if (bcCounts != null) {
      // Occupancy-budgeted: merge every table's margin-ordered candidates
      // cheapest-first, then take greedily
      // while the summed bucket occupancy fits poolBudget. Empty buckets
      // carry no candidates and are dropped; a bucket that would overflow
      // the REMAINING budget is skipped, not a stopping point — smaller
      // buckets further down the margin order can still fit (greedy
      // knapsack fill). The numTables own buckets all have flip cost 0 and
      // so lead the merged order: each table keeps its own bucket while
      // budget lasts, preserving the independent-miss product the fixed
      // quota existed to protect.
      // Counts and the budget are Long end to end: a bucket (or a budget of
      // poolFrac * corpusN rows) past 2^31 would wrap an Int count negative
      // (bucket silently dropped) or to a small positive (undercharging the
      // greedy walk) — either way breaking the hard per-probe bound that is
      // this mode's whole point at exactly the data scale it exists for.
      val counts = bcCounts.value
      val cap = math.min(probesPerTable, tableSpan)
      val all = new Array[(Double, Int)](numTables * cap)
      var n = 0
      var t = 0
      while (t < numTables) {
        val dots = AnnLsh.projections(vec, ps, t * numPlanes, numPlanes)
        val seq = AnnLsh.probeSequenceWithCosts(dots, cap)
        var i = 0
        while (i < seq.length) {
          all(n) = (seq(i)._1, t * tableSpan + seq(i)._2)
          n += 1
          i += 1
        }
        t += 1
      }
      val merged = java.util.Arrays.copyOf(all, n)
      java.util.Arrays.sort(merged, Ordering.Tuple2[Double, Int].asInstanceOf[java.util.Comparator[(Double, Int)]])
      val out = new Array[Int](n)
      var acc = 0L
      var m = 0
      var i = 0
      while (i < merged.length) {
        val tb = merged(i)._2
        val c = counts(tb)
        if (c > 0 && acc + c <= poolBudget) {
          out(m) = tb
          m += 1
          acc += c
        }
        i += 1
      }
      new GenericArrayData(java.util.Arrays.copyOf(out, m))
    } else {
      // Fixed per-table quota: each table emits exactly its probesPerTable
      // cheapest buckets (fewer when the quota exceeds the 2^numPlanes
      // lattice). Measured better than a global merge — see class doc.
      val perTable = math.min(probesPerTable, tableSpan)
      val out = new Array[Int](numTables * perTable)
      var n = 0
      var t = 0
      while (t < numTables) {
        val dots = AnnLsh.projections(vec, ps, t * numPlanes, numPlanes)
        val seq = AnnLsh.probeSequence(dots, perTable)
        var i = 0
        while (i < seq.length) {
          out(n) = t * tableSpan + seq(i)
          n += 1
          i += 1
        }
        t += 1
      }
      new GenericArrayData(if (n == out.length) out else java.util.Arrays.copyOf(out, n))
    }
  }

  override protected def nullSafeEval(input: Any): Any =
    bucketsOf(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, f => {
      val ref = ctx.addReferenceObj("lshBuckets", this, classOf[LshBuckets].getName)
      s"${ev.value} = $ref.bucketsOf($f);"
    })

  override protected def withNewChildInternal(newChild: Expression): LshBuckets =
    copy(child = newChild)
}

/**
 * Indices of the `nprobe` nearest IVF centroids for a vector (euclidean on
 * the unit sphere — the vector is unit-normalized inside, matching the
 * fit-side normalization bit-for-bit). `nprobe == 1` is the corpus-side
 * list assignment (callers take `element_at(..., 1)`).
 */
case class IvfLists(
    child: Expression,
    bcCentroids: Broadcast[Array[Array[Double]]],
    nprobe: Int) extends UnaryExpression {

  @transient private lazy val centroids: Array[Array[Double]] = bcCentroids.value

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  override def prettyName: String = "ivf_lists"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"ivf_lists needs array<double>, got ${other.simpleString}")
  }

  /** Hot path — called from both interpreted eval and generated code. */
  def listsOf(a: ArrayData): ArrayData = {
    val en = AnnIvf.unitNorm(a.toDoubleArray())
    new GenericArrayData(AnnIvf.nearestLists(centroids, en, nprobe))
  }

  override protected def nullSafeEval(input: Any): Any =
    listsOf(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, f => {
      val ref = ctx.addReferenceObj("ivfLists", this, classOf[IvfLists].getName)
      s"${ev.value} = $ref.listsOf($f);"
    })

  override protected def withNewChildInternal(newChild: Expression): IvfLists =
    copy(child = newChild)
}
