package graft.iforest

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.ml.linalg.SQLDataTypes
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, DoubleType}

/**
 * Native Catalyst expression for isolation-forest scoring.
 *
 * Replaces the scoring scalar UDF the reference uses (reference:
 * IForest.scala:92-99). A `ScalaUDF` pays, per row: a catalyst→Scala
 * converter that materializes an `ml.linalg.Vector`, a boxed `Double`
 * return, and an opaque function call that blocks whole-stage codegen.
 * This expression instead participates in codegen via [[doGenCode]]: the
 * generated projection calls [[scoreRow]] directly on the UDT's internal
 * struct (`(type tinyint, size int, indices array<int>, values
 * array<double>)`), extracts the dense values with one `arraycopy`, and
 * walks the packed [[FlatForest]] four trees at a time with branchless
 * steps — no Vector object, no boxing, no codegen fence.
 *
 * The forest travels as a [[Broadcast]] handle: the expression serialized
 * into the task binary is a few bytes, and executors fetch the (possibly
 * hundreds-of-MB at numTrees≫100) forest blocks once via torrent broadcast
 * — the scale-correct shipping path for a 1000-executor cluster.
 *
 * Scoring math is identical to the UDF it replaces (sum of per-tree path
 * lengths in tree order / numTrees, then `2^(-avg/c(n))`), so scores are
 * bit-identical; IForestSpec and PythonBridgeSpec pin that at 1e-12, and
 * PropertySpec pins the forest sum bit-equal to per-tree ADT walks.
 *
 * A vector shorter than [[FlatForest.minFeatures]] (1 + the largest
 * feature index any split tests) fails with both sizes named, instead of
 * failing inside the tree walk or, when its path misses that split,
 * scoring silently.
 */
case class IForestScore(
    child: Expression,
    bcForest: Broadcast[FlatForest],
    normFactor: Double) extends UnaryExpression {

  @transient private lazy val forest: FlatForest = bcForest.value

  override def dataType: DataType = DoubleType

  override def prettyName: String = "iforest_score"

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == SQLDataTypes.VectorType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"iforest_score needs a ${SQLDataTypes.VectorType.simpleString} column, " +
        s"got ${child.dataType.simpleString}")

  /** Hot path — called from both interpreted eval and generated code. */
  def scoreRow(row: InternalRow): Double = {
    val values = denseValues(row)
    val f = forest
    if (values.length < f.minFeatures) {
      throw new IllegalArgumentException(
        s"iforest_score: the forest splits on feature index ${f.minFeatures - 1}, " +
          s"so it needs vectors of size >= ${f.minFeatures}, got size ${values.length}")
    }
    IsolationMath.score(f.pathLengthSum(values) / f.numTrees, normFactor)
  }

  /**
   * VectorUDT internal layout: dense = (1, null, null, values);
   * sparse = (0, size, indices, values). Dense is one bulk copy
   * (`toDoubleArray` on an UnsafeArrayData of non-null doubles is a
   * single `arraycopy`); sparse scatters into a zeroed array.
   */
  private def denseValues(row: InternalRow): Array[Double] = {
    if (row.getByte(0) == 1) {
      row.getArray(3).toDoubleArray()
    } else {
      val out = new Array[Double](row.getInt(1))
      val idx = row.getArray(2)
      val vs = row.getArray(3)
      var i = 0
      val n = vs.numElements()
      while (i < n) {
        out(idx.getInt(i)) = vs.getDouble(i)
        i += 1
      }
      out
    }
  }

  override protected def nullSafeEval(input: Any): Any =
    scoreRow(input.asInstanceOf[InternalRow])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, f => {
      val ref = ctx.addReferenceObj("iforestScorer", this, classOf[IForestScore].getName)
      s"${ev.value} = $ref.scoreRow($f);"
    })

  override protected def withNewChildInternal(newChild: Expression): IForestScore =
    copy(child = newChild)
}
