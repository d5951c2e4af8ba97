package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, ByteType, DataType, DoubleType}

/**
 * Native codegen'd symmetric int8 quantization of an embedding vector:
 * `out(i) = floor(e(i) * 127 / max(maxabs(e), 1e-30))`, emitted as a TRUE
 * `array<tinyint>` — one byte per element through every shuffle, join
 * build side, and cached partition, 8x narrower than the double array it
 * replaces (4x narrower than float32 storage).
 *
 * WHY: at 100 TB the embedding column dominates similarity-search IO and
 * shuffle width, and — because cosine is scale-invariant — the per-vector
 * scale CANCELS in the ratio, so quantized cosine needs no dequantization
 * at all: cos_q(a, b) = dotq(a,b) / (|qa| * |qb|), computed directly on
 * the bytes by [[CosineSimilarityI8]]. The ranking degradation is
 * measured, not guessed (ModulesSpec: recall parity on both gated
 * corpora; overlap@10 1.000/0.980 vs exact brute force).
 *
 * WHY an expression and not a SQL HOF: the max-abs scale inside a
 * `transform(e, ...)` lambda is re-evaluated per ELEMENT (CollapseProject
 * inlines any hoisted scale column back into the lambda — dim^2 work per
 * row), and HOF lambdas evaluate interpreted. This is one fused two-pass loop (maxabs, then scale) in
 * whole-stage codegen. Same floor/greatest arithmetic as the DuckDB
 * oracle (the byte values equal the oracle's floor() doubles exactly —
 * both land in [-128, 127]), so q61's hash check covers it end to end.
 */
case class QuantizeVec(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(ByteType, containsNull = false)

  override def prettyName: String = "quantize_vec"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"quantize_vec needs array<double>, got ${other.simpleString}")
  }

  /** Hot path — called from both interpreted eval and generated code.
    *
    * Non-finite elements FAIL LOUD: a byte cannot carry NaN, so the
    * alternative is silently quantizing NaN/Infinity to 0 — a corrupt
    * vector that would rank normally (where the unquantized kernel and
    * the DuckDB oracle both NaN-poison the cosine). Data-quality
    * filtering belongs upstream; a 100 TB job should stop on poisoned
    * embeddings, not fold them into the neighbor lists. */
  def quantize(a: ArrayData): ArrayData = {
    val n = a.numElements()
    var maxAbs = 0.0
    var i = 0
    while (i < n) {
      val x = a.getDouble(i)
      if (java.lang.Double.isNaN(x) || java.lang.Double.isInfinite(x))
        throw new IllegalArgumentException(
          s"quantize_vec: non-finite element $x at index $i — clean the embedding upstream")
      val v = math.abs(x)
      if (v > maxAbs) maxAbs = v
      i += 1
    }
    val scale = 127.0 / math.max(maxAbs, 1e-30)
    val out = new Array[Byte](n)
    i = 0
    while (i < n) {
      // floor lands in [-128, 127]: |x| <= maxAbs bounds |x * scale| to
      // 127 up to one ulp, and floor of anything in (-128, 128) fits.
      out(i) = math.floor(a.getDouble(i) * scale).toByte
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  override protected def nullSafeEval(input: Any): Any =
    quantize(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, f => {
      val ref = ctx.addReferenceObj("quantizeVec", this, classOf[QuantizeVec].getName)
      s"${ev.value} = $ref.quantize($f);"
    })

  override protected def withNewChildInternal(newChild: Expression): QuantizeVec =
    copy(child = newChild)
}

object QuantizeVec {
  /** Register `quantize_vec` for SQL/expr use in the given session. */
  def register(spark: SparkSession): Unit =
    Registration.ensure(spark, "quantize_vec")(exprs => QuantizeVec(exprs(0)))
}

/**
 * Cosine similarity over two int8-quantized vectors (`array<tinyint>`),
 * computed directly on the bytes with long accumulators — no widening
 * materialization, no dequantization. Every intermediate sum is an exact
 * integer far below 2^53, so the final double division is bit-identical
 * to an oracle that runs the same arithmetic over floor()-valued doubles
 * (DuckDB's q61 form) — the hash check holds across representations.
 */
case class CosineSimilarityI8(left: Expression, right: Expression)
  extends BinaryExpression {

  override def dataType: DataType = DoubleType

  override def prettyName: String = "cosine_similarity_i8"

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(ByteType, _), ArrayType(ByteType, _)) => TypeCheckResult.TypeCheckSuccess
    case (l, r) => TypeCheckResult.TypeCheckFailure(
      s"cosine_similarity_i8 needs (array<tinyint>, array<tinyint>), got " +
        s"(${l.simpleString}, ${r.simpleString})")
  }

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0L
    var na = 0L
    var nb = 0L
    var i = 0
    while (i < n) {
      val xv = x.getByte(i).toLong
      val yv = y.getByte(i).toLong
      dot += xv * yv
      na += xv * xv
      nb += yv * yv
      i += 1
    }
    dot.toDouble / (math.sqrt(na.toDouble) * math.sqrt(nb.toDouble))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val x = ctx.freshName("x")
      val y = ctx.freshName("y")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |long $dot = 0L; long $na = 0L; long $nb = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  long $x = (long) $a.getByte($i);
         |  long $y = (long) $b.getByte($i);
         |  $dot += $x * $y; $na += $x * $x; $nb += $y * $y;
         |}
         |${ev.value} = ((double) $dot) /
         |  (java.lang.Math.sqrt((double) $na) * java.lang.Math.sqrt((double) $nb));
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSimilarityI8 =
    copy(left = newLeft, right = newRight)
}

object CosineSimilarityI8 {
  /** Register `cosine_similarity_i8` for SQL/expr use in the given session. */
  def register(spark: SparkSession): Unit =
    Registration.ensure(spark, "cosine_similarity_i8")(
      exprs => CosineSimilarityI8(exprs(0), exprs(1)))
}
