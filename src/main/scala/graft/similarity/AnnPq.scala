package graft.similarity

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, ByteType, DataType, DoubleType}

/**
 * Product-quantization ANN (Jégou, Douze & Schmid, "Product Quantization
 * for Nearest Neighbor Search", TPAMI 2011) — the MEMORY-bound scale path
 * next to [[AnnLsh]] (hash pruning) and [[AnnIvf]] (partition pruning):
 * the embedding space splits into `m` orthogonal subspaces, each with its
 * own `k`-centroid codebook, and every corpus vector compresses to `m`
 * sub-centroid ids — at the shipped 16 subspaces × 16 codes, 16 BYTES
 * per vector against 256 bytes of raw floats (16×; 192× at dim 768). At
 * 100 TB of raw embeddings the codes table is the thing that still fits
 * in cluster memory, so the scan never touches the float column at all:
 *
 *  1. probe side precomputes one LOOKUP TABLE per query — the dot product
 *     of each query subvector with each sub-centroid (m × k doubles,
 *     [[PqLut]]) — so scoring a corpus row is m TABLE LOOKUPS
 *     ([[PqAdc]], asymmetric distance computation), not a dim-wide
 *     multiply: per-row cost drops dim/m-fold alongside the memory cut;
 *  2. the compressed exhaustive scan ranks every row by approximate dot
 *     and keeps the top `rerank` per probe through the same bounded
 *     [[graft.plans.TopKPerKey]] aggregation every ANN variant uses;
 *  3. only those `rerank` survivors (per probe — a broadcast-sized set)
 *     rehydrate their float vectors for EXACT cosine, which fixes the
 *     final order: ADC distortion decides who makes the pool, never the
 *     reported ranking.
 *
 * Like [[AnnIvf]], codebooks ([[AnnLloyd]]) and encodes use UNIT-NORMALIZED
 * vectors, so subspace dots sum to the cosine the final ranking maximizes:
 * Σ_m <q_m, x_m> = <q, x> = cos(q, x) on unit vectors, and the ADC
 * estimate substitutes x_m's sub-centroid — the standard inner-product
 * PQ estimator.
 *
 * The fits are deterministic but not an engine the DuckDB oracle has, so
 * (like the other ANN variants) q130 is rows-only for the driver;
 * ModulesSpec gates recall@5 against exhaustive brute force on BOTH
 * gated corpora, plus ADC-estimator sanity on the compressed scan.
 *
 * The PERSISTED tier is [[PqTier]] under [[AnnIndex]] (the q133
 * surface): codes are the assignments, codebooks the geometry, with
 * the same fingerprint staleness guard and meta-LAST crash bracket as
 * every tier; appends encode new vectors against the frozen codebooks
 * and REFUSE past [[AnnIndex.pqDriftBound]] (1.5×) — the bound is
 * MEASURED (TUNE_r14.txt pqdrift, the ivfdrift protocol): the 0.85
 * recall floor holds through +50% appended rows on both gated corpora
 * (0.888/0.880), thins at +100% (0.920/0.864) and breaks at +200%
 * (0.800); 1.5× is one notch conservative of the observed knee, the
 * same discipline as [[AnnIndex.ivfDriftBound]]'s 1.25×.
 */
object AnnPq {

  /** 16 subspaces × 16 codes: 16 bytes per vector at any dim (16× at the
    * sandbox dim 64; 192× at dim 768), one-byte ids, a 256-double LUT per
    * probe. Chosen by sweep (TUNE_r14.txt pq grids): m=8 (8 bytes, 32×)
    * needs a 2× deeper re-rank pool for ~5 recall points less on both
    * gated corpora — the halved codes don't pay for the doubled exact
    * scans on isotropic data. */
  val defaultM = 16
  val defaultK = 16

  /** Corpus-adaptive re-rank depth: n/16 (6.25% exact-scored), floor 64.
    * ADC distortion is CORPUS-SIZE-INDEPENDENT (fixed codebook geometry),
    * but the number of vectors whose true cosine lands inside the
    * distortion band around the top-k boundary grows linearly with n —
    * so a fixed pool decays with corpus growth (measured: rerank=64 is
    * 0.984 recall@5 on 500 vectors but 0.856 on 2000; n/16 holds
    * 0.984/0.960 — TUNE_r14.txt pq grids; 0.912/0.928 on the driver-side
    * fit, TUNE_r23.txt) and the honest default is a constant FRACTION,
    * mirroring AnnIvf's sqrt-occupancy rule. */
  private[similarity] def autoRerank(n: Long): Int =
    math.max(64L, n / 16L).toInt

  /** Per-subspace codebooks of `points` (unit-normalized rows) as
    * books(sub)(code) = centroid: subspace `sub` is the next dim/m
    * coordinates (the first dim % m subspaces one wider), fit by
    * [[AnnLloyd.fit]] from seed `seed + sub`. */
  private[similarity] def books(points: Array[Array[Double]], m: Int, k: Int,
      seed: Long): Array[Array[Array[Double]]] = {
    val dim = points(0).length
    var off = 0
    Array.tabulate(m) { sub =>
      val w = dim / m + (if (sub < dim % m) 1 else 0)
      val book = AnnLloyd.fit(points, off, w, k, seed + sub)
      off += w
      book
    }
  }

  /** Encode a unit-normalized vector: per subspace, the first-min nearest
    * sub-centroid ([[AnnIvf.nearest]]). */
  private[similarity] def encodeOf(
      books: Array[Array[Array[Double]]], en: Array[Double]): Array[Byte] = {
    val out = new Array[Byte](books.length)
    var off = 0
    var m = 0
    while (m < books.length) {
      out(m) = AnnIvf.nearest(books(m), en, off).toByte
      off += books(m)(0).length
      m += 1
    }
    out
  }

  /** Per-query ADC table: lut(m * k + c) = <q_m, books(m)(c)>. */
  private[similarity] def lutOf(
      books: Array[Array[Array[Double]]], en: Array[Double]): Array[Double] = {
    val k = books(0).length
    val out = new Array[Double](books.length * k)
    var off = 0
    var m = 0
    while (m < books.length) {
      val cents = books(m)
      val w = cents(0).length
      var c = 0
      while (c < cents.length) {
        val cent = cents(c)
        var d = 0.0
        var j = 0
        while (j < w) { d += cent(j) * en(off + j); j += 1 }
        out(m * k + c) = d
        c += 1
      }
      off += w
      m += 1
    }
    out
  }

  /** The per-query ADC lookup table of `e` over codebooks `books`. */
  private[similarity] def lut(s: SparkSession, books: Array[Array[Array[Double]]]): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(PqLut(ColumnBridge.expression(col("e")), s.sparkContext.broadcast(books)))
  }

  /** PQ codebooks as (sub_id, code_id, center) rows. */
  private[similarity] def bookRows(books: Array[Array[Array[Double]]])
      : IndexedSeq[(Int, Int, Seq[Double])] =
    for {
      (book, sub) <- books.toIndexedSeq.zipWithIndex
      (cent, code) <- book.toIndexedSeq.zipWithIndex
    } yield (sub, code, cent.toSeq)

  /** Codebook rows sorted by (sub_id, code_id), `k` per book, back to
    * books(sub)(code). */
  private[similarity] def booksOf(rows: Array[Array[Double]], m: Int, k: Int,
      what: String, path: String): Array[Array[Array[Double]]] = {
    require(rows.length == m * k,
      s"$what at $path has ${rows.length} sub-centroids, expected ${m * k}")
    rows.grouped(k).toArray
  }

  /** The ADC estimate column over `codes` and `lut`. */
  private[similarity] def adc(kCodes: Int): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(PqAdc(
      ColumnBridge.expression(col("codes")), ColumnBridge.expression(col("lut")), kCodes))
  }
}

/**
 * The PQ tier: the geometry is `m` sub-codebooks of `kCodes` centroids
 * each, model rows (sub_id, code_id, center); the assignments are the
 * m-byte code word per vector, (vec_id, codes array<tinyint>) — unlike
 * LSH/IVF the assignment IS the compressed representation the scan
 * reads, not a pointer into the corpus, and that table plus the
 * kilobyte codebooks is what still fits in cluster memory at 100 TB. The
 * re-rank depth resolves from the rows the codebooks were trained at
 * (metadata `trainedRows`), so an appended index keeps the pool it was
 * built with — exactly the decay [[AnnIndex.pqDriftBound]] bounds.
 * `rerank` is a live-only knob (0: [[AnnPq.autoRerank]]).
 */
final case class PqTier(
    m: Int = AnnPq.defaultM,
    kCodes: Int = AnnPq.defaultK,
    seed: Long = 4099L,
    rerank: Int = 0) extends AdcRerank {
  import org.json4s.JsonDSL._

  type Geometry = Array[Array[Array[Double]]]

  def method: String = "pq"

  def knobs: org.json4s.JObject = ("m" -> m) ~ ("k" -> kCodes) ~ ("seed" -> seed)

  def fit(s: SparkSession, dir: String, dim: => Int): Geometry =
    AnnLloyd.geometry(s, dir, s"pq m=$m k=$kCodes seed=$seed", kCodes)(
      AnnPq.books(_, m, kCodes, seed))

  def writeGeometry(s: SparkSession, path: String, books: Geometry): Unit = {
    import s.implicits._
    AnnTier.writeModel(path,
      s.createDataset(AnnPq.bookRows(books)).toDF("sub_id", "code_id", "center"))
  }

  def readGeometry(s: SparkSession, path: String): Geometry =
    AnnPq.booksOf(s.read.parquet(s"$path/model").collect()
      .sortBy(r => (r.getInt(0), r.getInt(1))).map(_.getSeq[Double](2).toArray),
      m, kCodes, "PQ model", path)

  def encode(s: SparkSession, books: Geometry, rows: DataFrame): DataFrame = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val bc = s.sparkContext.broadcast(books)
    rows.select(col("vec_id"),
      ColumnBridge.column(PqCodes(ColumnBridge.expression(col("e")), bc)).as("codes"))
  }

  def scan(s: SparkSession, books: Geometry, emb: DataFrame, codes: DataFrame,
      numProbes: Int): DataFrame =
    broadcast(emb.filter(col("vec_id") < numProbes)
        .select(col("vec_id").as("q_id"), AnnPq.lut(s, books).as("lut")))
      .crossJoin(codes)
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("neighbor_id"), AnnPq.adc(kCodes).as("adc"))

  override def driftBound: Option[(Double, String)] = Some((AnnIndex.pqDriftBound,
    "recall decays past the measured knee (TUNE_r14.txt pqdrift)"))
}

/** PQ codes for a vector (unit-normalized inside, like [[IvfLists]]):
  * array<tinyint> of length m — the m-byte compressed representation
  * (16 bytes at the shipped defaultM). */
case class PqCodes(
    child: Expression,
    bcBooks: Broadcast[Array[Array[Array[Double]]]]) extends UnaryExpression {

  @transient private lazy val books = bcBooks.value

  override def dataType: DataType = ArrayType(ByteType, containsNull = false)
  override def prettyName: String = "pq_codes"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"pq_codes needs array<double>, got ${other.simpleString}")
  }

  def codesOf(a: ArrayData): ArrayData =
    new GenericArrayData(AnnPq.encodeOf(books, AnnIvf.unitNorm(a.toDoubleArray())))

  override protected def nullSafeEval(input: Any): Any =
    codesOf(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, f => {
      val ref = ctx.addReferenceObj("pqCodes", this, classOf[PqCodes].getName)
      s"${ev.value} = $ref.codesOf($f);"
    })

  override protected def withNewChildInternal(newChild: Expression): PqCodes =
    copy(child = newChild)
}

/** Per-query ADC lookup table (m × k sub-centroid dots, flattened;
  * query unit-normalized inside). */
case class PqLut(
    child: Expression,
    bcBooks: Broadcast[Array[Array[Array[Double]]]]) extends UnaryExpression {

  @transient private lazy val books = bcBooks.value

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "pq_lut"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"pq_lut needs array<double>, got ${other.simpleString}")
  }

  def lutOf(a: ArrayData): ArrayData =
    new GenericArrayData(AnnPq.lutOf(books, AnnIvf.unitNorm(a.toDoubleArray())))

  override protected def nullSafeEval(input: Any): Any =
    lutOf(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, f => {
      val ref = ctx.addReferenceObj("pqLut", this, classOf[PqLut].getName)
      s"${ev.value} = $ref.lutOf($f);"
    })

  override protected def withNewChildInternal(newChild: Expression): PqLut =
    copy(child = newChild)
}

/** The ADC estimate: Σ_m lut(m * k + codes(m)) — m primitive lookups per
  * corpus row, generated INLINE (no kernel call: the loop body is two
  * array reads and an add, exactly what whole-stage codegen should see). */
case class PqAdc(left: Expression, right: Expression, k: Int)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "pq_adc"

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(ByteType, _), ArrayType(DoubleType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"pq_adc needs (array<tinyint> codes, array<double> lut), got " +
          s"(${l.simpleString}, ${r.simpleString})")
    }

  def adcOf(codes: ArrayData, lut: ArrayData): Double = {
    var sum = 0.0
    var m = 0
    val n = codes.numElements()
    while (m < n) {
      // & 0xFF: codes are UNSIGNED one-byte ids — the signed getByte
      // would index negatively for any codebook with k > 128
      sum += lut.getDouble(m * k + (codes.getByte(m) & 0xFF))
      m += 1
    }
    sum
  }

  override protected def nullSafeEval(c: Any, l: Any): Any =
    adcOf(c.asInstanceOf[ArrayData], l.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (c, l) => {
      val i = ctx.freshName("m")
      val n = ctx.freshName("n")
      val sum = ctx.freshName("sum")
      s"""
         |double $sum = 0.0;
         |int $n = $c.numElements();
         |for (int $i = 0; $i < $n; $i++) {
         |  $sum += $l.getDouble($i * $k + ($c.getByte($i) & 0xFF));
         |}
         |${ev.value} = $sum;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): PqAdc =
    copy(left = newLeft, right = newRight)
}
