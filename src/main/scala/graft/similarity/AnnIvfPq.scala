package graft.similarity

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/**
 * IVF-PQ — the COMPOSED scale path (Jégou, Douze & Schmid, TPAMI 2011,
 * §IV "IVFADC"): the coarse quantizer prunes WHICH vectors are scored
 * (AnnIvf's inverted lists — the partition-pruning half) and product-
 * quantization codes decide HOW CHEAPLY each survivor is scored (AnnPq's
 * m-byte ADC — the memory half). This is the architecture every large
 * production ANN system ships (FAISS `IVFx,PQy`), and the two halves
 * compose non-trivially: codes quantize the RESIDUAL en − c(list), not
 * the vector itself — residuals concentrate near the origin once the
 * coarse centroid absorbs the vector's position, so the same 16 bytes
 * buy materially less distortion than whole-vector codes.
 *
 * Score decomposition (unit vectors, coarse quantizer fit on them):
 *   <q, x> = <q, c_l> + <q, r>  ≈  <q, c_l> + Σ_m <q_m, r̂_m>
 * where r̂ is r's sub-centroid. The first term is one lookup in a
 * broadcast nlist-sized table per probed list; the second is [[PqAdc]]
 * over the SAME per-probe LUT machinery as q130 — the LUT is built from
 * the residual codebooks, which are shared across lists (the standard
 * memory/accuracy trade; per-list codebooks would be nlist× the
 * geometry).
 *
 * Scale shape: the scan touches ONLY the probed lists' (list_id, codes)
 * rows — nprobe/nlist of the corpus at 16 bytes/vector (vs AnnPq's
 * all-rows compressed scan and AnnIvf's float-width candidate reads);
 * the float column is read exclusively for the broadcast-sized re-rank
 * pool, exactly like the other variants. Both fits are one driver-side
 * index-build step over one corpus sample ([[AnnLloyd]]); everything
 * per-query is codegen'd ([[IvfLists]] assignment, [[IvfPqCodes]]
 * encode, [[PqLut]]/[[PqAdc]] scoring).
 *
 * Like q31/q49/q130, the k-means geometry (not an engine the DuckDB
 * oracle has) makes this rows-only for the driver; ModulesSpec gates
 * recall@5 on both corpora (5-seed minima, AnnTune `ivfpq` grid).
 */
object AnnIvfPq {

  /** (list, en − c(list)): the nearest coarse centroid of a
    * unit-normalized vector and the residual the codes quantize — one
    * function for the fit and every encode. */
  private[similarity] def residual(centroids: Array[Array[Double]],
      en: Array[Double]): (Int, Array[Double]) = {
    val list = AnnIvf.nearest(centroids, en, 0)
    val cent = centroids(list)
    val r = new Array[Double](en.length)
    var i = 0
    while (i < en.length) { r(i) = en(i) - cent(i); i += 1 }
    (list, r)
  }
}

/**
 * The IVF-PQ tier — the artifact FAISS ships as `IVFx,PQy`: the geometry
 * is the coarse centroids AND the residual codebooks, in one `model/`
 * tagged by a `kind` column ('coarse' rows are (list_id, center),
 * 'residual' rows (sub_id, code_id, center), flattened into the same
 * (kind, id_a, id_b, center) shape); the assignments are
 * (vec_id, list_id, codes), so the scan reads list-pruned 16-byte rows
 * and never the floats. Appends are bounded by the coarse half's
 * [[AnnIndex.ivfDriftBound]], the binding bound of the composition.
 */
final case class IvfPqTier(
    nlist: Int = 0,
    nprobe: Int = 0,
    m: Int = AnnPq.defaultM,
    kCodes: Int = AnnPq.defaultK,
    seed: Long = 4099L,
    rerank: Int = 0) extends AdcRerank {
  import org.apache.spark.sql.graftbridge.ColumnBridge
  import org.json4s.JsonDSL._

  /** (coarse centroids, residual codebooks) */
  type Geometry = (Array[Array[Double]], Array[Array[Array[Double]]])

  def method: String = "ivfpq"

  def knobs: org.json4s.JObject =
    ("nlist" -> nlist) ~ ("nprobe" -> nprobe) ~ ("m" -> m) ~ ("k" -> kCodes) ~ ("seed" -> seed)

  override def resolve(s: SparkSession, dir: String): AnnTier = {
    val (l, p) = AnnIvf.resolveKnobs(s, dir, nlist, nprobe)
    copy(nlist = l, nprobe = p)
  }

  /** Coarse centroids fit as [[IvfTier]]'s, then residual books on
    * en − c(list) of the same sample from seeds seed + 100 + sub. */
  def fit(s: SparkSession, dir: String, dim: => Int): Geometry =
    AnnLloyd.geometry(s, dir, s"ivfpq nlist=$nlist m=$m k=$kCodes seed=$seed",
        math.max(nlist, kCodes)) { en =>
      val coarse = AnnLloyd.fit(en, 0, en(0).length, nlist, seed)
      (coarse, AnnPq.books(en.map(AnnIvfPq.residual(coarse, _)._2), m, kCodes, seed + 100))
    }

  def writeGeometry(s: SparkSession, path: String, g: Geometry): Unit = {
    import s.implicits._
    val coarse = g._1.toIndexedSeq.zipWithIndex.map { case (c, i) => ("coarse", i, 0, c.toSeq) }
    val residual = AnnPq.bookRows(g._2).map { case (sub, code, c) => ("residual", sub, code, c) }
    AnnTier.writeModel(path,
      s.createDataset(coarse ++ residual).toDF("kind", "id_a", "id_b", "center"))
  }

  def readGeometry(s: SparkSession, path: String): Geometry = {
    val rows = s.read.parquet(s"$path/model").collect()
    val coarse = rows.filter(_.getString(0) == "coarse")
      .sortBy(_.getInt(1)).map(_.getSeq[Double](3).toArray)
    require(coarse.length == nlist,
      s"IVF-PQ model at $path has ${coarse.length} coarse centroids, expected $nlist")
    val residual = rows.filter(_.getString(0) == "residual")
      .sortBy(r => (r.getInt(1), r.getInt(2))).map(_.getSeq[Double](3).toArray)
    (coarse, AnnPq.booksOf(residual, m, kCodes, "IVF-PQ residual model", path))
  }

  /** Assignment, residual and encode fused into one codegen'd pass. */
  def encode(s: SparkSession, g: Geometry, rows: DataFrame): DataFrame = {
    val enc = ColumnBridge.column(IvfPqCodes(ColumnBridge.expression(col("e")),
      s.sparkContext.broadcast(g._1), s.sparkContext.broadcast(g._2)))
    rows.select(col("vec_id"), enc.as("enc"))
      .select(col("vec_id"), col("enc.list_id").as("list_id"), col("enc.codes").as("codes"))
  }

  /** Probe side: `nprobe` lists, the <q, c_l> term per probed list, and
    * the residual-codebook LUT (PqLut unit-normalizes the query inside);
    * the scan touches only the probed lists' code rows. */
  def scan(s: SparkSession, g: Geometry, emb: DataFrame, codes: DataFrame,
      numProbes: Int): DataFrame = {
    val qdotc = ColumnBridge.column(
      IvfCentroidDots(ColumnBridge.expression(col("e")), s.sparkContext.broadcast(g._1)))
    val probes = emb.filter(col("vec_id") < numProbes)
      .select(col("vec_id").as("q_id"), AnnPq.lut(s, g._2).as("lut"), qdotc.as("cdots"),
        AnnIvf.probeLists(s, g._1, nprobe).as("list_id"))
      .selectExpr("q_id", "lut", "list_id", "element_at(cdots, list_id + 1) AS qdotc")
    broadcast(probes).join(codes, Seq("list_id"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("neighbor_id"),
        (col("qdotc") + AnnPq.adc(kCodes)).as("adc"))
  }

  override def driftBound: Option[(Double, String)] = Some((AnnIndex.ivfDriftBound,
    "the coarse quantizer's scan/recall decay past the measured knee " +
      "(TUNE_r12.txt ivfdrift) binds the composition"))
}

/** Fused corpus-side IVF-PQ encode: unit-normalize, assign the nearest
  * coarse centroid, quantize the RESIDUAL against the shared residual
  * codebooks — struct(list_id int, codes array<tinyint>) in one pass.
  * Same first-min tie-breaks as [[IvfLists]] / [[AnnPq.encodeOf]]. */
case class IvfPqCodes(
    child: Expression,
    bcCentroids: Broadcast[Array[Array[Double]]],
    bcBooks: Broadcast[Array[Array[Array[Double]]]]) extends UnaryExpression {

  @transient private lazy val centroids = bcCentroids.value
  @transient private lazy val books = bcBooks.value

  override def dataType: DataType = StructType(Seq(
    StructField("list_id", IntegerType, nullable = false),
    StructField("codes", ArrayType(ByteType, containsNull = false), nullable = false)))
  override def prettyName: String = "ivf_pq_codes"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"ivf_pq_codes needs array<double>, got ${other.simpleString}")
  }

  def encOf(a: ArrayData): InternalRow = {
    val (list, r) = AnnIvfPq.residual(centroids, AnnIvf.unitNorm(a.toDoubleArray()))
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](list, new GenericArrayData(AnnPq.encodeOf(books, r))))
  }

  override protected def nullSafeEval(input: Any): Any =
    encOf(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, f => {
      val ref = ctx.addReferenceObj("ivfPqCodes", this, classOf[IvfPqCodes].getName)
      s"${ev.value} = $ref.encOf($f);"
    })

  override protected def withNewChildInternal(newChild: Expression): IvfPqCodes =
    copy(child = newChild)
}

/** The probe-side <q, c_l> table: dot of the unit-normalized query with
  * EVERY coarse centroid, as array<double> indexed by list_id — one
  * nlist-sized array per probe row (probes are numProbes rows; the
  * corpus never evaluates this). */
case class IvfCentroidDots(
    child: Expression,
    bcCentroids: Broadcast[Array[Array[Double]]]) extends UnaryExpression {

  @transient private lazy val centroids = bcCentroids.value

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "ivf_centroid_dots"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"ivf_centroid_dots needs array<double>, got ${other.simpleString}")
  }

  def dotsOf(a: ArrayData): ArrayData = {
    val en = AnnIvf.unitNorm(a.toDoubleArray())
    val out = new Array[Double](centroids.length)
    var l = 0
    while (l < centroids.length) {
      val c = centroids(l)
      var d = 0.0
      var i = 0
      while (i < en.length) { d += en(i) * c(i); i += 1 }
      out(l) = d
      l += 1
    }
    new GenericArrayData(out)
  }

  override protected def nullSafeEval(input: Any): Any =
    dotsOf(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, f => {
      val ref = ctx.addReferenceObj("ivfCentroidDots", this, classOf[IvfCentroidDots].getName)
      s"${ev.value} = $ref.dotsOf($f);"
    })

  override protected def withNewChildInternal(newChild: Expression): IvfCentroidDots =
    copy(child = newChild)
}
