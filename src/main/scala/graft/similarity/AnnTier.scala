package graft.similarity

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.json4s._

/**
 * One ANN tier — [[LshTier]], [[IvfTier]], [[PqTier]] or [[IvfPqTier]] —
 * as the six parts the shared persist-and-probe core needs. Everything
 * else is written once, over this contract: [[AnnIndex]]'s build,
 * append, compact and top-k verbs (crash bracket, adds-only guard,
 * corpus fingerprint), and the live verbs [[AnnTier.topK]] and
 * [[AnnTier.candidates]], which run the SAME scan over assignments
 * encoded on the fly from a freshly fitted geometry. A tier is named one
 * way, as a value of its case class; the case class holds its defaults.
 *
 *  1. [[method]] and [[knobs]]: the tier's fields of the metadata JSON,
 *     read back by [[AnnTier.fromMeta]];
 *  2. [[fit]]: the geometry, on a corpus (after [[resolve]] settles any
 *     corpus-adaptive knob);
 *  3. [[writeGeometry]]/[[readGeometry]]: its round-trip under `model/`
 *     (doubles round-trip parquet bit-exactly);
 *  4. [[encode]]: corpus rows (vec_id, e) to `assignments/` rows;
 *  5. [[scan]]: the probe-side candidates over an assignments frame;
 *  6. [[driftBound]]: the growth past which an append refuses.
 *
 * [[rank]] turns a scan into the top k; the code-scored tiers share one
 * exact re-rank ([[AdcRerank]]).
 */
trait AnnTier {
  type Geometry

  /** The metadata's `method`: lsh, ivf, pq or ivfpq. */
  def method: String

  /** The tier's knob fields of the metadata JSON, in write order. */
  def knobs: JObject

  /** This tier with its corpus-adaptive knobs settled against `dir`'s
    * corpus; the metadata records the RESOLVED values. */
  def resolve(s: SparkSession, dir: String): AnnTier = this

  /** The geometry fit on `dir`'s corpus; `dim` (one scan job) is
    * evaluated only by the tiers that need it. */
  def fit(s: SparkSession, dir: String, dim: => Int): Geometry

  def writeGeometry(s: SparkSession, path: String, g: Geometry): Unit

  def readGeometry(s: SparkSession, path: String): Geometry

  /** (vec_id, e) corpus rows to the tier's `assignments/` rows. */
  def encode(s: SparkSession, g: Geometry, rows: DataFrame): DataFrame

  /** Candidate pairs of the probes (vec_id < numProbes of `emb`) against
    * `assignments`: (q_id, neighbor_id, cos), or (q_id, neighbor_id, adc)
    * for the code-scored tiers. */
  def scan(s: SparkSession, g: Geometry, emb: DataFrame, assignments: DataFrame,
      numProbes: Int): DataFrame

  /** (bound, reason): an append refuses once the live corpus exceeds
    * bound x the rows the geometry was trained at. None: no bound. */
  def driftBound: Option[(Double, String)] = None

  /** The top k per probe of a [[scan]], as (q_id, neighbor_id, cos, rn)
    * ordered by (q_id, rn). `trainedRows` is the corpus size the geometry
    * was fit at. */
  def rank(s: SparkSession, scanned: DataFrame, emb: DataFrame, numProbes: Int, k: Int,
      trainedRows: => Long): DataFrame =
    AnnTier.topByCosine(scanned, k)
}

/** The exact re-rank the code-scored tiers share: the scan's ADC
  * estimates pick a pool of `rerank` candidates per probe (0: n/16 of the
  * corpus the geometry was trained on, [[AnnPq.autoRerank]]), and only
  * that pool — broadcast-sized — rehydrates vectors for EXACT cosine, so
  * ADC distortion decides who makes the pool, never the reported order. */
trait AdcRerank extends AnnTier {
  def rerank: Int

  override def rank(s: SparkSession, scanned: DataFrame, emb: DataFrame, numProbes: Int,
      k: Int, trainedRows: => Long): DataFrame = {
    graft.functions.CosineSimilarity.register(s)
    val rr = if (rerank > 0) rerank else AnnPq.autoRerank(trainedRows)
    // ADC scores matter only for pool selection; roundTo keeps them at
    // full precision
    val pool = graft.plans.TopKPerKey.topK(
      scanned, "q_id", "adc", "neighbor_id", rr, "adc", roundTo = 9)
    val probeVecs = emb.filter(col("vec_id") < numProbes)
      .select(col("vec_id").as("q_id"), col("e").as("ae"))
    val exact = emb.join(broadcast(pool.select(col("q_id"), col("neighbor_id"))),
        col("vec_id") === col("neighbor_id"))
      .join(broadcast(probeVecs), Seq("q_id"))
      .selectExpr("q_id", "neighbor_id", "cosine_similarity(ae, e) AS cos")
    AnnTier.topByCosine(exact, k)
  }
}

object AnnTier {

  /** The tier a persisted index's metadata records; every knob key is
    * required. An `adaptive` key (indexes written before LSH's global
    * probe merge was removed) is ignored when false and refused when true:
    * no tier can probe that way any more. */
  def fromMeta(meta: JValue): AnnTier = {
    implicit val formats: Formats = DefaultFormats
    def int(f: String) = (meta \ f).extract[Int]
    def seed = (meta \ "seed").extract[Long]
    (meta \ "method").extract[String] match {
      case "lsh" =>
        require(!(meta \ "adaptive").extractOrElse[Boolean](false),
          "LSH index metadata sets \"adaptive\": true — the adaptive probe allocation is " +
            "gone; rebuild the 'lsh' index with AnnIndex.build")
        LshTier(int("numPlanes"), int("numTables"), int("probesPerTable"), seed,
          int("minCollisions"), (meta \ "poolFrac").extract[Double])
      case "ivf" => IvfTier(int("nlist"), int("nprobe"), seed)
      case "pq" => PqTier(int("m"), int("k"), seed)
      case "ivfpq" => IvfPqTier(int("nlist"), int("nprobe"), int("m"), int("k"), seed)
      case other => throw unknown(other)
    }
  }

  /** The `method` tier at its shipped default knobs. */
  def defaults(method: String): AnnTier = method match {
    case "lsh" => LshTier()
    case "ivf" => IvfTier()
    case "pq" => PqTier()
    case "ivfpq" => IvfPqTier()
    case other => throw unknown(other)
  }

  private def unknown(method: String) = new IllegalArgumentException(
    s"unknown ANN index method '$method' — expected lsh, ivf, pq or ivfpq")

  /** The candidates of `tier` over `dir`'s corpus, fit on the fly: as
    * (q_id, neighbor_id, cos), or (q_id, neighbor_id, adc) for the
    * code-scored tiers. The pool [[topK]] ranks, for counting pool sizes
    * directly (ranking with a sentinel k costs O(k) per element). */
  def candidates(s: SparkSession, dir: String, tier: AnnTier, numProbes: Int = 5): DataFrame =
    fitScan(s, dir, tier, numProbes, dir)._3

  /** The top k neighbors of each probe (vec_id < numProbes) under `tier`,
    * fit on `dir`'s corpus on the fly: (q_id, neighbor_id, cos, rn)
    * ordered by (q_id, rn). */
  def topK(s: SparkSession, dir: String, tier: AnnTier, numProbes: Int = 5,
      k: Int = 5): DataFrame = {
    val (t, emb, scanned) = fitScan(s, dir, tier, numProbes, dir)
    t.rank(s, scanned, emb, numProbes, k, AnnIvf.corpusCount(s, dir))
  }

  /** `tier` resolved and fit on `fitDir`'s corpus, then `dir`'s corpus
    * encoded against that geometry on the fly and scanned: (the resolved
    * tier, `dir`'s [[vectors]], the candidates). `fitDir` is `dir` for the
    * live path; an older corpus gives the frozen geometry an appended
    * index serves. */
  private[graft] def fitScan(s: SparkSession, dir: String, tier: AnnTier, numProbes: Int,
      fitDir: String): (AnnTier, DataFrame, DataFrame) = {
    val t = tier.resolve(s, fitDir)
    val emb = vectors(s, dir)
    val g = t.fit(s, fitDir, dimOf(emb))
    (t, emb, t.scan(s, g, emb, t.encode(s, g, emb), numProbes))
  }

  /** `dir`'s corpus as (vec_id, e array<double>). */
  private[graft] def vectors(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/embeddings.parquet")
      .selectExpr("vec_id", "transform(embedding, x -> cast(x AS double)) AS e")

  /** The vector dimension of a [[vectors]] frame (one row read). */
  private[graft] def dimOf(emb: DataFrame): Int = emb.selectExpr("size(e)").first().getInt(0)

  private[similarity] def topByCosine(scored: DataFrame, k: Int): DataFrame =
    graft.plans.TopKPerKey.topK(scored, "q_id", "cos", "neighbor_id", k, "cosine")
      .orderBy(col("q_id"), col("rn"))

  private[similarity] def writeModel(path: String, model: DataFrame): Unit =
    model.repartition(1).write.mode("overwrite").parquet(s"$path/model")

  /** (id int, vector) model rows as vectors ordered by id — sorted on the
    * driver: the model is kilobytes, and an orderBy would pay a shuffle
    * stage per query. */
  private[similarity] def readIdVectors(s: SparkSession, path: String): Array[Array[Double]] =
    s.read.parquet(s"$path/model").collect()
      .sortBy(_.getInt(0)).map(_.getSeq[Double](1).toArray)

  /** (id int, vector) rows of `vs`, named `idCol`/`vecCol`. */
  private[similarity] def idVectorRows(s: SparkSession, vs: Array[Array[Double]],
      idCol: String, vecCol: String): DataFrame = {
    import s.implicits._
    s.createDataset(vs.toIndexedSeq.zipWithIndex.map { case (v, i) => (i, v.toSeq) })
      .toDF(idCol, vecCol)
  }
}
