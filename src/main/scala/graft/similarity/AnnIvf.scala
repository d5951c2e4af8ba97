package graft.similarity

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * IVF-style approximate nearest neighbors: a k-means coarse quantizer
 * (`nlist` centroids) partitions the vectors into inverted lists; each
 * probe scores only the lists of its `nprobe` nearest centroids.
 *
 * This is the second scale path for similarity search next to
 * [[AnnLsh]]'s random-hyperplane buckets: the quantizer adapts to the
 * data distribution (bucket sizes follow density), at the cost of a
 * training pass. Candidate count per probe ~ nprobe/nlist of the corpus.
 *
 * The quantizer ([[AnnLloyd]]) is fit and assigned on UNIT-NORMALIZED
 * vectors, so the euclidean distance it minimizes is monotone in the
 * cosine the final ranking maximizes (||a-b||^2 = 2 - 2*cos on the unit
 * sphere). Quantizing the raw vectors instead partitions by magnitude as
 * much as by direction and silently tanks recall to roughly half the
 * normalized quantizer's gated floor (ModulesSpec pins the floor;
 * TUNE_r9.txt holds the swept points).
 *
 * The fit is deterministic but not an engine the DuckDB oracle has, so
 * (like AnnLsh) this is a rows-only query for the driver; ModulesSpec
 * asserts cosine correctness, rank order, pruning, and recall@k.
 *
 * DEFAULT KNOBS ARE CORPUS-ADAPTIVE (nlist=0/nprobe=0 below): a fixed
 * nlist tuned on one corpus silently falls off the operating box when the
 * corpus grows — the r9-default nlist=256/nprobe=32, tuned on sf0.001's
 * 500 vectors (0.912 recall@5 at 0.196 scan), measures only 0.752 recall
 * on sf0.1's 2000 vectors (TUNE_r10.txt "ivf nlist=256 nprobe=32" on each
 * corpus) — and at 100 TB a constant list count is structurally wrong:
 * per-list occupancy, and so per-probe scan cost, must not scale linearly
 * with corpus size. The auto rule is nlist = nearestPow2(11 * sqrt(n))
 * (inside FAISS's published 4*sqrt(N)..16*sqrt(N) band), nprobe =
 * nlist/7 — the denominator is chosen by 5-SEED MINIMUM recall, like the
 * LSH default (TUNE_r11.txt "ivfseeds" grids): the r10 nlist/8 rule
 * passed the floor at its shipped k-means seed (0.904 on sf0.1) but
 * measured 0.832 at one of five initializations; /7 holds min 0.920 on
 * sf0.001 (256 lists, nprobe 36, scan <= 0.222) and 0.856 on sf0.1 (512
 * lists, nprobe 73, scan <= 0.189) across all five draws, and /6 — still
 * better recall — breaks the 0.25 scan ceiling on sf0.001. Probed
 * fraction stays a constant ~14% of lists while list occupancy grows
 * only as sqrt(n). On the driver-side Lloyd's fit (TUNE_r23.txt) the /7
 * minima are 0.920 / 0.848: one sf0.1 draw now sits under the floor.
 */
object AnnIvf {

  /** Corpus-adaptive default list count: nearest power of two to
    * 11*sqrt(n), clamped to [16, 65536]. See the class doc for the
    * measurements anchoring the constant. */
  private[similarity] def autoNlist(n: Long): Int = {
    val target = 11.0 * math.sqrt(n.toDouble.max(1.0))
    val exp = math.round(math.log(target) / math.log(2.0)).toInt
    math.min(65536, math.max(16, 1 << math.max(4, math.min(16, exp))))
  }

  /** Memoized corpus row count, keyed by dir and stamped with the file
    * stamp of the corpus parquet it was computed under
    * ([[graft.queries.Tables.dirStamp]] — a listing, no data scan): a
    * corpus REPLACED mid-session must not serve the old corpus's row
    * count, or a rebuilt index would inherit old-corpus knobs under a
    * fresh content fingerprint. A changed stamp recomputes IN PLACE (one
    * live entry per dir, no growth across replacements). */
  private val corpusCounts =
    new java.util.concurrent.ConcurrentHashMap[String, (String, Long)]()

  /** Memoized corpus row count (signature-stamped like the fits) —
    * shared with [[AnnPq]]'s adaptive re-rank resolution. The count is
    * the sum of the row counts in the parquet footers of the corpus's
    * data files (names starting `_` or `.` are metadata, not data), read
    * through the Hadoop FileSystem: no Spark job. */
  private[graft] def corpusCount(s: SparkSession, dir: String): Long = {
    val sig = graft.queries.Tables.dirStamp(s, s"$dir/embeddings.parquet")
    corpusCounts.compute(dir, (d, prev) =>
      if (prev != null && prev._1 == sig) prev
      else (sig, footerRows(s, s"$d/embeddings.parquet")))._2
  }

  private def footerRows(s: SparkSession, path: String): Long = {
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val conf = s.sparkContext.hadoopConfiguration
    val p = new Path(path)
    p.getFileSystem(conf).listStatus(p)
      .filter(f => f.isFile && !f.getPath.getName.startsWith("_") &&
        !f.getPath.getName.startsWith("."))
      .map { f =>
        val r = ParquetFileReader.open(HadoopInputFile.fromStatus(f, conf))
        try r.getRecordCount finally r.close()
      }.sum
  }

  /** Resolve (nlist, nprobe) where 0 means corpus-adaptive. */
  private[graft] def resolveKnobs(
      s: SparkSession, dir: String, nlist: Int, nprobe: Int): (Int, Int) = {
    lazy val n: Long = corpusCount(s, dir)
    val rl = if (nlist > 0) nlist else autoNlist(n)
    val rp = if (nprobe > 0) nprobe else math.max(1, rl / 7)
    (rl, rp)
  }

  /** Unit-normalize with a zero-guard floor (an all-zero vector stays at
    * the origin instead of turning NaN): index-order sum of squares, sqrt,
    * max-floor, divide. The fit's sample and every encode and probe
    * normalize through this one function, so they agree bit for bit. */
  private[similarity] def unitNorm(arr: Array[Double]): Array[Double] = {
    var ss = 0.0
    var i = 0
    while (i < arr.length) { ss += arr(i) * arr(i); i += 1 }
    val nrm = math.max(math.sqrt(ss), 1e-30)
    val out = new Array[Double](arr.length)
    i = 0
    while (i < arr.length) { out(i) = arr(i) / nrm; i += 1 }
    out
  }

  /** Squared euclidean distance of centroid `c` to the slice of `v` at
    * `off` (c.length wide, clipped at v's end). */
  private[similarity] def dist2(c: Array[Double], v: Array[Double], off: Int): Double = {
    var d = 0.0
    var j = 0
    val lim = math.min(c.length, v.length - off)
    while (j < lim) {
      val diff = c(j) - v(off + j); d += diff * diff; j += 1
    }
    d
  }

  /** Index of the centroid in `cs` nearest to the slice of `v` at `off`,
    * first min on ties — the one assignment rule of the fit
    * ([[AnnLloyd.fit]]), every encode and the probe side. A primitive
    * argmin (no tuple boxing, no sort): it runs once per corpus row per
    * codebook on every index pass. */
  private[similarity] def nearest(cs: Array[Array[Double]], v: Array[Double], off: Int): Int = {
    var best = 0
    var bestD = Double.PositiveInfinity
    var i = 0
    while (i < cs.length) {
      val d = dist2(cs(i), v, off)
      if (d < bestD) { bestD = d; best = i }
      i += 1
    }
    best
  }

  /** Indices of the `n` nearest centroids, nearest first, ties by index
    * ([[nearest]] when n = 1; the probe side's n > 1 keeps the simple
    * sort over numProbes rows). */
  private[similarity] def nearestLists(cs: Array[Array[Double]], en: Array[Double], n: Int): Array[Int] =
    if (n == 1) Array(nearest(cs, en, 0))
    else cs.indices.map(i => (dist2(cs(i), en, 0), i)).sortBy(_._1).take(n).map(_._2).toArray

  /** Inverted-list-pruned, cosine-scored candidate pairs — the pool
    * [[annTopK]] ranks, as (q_id, neighbor_id, cos). Exposed separately so
    * tests can count pool sizes directly instead of ranking with a
    * sentinel k. nlist/nprobe = 0 (the default) resolves corpus-adaptively
    * (see the class doc): (256, 36) on sf0.001 = recall@5 0.936 at scan
    * 0.209, (512, 73) on sf0.1 = 0.880 at 0.189 at the shipped seed
    * (TUNE_r23.txt ivfseeds; gated in ModulesSpec at recall >= 0.85,
    * scan <= 0.25 on both corpora, with 5-seed minima 0.920/0.848). */
  def candidates(
      s: SparkSession,
      dir: String,
      numProbes: Int = 5,
      nlist: Int = 0,
      nprobe: Int = 0,
      seed: Long = 4099L): DataFrame =
    AnnTier.liveCandidates(s, dir, IvfTier(nlist, nprobe, seed), numProbes)

  def annTopK(
      s: SparkSession,
      dir: String,
      numProbes: Int = 5,
      k: Int = 5,
      nlist: Int = 0,
      nprobe: Int = 0,
      seed: Long = 4099L): DataFrame =
    AnnTier.liveTopK(s, dir, IvfTier(nlist, nprobe, seed), numProbes, k)

  /** The `nprobe` nearest lists per row, exploded, from the broadcast
    * centroids (the codegen'd [[IvfLists]] normalizes inside). */
  private[similarity] def probeLists(s: SparkSession, centroids: Array[Array[Double]],
      nprobe: Int): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    explode(ColumnBridge.column(IvfLists(ColumnBridge.expression(col("e")),
      s.sparkContext.broadcast(centroids), nprobe)))
  }
}

/**
 * The IVF tier: the geometry is the k-means centroids of the
 * unit-normalized corpus ([[AnnLloyd]]), the
 * assignments one (vec_id, list_id) row per vector. nlist/nprobe = 0
 * resolve corpus-adaptively ([[AnnIvf.resolveKnobs]]) and the metadata
 * records the RESOLVED values, so a loaded index keeps its build-time
 * operating point even if the corpus — and the auto rule's answer —
 * later grows. Appends assign to the FROZEN centroids, so for IVF
 * "append ≡ rebuild" holds for the assignments given the geometry, not
 * for the geometry itself; past [[AnnIndex.ivfDriftBound]] the undersized
 * nlist and stale centroids decay scan and recall, and the append refuses.
 */
final case class IvfTier(nlist: Int = 0, nprobe: Int = 0, seed: Long = 4099L)
    extends AnnTier {
  import org.json4s.JsonDSL._

  type Geometry = Array[Array[Double]]

  def method: String = "ivf"

  def knobs: org.json4s.JObject = ("nlist" -> nlist) ~ ("nprobe" -> nprobe) ~ ("seed" -> seed)

  override def resolve(s: SparkSession, dir: String): AnnTier = {
    val (l, p) = AnnIvf.resolveKnobs(s, dir, nlist, nprobe)
    copy(nlist = l, nprobe = p)
  }

  def fit(s: SparkSession, dir: String, dim: => Int): Geometry =
    AnnLloyd.geometry(s, dir, s"ivf nlist=$nlist seed=$seed", nlist)(
      en => AnnLloyd.fit(en, 0, en(0).length, nlist, seed))

  def writeGeometry(s: SparkSession, path: String, centroids: Geometry): Unit =
    AnnTier.writeModel(path, AnnTier.idVectorRows(s, centroids, "list_id", "center"))

  def readGeometry(s: SparkSession, path: String): Geometry = AnnTier.readIdVectors(s, path)

  /** Each row lands in its single nearest list, from the broadcast
    * centroid array. The codegen'd [[IvfLists]] takes the RAW vector and
    * unit-normalizes in compiled code ([[AnnIvf.unitNorm]], as the fit
    * does), keeping interpreted lambdas and ScalaUDF boxing off
    * the per-query path (the former lambda was ~1.5 s of q49's 2.0 s
    * steady-state at sf0.1: its aggregate() re-ran for every element). */
  def encode(s: SparkSession, centroids: Geometry, rows: DataFrame): DataFrame = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    rows.select(col("vec_id"), element_at(ColumnBridge.column(IvfLists(
      ColumnBridge.expression(col("e")), s.sparkContext.broadcast(centroids), 1)), 1)
      .as("list_id"))
  }

  /** Probes fan out to their `nprobe` nearest lists; the candidates are
    * the list members, rehydrated from the corpus by vec_id. */
  def scan(s: SparkSession, centroids: Geometry, emb: DataFrame, assignments: DataFrame,
      numProbes: Int): DataFrame = {
    graft.functions.CosineSimilarity.register(s)
    val probes = emb.filter(col("vec_id") < numProbes)
      .select(col("vec_id").as("q_id"), col("e").as("ae"),
        AnnIvf.probeLists(s, centroids, nprobe).as("list_id"))
    broadcast(probes)
      .join(assignments, Seq("list_id"))
      .filter(col("vec_id") =!= col("q_id"))
      .join(emb.select(col("vec_id"), col("e").as("be")), Seq("vec_id"))
      .selectExpr("q_id", "vec_id AS neighbor_id", "cosine_similarity(ae, be) AS cos")
  }

  override def driftBound: Option[(Double, String)] = Some((AnnIndex.ivfDriftBound,
    "recall/scan decay past the measured knee (TUNE_r12.txt ivfdrift)"))
}
