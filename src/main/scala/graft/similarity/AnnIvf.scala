package graft.similarity

import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.functions.array_to_vector
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
 * The quantizer is SPHERICAL: vectors are L2-normalized before the k-means
 * fit and list assignment, so the euclidean distance the quantizer
 * minimizes is monotone in the cosine the final ranking maximizes
 * (||a-b||^2 = 2 - 2*cos on the unit sphere). Quantizing the raw vectors
 * instead partitions by magnitude as much as by direction and silently
 * tanks recall to roughly half the normalized quantizer's gated floor
 * (ModulesSpec pins the floor; TUNE_r9.txt holds the swept points).
 *
 * The k-means fit is seeded but engine-specific, so (like AnnLsh) this is
 * a rows-only query for the driver; ModulesSpec asserts cosine
 * correctness, rank order, pruning, and recall@k against brute force.
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
 * only as sqrt(n).
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

  /** Cheap file-level signature of the corpus parquet (file count, total
    * bytes, max mtime — a directory listing, NO data scan), mixed into
    * every memo key below: a corpus REPLACED mid-session must not serve
    * the old corpus's memoized row count or centroids. A rebuilt index
    * would otherwise inherit old-corpus state under a fresh content
    * fingerprint — the adaptive-knob regression the memos' round-10
    * review flagged. Listed through the Hadoop FileSystem of the path's
    * own scheme (a java.io.File listing would silently return nothing —
    * a CONSTANT signature, i.e. no invalidation at all — for file:/hdfs:/
    * s3a: URIs that spark.read handles fine). The content fingerprint in
    * AnnIndex stays the load-time guard; this is only memo invalidation,
    * so the listing-level signature is the right cost. */
  private[similarity] def corpusSignature(s: SparkSession, dir: String): String = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/embeddings.parquet")
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    val files =
      if (fs.exists(p)) fs.listStatus(p).filter(_.isFile)
      else Array.empty[org.apache.hadoop.fs.FileStatus]
    s"${files.length}:${files.map(_.getLen).sum}:" +
      files.map(_.getModificationTime).foldLeft(0L)(math.max)
  }

  /** Memoized corpus row count, keyed by dir and stamped with the file
    * signature it was computed under — a changed signature recomputes IN
    * PLACE (one live entry per dir, no growth across replacements). */
  private val corpusCounts =
    new java.util.concurrent.ConcurrentHashMap[String, (String, Long)]()

  /** Memoized corpus row count (signature-stamped like the quantizers) —
    * shared with [[AnnPq]]'s adaptive re-rank resolution. */
  private[graft] def corpusCount(s: SparkSession, dir: String): Long = {
    val sig = corpusSignature(s, dir)
    corpusCounts.compute(dir, (d, prev) =>
      if (prev != null && prev._1 == sig) prev
      else (sig, s.read.parquet(s"$d/embeddings.parquet").count()))._2
  }

  /** Resolve (nlist, nprobe) where 0 means corpus-adaptive. */
  private[graft] def resolveKnobs(
      s: SparkSession, dir: String, nlist: Int, nprobe: Int): (Int, Int) = {
    lazy val n: Long = corpusCount(s, dir)
    val rl = if (nlist > 0) nlist else autoNlist(n)
    val rp = if (nprobe > 0) nprobe else math.max(1, rl / 7)
    (rl, rp)
  }

  /** Driver-side quantizer memo. The k-means fit is INDEX-BUILD work — in a
    * real deployment the inverted lists are built once and reused by every
    * query — so charging a full fit to every invocation misstates the query
    * cost (~3 s of q49's 3.1 s at sf0.1). Keyed by (dir, nlist, seed) and
    * STAMPED with the corpus file signature ([[corpusSignature]]): a
    * changed signature refits IN PLACE, so centroids fit on a replaced
    * corpus's predecessor are never reused AND superseded entries don't
    * accumulate (each live entry is nlist x dim doubles — a bounded map
    * would otherwise grow by one centroid table per corpus replacement in
    * a long session). */
  private val quantizers = new java.util.concurrent.ConcurrentHashMap[
    (String, Int, Long), (String, Array[Array[Double]])]()

  private[similarity] def clearQuantizerCache(): Unit = quantizers.clear()

  /** Unit-normalize with the zero-guard floor, matching the fit-side SQL
    * `transform(e, x -> x / greatest(sqrt(aggregate(e, 0D, (a,v) -> a+v*v)),
    * 1e-30D))` operation-for-operation (index-order sum, sqrt, max-floor,
    * divide) so UDF-side assignment is bit-identical to fit-side. */
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

  /** Indices of the `n` nearest centroids by euclidean distance — the same
    * assignment rule (and first-min tie-break) KMeansModel.transform uses,
    * so cached-centroid assignment matches a fresh model.transform.
    *
    * This runs once per CORPUS ROW on the q49 index pass (n=1) — with the
    * corpus-adaptive defaults that is nlist ~ 11*sqrt(corpus) distance
    * computations per row, so the n=1 path is a primitive argmin (no
    * tuple boxing, no sort); first-min tie-break preserved. n>1 (the
    * probe side, numProbes rows) keeps the simple sort. */
  private[similarity] def nearestLists(cs: Array[Array[Double]], en: Array[Double], n: Int): Array[Int] = {
    def distTo(c: Array[Double]): Double = {
      var d = 0.0
      var j = 0
      val lim = math.min(c.length, en.length)
      while (j < lim) {
        val diff = c(j) - en(j); d += diff * diff; j += 1
      }
      d
    }
    if (n == 1) {
      var best = 0
      var bestD = Double.PositiveInfinity
      var i = 0
      while (i < cs.length) {
        val d = distTo(cs(i))
        if (d < bestD) { bestD = d; best = i }
        i += 1
      }
      Array(best)
    } else {
      cs.zipWithIndex.map { case (c, i) => (distTo(c), i) }
        .sortBy(_._1).take(n).map(_._2)
    }
  }

  /** Memoized spherical k-means quantizer fit for `dir`'s embeddings —
    * shared by the query path and [[IvfTier]]'s build so a persisted
    * index carries the exact centroids the live path would use. */
  private[similarity] def fitQuantizer(
      s: SparkSession, dir: String, nlist: Int, seed: Long): Array[Array[Double]] = {
    val emb = s.read.parquet(s"$dir/embeddings.parquet")
      .selectExpr("vec_id", "transform(embedding, x -> cast(x AS double)) AS e")
    val sig = corpusSignature(s, dir)
    quantizers.compute((dir, nlist, seed), (_, prev) =>
      if (prev != null && prev._1 == sig) prev
      else (sig, {
      // unit-normalize for the quantizer fit; the cosine ranking below is
      // scale-invariant so it keeps using the raw vectors. greatest(..,tiny)
      // keeps an all-zero embedding at the origin instead of NaN-poisoning
      // the k-means fit and every distance computed from it. This SQL HOF
      // runs interpreted with the aggregate() re-evaluated per element
      // (CollapseProject inlines any hoisted norm column right back into
      // the lambda) — acceptable ONLY here, on the one-time memoized
      // index-build; the per-query path below normalizes inside the
      // compiled UDF instead.
      val fitInput = emb.withColumn("en",
        expr("transform(e, x -> x / greatest(sqrt(aggregate(e, 0D, (a, v) -> a + v * v)), 1e-30D))"))
      val km = new KMeans()
        .setK(nlist).setSeed(seed).setMaxIter(10)
        .setFeaturesCol("fv").setPredictionCol("list_id")
      km.fit(fitInput.withColumn("fv", array_to_vector(col("en"))))
        .clusterCenters.map(_.toArray)
    }))._2
  }

  /** Inverted-list-pruned, cosine-scored candidate pairs — the pool
    * [[annTopK]] ranks, as (q_id, neighbor_id, cos). Exposed separately so
    * tests can count pool sizes directly instead of ranking with a
    * sentinel k. nlist/nprobe = 0 (the default) resolves corpus-adaptively
    * (see the class doc): (256, 36) on sf0.001 = recall@5 0.936 at scan
    * 0.218, (512, 73) on sf0.1 = 0.928 at 0.189 at the shipped seed
    * (TUNE_r11.txt ivfseeds; gated in ModulesSpec at recall >= 0.85,
    * scan <= 0.25 on both corpora, with 5-seed minima 0.920/0.856). */
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
 * The IVF tier: the geometry is the spherical k-means centroids, the
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
    AnnIvf.fitQuantizer(s, dir, nlist, seed)

  def writeGeometry(s: SparkSession, path: String, centroids: Geometry): Unit =
    AnnTier.writeModel(path, AnnTier.idVectorRows(s, centroids, "list_id", "center"))

  def readGeometry(s: SparkSession, path: String): Geometry = AnnTier.readIdVectors(s, path)

  /** Each row lands in its single nearest list — identical to
    * model.transform, but from the broadcast centroid array with no ML
    * fit on the query path. The codegen'd [[IvfLists]] takes the RAW
    * vector and unit-normalizes in compiled code (same index-order fold,
    * sqrt, floor and division as the fit's SQL HOF, so assignments are
    * bit-identical), keeping interpreted lambdas and ScalaUDF boxing off
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
