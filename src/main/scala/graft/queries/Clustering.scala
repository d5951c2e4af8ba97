package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * DISTRIBUTED K-MEANS (q207) — Lloyd's algorithm over the embedding
 * corpus, the semantic-clustering pass a mixture balancer or topic
 * auditor runs. The Spark shape is the canonical one: centroids are a
 * k×dim table BROADCAST each round, assignment is one map-side pass
 * (no shuffle — argmin over k distances per row), and the update is a
 * (cid, position)-keyed aggregation whose output is k×dim — the only
 * shuffle, bounded by geometry not corpus. Two rounds, k = 4,
 * deterministic init (the first k vectors by id).
 *
 * Determinism across engines is ENGINEERED, like q96/q176: floats scale
 * to integers once (floor(x·1e6 + 0.5), exact in both engines), then
 * SHIFT by +1e6 so every value is non-negative — squared distances are
 * shift-invariant, and the centroid mean's integer division only agrees
 * cross-engine on non-negative sums (Spark `div` truncates toward zero,
 * DuckDB `//` floors; identical iff operands are non-negative — the
 * shift is what buys bit-equality, not aesthetics). Ties in the argmin
 * break by centroid id. The oracle replays both rounds as generated CTE
 * layers (q176's device) and must land on identical cluster sizes and
 * centroid checksums.
 */
object Clustering {

  private val k = 4
  private val dim = 64
  private val rounds = 2

  /** The family's distance kernel: squared integer L2 as ONE native
    * codegen loop (graft.functions.L2SqLong) — bit-identical arithmetic
    * to the old `aggregate(zip_with(...))` HOF chain (same long ops,
    * same order), ~2x cheaper per pair because zip_with materialized a
    * fresh 64-element array per evaluation. Registration is idempotent
    * per session. */
  private[graft] def l2sq(s: SparkSession, a: String, b: String) = {
    graft.functions.L2SqLong.register(s)
    expr(s"l2sq_long($a, $b)")
  }

  /** The family's norm term as the native double-dot kernel:
    * `sqrt(dot_double(ed, ed))` replacing `sqrt(aggregate(transform(ed,
    * x -> x * x), 0.0D, (a, b) -> a + b))`. BIT-IDENTICAL accumulation
    * order (0.0 seed, products added left-to-right — DotProductSpec pins
    * it), so the cross-engine float assumption documented on [[semGrid]]
    * is unchanged and every downstream integer grid hashes the same.
    * Returned as the selectExpr fragment the four norm sites splice in;
    * registration is idempotent per session. */
  private def nrmExpr(s: SparkSession): String = {
    graft.functions.DotDouble.register(s)
    "sqrt(dot_double(ed, ed)) AS nrm"
  }

  private[queries] def scaled(s: SparkSession, dir: String): DataFrame =
    Tables.t(s, dir, "embeddings").selectExpr("vec_id",
      "transform(embedding, x -> cast(floor(cast(x AS double) * 1000000.0 + 0.5) AS bigint) + 1000000L) AS e")

  /** Assign a scaled frame to the given centroids: map-side argmin over
    * the broadcast k×dim geometry, ties by centroid id. */
  private[queries] def assignTo(s: SparkSession, se: DataFrame,
      cents: Seq[(Long, Seq[Long])]): DataFrame = {
    import s.implicits._
    se.crossJoin(broadcast(cents.toDF("cid", "ce")))
      .withColumn("dist", l2sq(s, "e", "ce"))
      .groupBy(col("vec_id"))
      .agg(min(struct(col("dist"), col("cid"))).as("m"))
      .select(col("vec_id"), col("m.cid").as("cid"))
  }

  /** Lloyd's rounds over an explicit scaled frame; returns the final
    * centroids and the final-round assignment. */
  private[queries] def lloyds(s: SparkSession,
      se: DataFrame): (Seq[(Long, Seq[Long])], DataFrame) = {
    // deterministic seed: the first k vectors by id (k×dim longs)
    var cents: Seq[(Long, Seq[Long])] = se.where(s"vec_id < $k")
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1))).toSeq
    var assign: DataFrame = null
    for (_ <- 1 to rounds) {
      assign = assignTo(s, se, cents)
      // update: (cid, pos)-keyed integer means — k×dim output, collected
      // as the next round's broadcast geometry
      val next = assign.join(se, "vec_id")
        .select(col("cid"), posexplode(col("e")).as(Seq("pos", "v")))
        .groupBy(col("cid"), col("pos"))
        // INTEGER division (both operands non-negative after the shift,
        // so Spark div == DuckDB //); a double mean would round-drift
        .agg(expr("sum(v) div count(1)").as("cv"))
      cents = next.collect()
        .groupBy(_.getLong(0))
        .map { case (cid, rows) =>
          (cid, rows.sortBy(_.getInt(1)).map(_.getLong(2)).toSeq)
        }.toSeq.sortBy(_._1)
      ()
    }
    (cents, assign)
  }

  def kmeans(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val se = Caches.persist(scaled(s, dir))
    val (cents, assign) = lloyds(s, se)
    val centSums = cents.map { case (cid, e) => (cid, e.sum) }
      .toDF("cid", "cent_sum")
    assign.groupBy(col("cid")).agg(count(lit(1)).as("n_members"))
      .join(broadcast(centSums), "cid")
      .select(col("cid"), col("n_members"), col("cent_sum"))
      .orderBy(col("cid"))
  }

  /** BATCH PERCEPTRON (q208) — a trainable linear classifier in the
    * distributed-training shape: each round is ONE aggregation (the
    * summed update of every misclassified row — exactly how
    * data-parallel gradient steps look on a cluster: broadcast the
    * model, map-side per-row gradients, reduce to a model-sized
    * update), the model lives on the driver between rounds (64+1
    * longs). Integer end to end — the perceptron update has no
    * division and no nonlinearity beyond sign, so unlike logistic
    * regression the whole training run replays EXACTLY in DuckDB.
    * Task: separate labels 0-4 from 5-9 in embedding space; the
    * output ledger is per-round misclassification counts + model
    * checksums, which pins every intermediate model, not just the
    * final one. */
  def perceptron(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.functions.DotLong.register(s)
    val data = Caches.persist(Tables.t(s, dir, "embeddings").selectExpr(
      "transform(embedding, x -> cast(floor(cast(x AS double) * 1000000.0 + 0.5) AS bigint)) AS x",
      "CASE WHEN label < 5 THEN 1L ELSE -1L END AS y"))
    var w = Array.fill(dim)(0L)
    var b = 0L
    val ledger = (1 to 3).map { round =>
      val wCol = array(w.map(lit): _*)
      // the margin's dot product on the native long kernel (dot_long) —
      // bit-identical to the old aggregate(zip_with(...)) chain, which
      // re-materialized a dim-length array per row per round
      val scored = data.withColumn("wl", wCol)
        .withColumn("m",
          col("y") * (expr("dot_long(x, wl)") + lit(b)))
      val mis = Caches.persist(scored.where(col("m") <= 0))
      val nMis = mis.count()
      if (nMis > 0) {
        val dw = mis.select(posexplode(expr("transform(x, xi -> xi * y)"))
            .as(Seq("pos", "g")))
          .groupBy(col("pos")).agg(sum(col("g")).as("dg"))
          .collect().map(r => (r.getInt(0), r.getLong(1))).toMap
        val db = mis.agg(sum(col("y"))).head().getLong(0)
        w = w.zipWithIndex.map { case (v, i) => v + dw.getOrElse(i, 0L) }
        b += db
      }
      (round.toLong, nMis, w.sum + b)
    }
    ledger.toDF("round", "n_misclassified", "model_checksum")
      .orderBy(col("round"))
  }

  /** k-NN CLASSIFICATION (q209) — the eval harness of every embedding
    * pipeline: held-out vectors classified by majority vote of their 5
    * nearest training neighbors, reported as a confusion matrix. The
    * eval side is CONSTANT-BOUNDED, not a corpus fraction: the q65
    * md5-rank device takes the `evalN` smallest md5(vec_id) rows of the
    * held-out slice (deterministic, seed-free, stable under corpus
    * growth), planned as one TakeOrderedAndProject — so the broadcast
    * is ≤ evalN rows WHATEVER the corpus, and the "all-pairs" distance
    * pass is one map-side sweep over the training scan: n_train × evalN
    * work, linear in the corpus, no shuffle until the evalN-keyed top-k
    * (bounded TopKPerKey heaps). At 100 TB the same read can swap the
    * brute sweep for the ANN index (q31/q49 family) + exact re-rank;
    * this entry is the exact-verification twin — unit-normalized
    * integer vectors (cosine-equivalent ranking), vote ties broken by
    * (count desc, label asc), every row of the confusion matrix
    * cross-engine-checked. Note the SANDBOX data's ceiling: the
    * generator's labels are independent of the embeddings (top-3
    * neighbor label purity measured at 8.8% ≈ 10-class chance), so the
    * matrix is near-uniform here — the contract is the computation, and
    * the oracle pins every cell of it. */
  private[graft] val evalN = 200

  def knnClassify(s: SparkSession, dir: String): DataFrame = {
    // UNIT-NORMALIZED integer grid: L2 over unit vectors ranks like
    // cosine — which is where this corpus's labels actually separate
    // (raw-L2 kNN measured at chance; the gated ANN recall lives in
    // cosine). The normalize-then-round pipeline is pure IEEE double
    // arithmetic in array order on both engines, so the integer grid —
    // and everything after it — is still bit-deterministic.
    val se = Caches.persist(Tables.t(s, dir, "embeddings")
      .selectExpr("vec_id", "label",
        "transform(embedding, x -> cast(x AS double)) AS ed")
      .selectExpr("vec_id", "label",
        nrmExpr(s),
        "ed")
      .selectExpr("vec_id", "label",
        "transform(ed, x -> cast(floor(x / nrm * 1000000.0 + 0.5) AS bigint)) AS e"))
    val train = se.where("vec_id % 10 < 8")
      .select(col("vec_id").as("t_id"), col("label").as("t_label"), col("e").as("te"))
    // constant-size eval: the evalN md5-smallest held-out rows (ties
    // impossible in practice; vec_id breaks them anyway) — a bounded
    // top-k, never a corpus fraction
    val test = se.where("vec_id % 10 >= 8")
      .withColumn("h", md5(col("vec_id").cast("string")))
      .orderBy(col("h"), col("vec_id")).limit(evalN)
      .select(col("vec_id").as("q_id"), col("label").as("q_label"), col("e").as("qe"))
    val dists = train.crossJoin(broadcast(test))
      .withColumn("negd", -l2sq(s, "te", "qe").cast("double"))
      .select(col("q_id"), col("q_label"), col("t_id"), col("negd"))
    confusionOf(dists, train)
  }

  /** The shared 5-NN vote → confusion-matrix tail: 5 nearest per query
    * through the bounded map-side heaps (negated distance: the
    * aggregator's (score DESC, id ASC) order becomes (dist ASC, t_id
    * ASC) — the oracle's exact tie-break; integer distances ≤ 64·(2e6)²
    * stay exact in the double score), majority vote with (count desc,
    * label asc) ties, one matrix aggregation. */
  private def confusionOf(dists: DataFrame, train: DataFrame): DataFrame = {
    val k5 = graft.plans.TopKPerKey.topK(dists, Seq("q_id", "q_label"),
      "negd", "t_id", 5, "negd", 4)
    val votes = k5
      .join(train.select(col("t_id"), col("t_label")), "t_id")
      .groupBy(col("q_id"), col("q_label"), col("t_label"))
      .agg(count(lit(1)).as("v"))
    val pred = votes
      .groupBy(col("q_id"), col("q_label"))
      .agg(min(struct(negate(col("v")), col("t_label"))).as("m"))
      .select(col("q_label").as("label"), col("m.t_label").as("predicted"))
    pred.groupBy(col("label"), col("predicted"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("label"), col("predicted"))
  }

  /** k-NN over ANN CANDIDATES (q214) — q209's production path, shipped:
    * candidate generation rides q54's FIXED integer hyperplanes (16
    * sign buckets over the normalized integer grid), so each query
    * compares only against same-bucket training rows — a broadcast
    * EQUI-join on the bucket key, ~1/16th of the brute sweep's distance
    * evaluations — then the exact integer re-rank, vote, and matrix are
    * q209's verbatim. Because the hyperplanes are fixed integer
    * literals (not engine-seeded gaussians), the WHOLE approximate
    * pipeline — bucketing, pruning, re-rank, vote — replays exactly in
    * DuckDB: this is the oracled twin of the recall-gated ANN tiers,
    * and the honest statement of the accuracy trade (a same-bucket rule
    * can miss true neighbors across a hyperplane; the oracle computes
    * the SAME approximation, so the contract is the computation). A
    * query whose bucket holds no training row drops from the matrix on
    * both engines. */
  def knnAnnClassify(s: SparkSession, dir: String): DataFrame = {
    val se = Caches.persist(Tables.t(s, dir, "embeddings")
      .selectExpr("vec_id", "label",
        "transform(embedding, x -> cast(x AS double)) AS ed")
      .selectExpr("vec_id", "label",
        nrmExpr(s),
        "ed")
      .selectExpr("vec_id", "label",
        "transform(ed, x -> cast(floor(x / nrm * 1000000.0 + 0.5) AS bigint)) AS e")
      .selectExpr("vec_id", "label", "e",
        s"${TextPipeline.fixedBucket} AS b"))
    val train = se.where("vec_id % 10 < 8")
      .select(col("vec_id").as("t_id"), col("label").as("t_label"),
        col("e").as("te"), col("b"))
    val test = se.where("vec_id % 10 >= 8")
      .withColumn("h", md5(col("vec_id").cast("string")))
      .orderBy(col("h"), col("vec_id")).limit(evalN)
      .select(col("vec_id").as("q_id"), col("label").as("q_label"),
        col("e").as("qe"), col("b"))
    val dists = train.join(broadcast(test), Seq("b"))
      .withColumn("negd", -l2sq(s, "te", "qe").cast("double"))
      .select(col("q_id"), col("q_label"), col("t_id"), col("negd"))
    confusionOf(dists, train)
  }

  /** ORACLED ANN RECALL AUDIT (q215) — overlap@5 between the exact 5-NN
    * (q209's brute integer sweep) and the bucket-pruned 5-NN (q214's
    * fixed-hyperplane candidates), per eval query, reported as a
    * histogram (overlap5 → n_queries). Both paths are fully
    * deterministic — same normalized integer grid, same (dist, t_id)
    * neighbor order — so the RECALL MEASUREMENT itself replays
    * bit-for-bit in DuckDB: the accuracy trade the gaussian ANN tiers
    * can only spec-gate (ModulesSpec recall floors) is here a
    * hash-checked number. A query whose bucket holds no training row
    * keeps overlap 0 through the left join — silent drops would
    * overstate recall. On this sandbox's near-isotropic gaussians the
    * measured overlap is LOW (mean ≈ 0.6/5 at sf0.01): a single
    * 16-bucket sign partition keeps ~1/16 of candidates and isotropic
    * neighbors spread across hyperplanes — the honest price of the
    * hardest regime, which the recall-gated multi-probe tiers
    * (q31/q49/q60) exist to buy back; clustered production corpora
    * concentrate neighbors into shared buckets. Scale: the exact side
    * is the q209 sweep (n_train × evalN, constant eval broadcast), the
    * ANN side the q214 equi-join; the audit adds one evalN-sized join
    * on top. */
  def annRecallAudit(s: SparkSession, dir: String): DataFrame = {
    val se = Caches.persist(Tables.t(s, dir, "embeddings")
      .selectExpr("vec_id",
        "transform(embedding, x -> cast(x AS double)) AS ed")
      .selectExpr("vec_id",
        nrmExpr(s),
        "ed")
      .selectExpr("vec_id",
        "transform(ed, x -> cast(floor(x / nrm * 1000000.0 + 0.5) AS bigint)) AS e")
      .selectExpr("vec_id", "e", s"${TextPipeline.fixedBucket} AS b"))
    val train = se.where("vec_id % 10 < 8")
      .select(col("vec_id").as("t_id"), col("e").as("te"), col("b"))
    val test = Caches.persist(se.where("vec_id % 10 >= 8")
      .withColumn("h", md5(col("vec_id").cast("string")))
      .orderBy(col("h"), col("vec_id")).limit(evalN)
      .select(col("vec_id").as("q_id"), col("e").as("qe"), col("b")))
    def negd = -l2sq(s, "te", "qe").cast("double")
    val exact5 = graft.plans.TopKPerKey.topK(
      train.crossJoin(broadcast(test.select(col("q_id"), col("qe"))))
        .withColumn("negd", negd)
        .select(col("q_id"), col("t_id"), col("negd")),
      "q_id", "negd", "t_id", 5, "negd", 4)
    val ann5 = graft.plans.TopKPerKey.topK(
      train.join(broadcast(test), Seq("b"))
        .withColumn("negd", negd)
        .select(col("q_id"), col("t_id"), col("negd")),
      "q_id", "negd", "t_id", 5, "negd", 4)
    overlapHistogram(test, exact5, ann5)
  }

  private[graft] val ivfNprobe = 2

  /** ORACLED IVF RECALL AUDIT (q219) — q215's overlap@5 device pointed
    * at the INVERTED-LIST family: the coarse quantizer is q207's
    * engineered-deterministic integer Lloyd's (nlist = 4 lists over the
    * unit-normalized shifted grid — the q217 geometry, same documented
    * ULP assumption), each training row lands in its nearest-centroid
    * list, and a query probes its `ivfNprobe` = 2 nearest lists —
    * candidates are a cid EQUI-join (≈ nprobe/nlist of the corpus),
    * then the exact integer re-rank with q215's (dist, t_id) order.
    * Every stage — clustering, list assignment, probe choice, re-rank,
    * the overlap histogram — replays bit-for-bit in DuckDB, so the IVF
    * recall NUMBER is hash-checked the way q215 hash-checks the
    * hyperplane tier's: the last ANN family whose recall was only
    * spec-gated (ModulesSpec floors on the k-means++-seeded q49/q59
    * production tiers) now has an oracled twin. Scale: centroids are
    * k×dim broadcast geometry; the inverted lists partition by cid
    * (nothing corpus-sized broadcasts — the probe set is ≤ evalN ×
    * nprobe rows); the exact side is the q209 sweep, constant-bounded
    * by the evalN = 200 broadcast, inherent to any recall audit. */
  def ivfRecallAudit(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val se = Caches.persist(semGrid(s, dir))
    val (cents, _) = lloyds(s, se)
    val cdf = broadcast(cents.toDF("cid", "ce"))
    def d(a: String, b: String) = l2sq(s, a, b)
    val train = se.where("vec_id % 10 < 8")
      .select(col("vec_id").as("t_id"), col("e").as("te"))
    // inverted lists: nearest-centroid assignment under the FINAL
    // centroids (map-side argmin over broadcast geometry, ties by cid)
    val lists = train.crossJoin(cdf)
      .withColumn("dc", d("te", "ce"))
      .groupBy(col("t_id")).agg(min(struct(col("dc"), col("cid"))).as("m"))
      .select(col("t_id"), col("m.cid").as("cid"))
      .join(train, "t_id")
    val test = Caches.persist(se.where("vec_id % 10 >= 8")
      .withColumn("h", md5(col("vec_id").cast("string")))
      .orderBy(col("h"), col("vec_id")).limit(evalN)
      .select(col("vec_id").as("q_id"), col("e").as("qe")))
    // probe set: the nprobe nearest lists per query — evalN×k rows
    // ranked by a bounded window, output ≤ evalN × nprobe
    val wq = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_id")).orderBy(col("dc"), col("cid"))
    val probes = test.crossJoin(cdf)
      .withColumn("dc", d("qe", "ce"))
      .withColumn("rn", row_number().over(wq)).where(col("rn") <= ivfNprobe)
      .select(col("q_id"), col("cid"), col("qe"))
    val exact5 = graft.plans.TopKPerKey.topK(
      train.crossJoin(broadcast(test))
        .withColumn("negd", -d("te", "qe").cast("double"))
        .select(col("q_id"), col("t_id"), col("negd")),
      "q_id", "negd", "t_id", 5, "negd", 4)
    val ann5 = graft.plans.TopKPerKey.topK(
      lists.join(broadcast(probes), Seq("cid"))
        .withColumn("negd", -d("te", "qe").cast("double"))
        .select(col("q_id"), col("t_id"), col("negd")),
      "q_id", "negd", "t_id", 5, "negd", 4)
    overlapHistogram(test, exact5, ann5)
  }

  /** The shared overlap@5 tail of every recall audit: per-query
    * intersection of the exact and approximate 5-NN id sets, zero-filled
    * through the left join (a candidate-starved query counts as overlap
    * 0 — silent drops would overstate recall), grouped to the
    * histogram. */
  private def overlapHistogram(test: DataFrame, exact5: DataFrame,
      ann5: DataFrame): DataFrame = {
    val inter = exact5.select(col("q_id"), col("t_id"))
      .join(ann5.select(col("q_id"), col("t_id")), Seq("q_id", "t_id"))
      .groupBy(col("q_id")).agg(count(lit(1)).as("o"))
    test.select(col("q_id")).join(inter, Seq("q_id"), "left")
      .selectExpr("coalesce(o, 0L) AS overlap5")
      .groupBy(col("overlap5")).agg(count(lit(1)).as("n_queries"))
      .orderBy(col("overlap5"))
  }

  // ---- q220/q221: the PQ + IVF-PQ oracled recall audits ----

  /** 4 subspaces × 16 dims over the 64-dim grid. The production tier
    * (AnnPq) ships 16×16 with k-means++-seeded floating-point Lloyd's on
    * unit-normalized vectors (AnnLloyd); the AUDIT twin trades subspace
    * count for an oracle — each codebook is the q207 engineered-
    * deterministic integer Lloyd's on a grid slice, so the whole
    * encode→ADC→overlap chain replays bit-for-bit in DuckDB. Fewer
    * subspaces = coarser codes = honestly LOWER recall; the contract is
    * the measurement, exactly q215/q219's stance toward their production
    * siblings. */
  private[graft] val pqM = 4
  private val subW = dim / pqM

  /** Per-subspace deterministic codebooks: the q207 integer Lloyd's on
    * each `subW`-dim slice (k codes per subspace, first-k-ids init),
    * fit for ALL subspaces JOINTLY — the corpus explodes once to
    * (vec_id, sub, slice) and each round is ONE assignment aggregation
    * + ONE update aggregation keyed by (sub, ...), instead of pqM
    * sequential chains each paying its own round of driver-synchronous
    * jobs (4 chains × 3 jobs → 3 jobs total; at cluster scale, one
    * barrier per round instead of pqM). The per-subspace arithmetic is
    * UNCHANGED — same argmin ties (min over (dist, cid) structs), same
    * non-negative integer-division means — so the DuckDB oracles' four
    * independent chains still replay it exactly. Driver-side output is
    * pqM × k × subW longs — codebook geometry. */
  private def pqBooks(s: SparkSession,
      se: DataFrame): Seq[Seq[(Long, Seq[Long])]] = {
    import s.implicits._
    val sliceStructs = (0 until pqM).map(sub =>
      s"struct($sub AS sub, slice(e, ${sub * subW + 1}, $subW) AS sv)")
      .mkString(", ")
    val slices = Caches.persist(se.selectExpr("vec_id",
        s"explode(array($sliceStructs)) AS s")
      .selectExpr("vec_id", "s.sub AS sub", "s.sv AS e"))
    // seed: the first k ids' slices, per subspace
    var cents: Seq[((Int, Long), Seq[Long])] = slices.where(s"vec_id < $k")
      .collect().map(r => ((r.getInt(1), r.getLong(0)), r.getSeq[Long](2))).toSeq
    for (_ <- 1 to rounds) {
      val cdf = broadcast(cents.map { case ((sub, cid), ce) => (sub, cid, ce) }
        .toDF("sub", "cid", "ce"))
      val assign = slices.join(cdf, "sub")
        .withColumn("dc", l2sq(s, "e", "ce"))
        .groupBy(col("vec_id"), col("sub"))
        .agg(min(struct(col("dc"), col("cid"))).as("m"))
        .select(col("vec_id"), col("sub"), col("m.cid").as("cid"))
      val next = assign.join(slices, Seq("vec_id", "sub"))
        .select(col("sub"), col("cid"), posexplode(col("e")).as(Seq("pos", "v")))
        .groupBy(col("sub"), col("cid"), col("pos"))
        .agg(expr("sum(v) div count(1)").as("cv"))
      cents = next.collect()
        .groupBy(r => (r.getInt(0), r.getLong(1)))
        .map { case (key, rows) =>
          (key, rows.sortBy(_.getInt(2)).map(_.getLong(3)).toSeq)
        }.toSeq
    }
    (0 until pqM).map(sub => cents.collect { case ((s2, cid), ce) if s2 == sub =>
      (cid, ce) }.sortBy(_._1))
  }

  /** PQ encode-then-reconstruct as ONE map-side SQL fragment: per
    * subspace, the nearest sub-centroid (integer L2 on the native
    * kernel, ties by code id — array_min over (dist, code) structs) is
    * looked up from the LITERAL codebook map and the pqM winners
    * concatenate back to dim length. Literals are how broadcast
    * geometry reaches a map-side encoder; at scale the codes (pqM small
    * ints/row) are what an index would persist, and the reconstruction
    * ‖q − recon(x)‖² = Σ_m ‖q_m − c_m‖² is EXACTLY the classic ADC
    * estimate — one shared kernel instead of a per-engine LUT. */
  private def pqReconSql(books: Seq[Seq[(Long, Seq[Long])]],
      vecCol: String): String = {
    val parts = books.zipWithIndex.map { case (cents, sub) =>
      val sl = s"slice($vecCol, ${sub * subW + 1}, $subW)"
      def arr(ce: Seq[Long]) = ce.map(v => s"${v}L").mkString("array(", ", ", ")")
      val structs = cents.map { case (cid, ce) =>
        s"named_struct('d', l2sq_long($sl, ${arr(ce)}), 'c', ${cid}L)"
      }.mkString(", ")
      val mapping = cents.map { case (cid, ce) =>
        s"${cid}L, ${arr(ce)}"
      }.mkString(", ")
      s"element_at(map($mapping), array_min(array($structs)).c)"
    }
    parts.mkString("concat(", ", ", ")")
  }

  /** ORACLED PQ RECALL AUDIT (q220) — q215's overlap@5 device pointed at
    * PRODUCT QUANTIZATION (Jégou et al., TPAMI 2011): no candidate
    * pruning at all (AnnPq's compressed scan touches every row — the
    * scale claim is bytes-per-row), so the approximation under audit is
    * pure QUANTIZATION distortion: the approximate 5-NN ranks every
    * training row by distance-to-reconstruction. Codebooks, encode,
    * ADC-via-reconstruction, and the histogram all replay bit-for-bit
    * in DuckDB — the PQ tier's recall NUMBER is hash-checked the way
    * q215/q219 check the hyperplane and IVF tiers'. Scale: codebook fits
    * are pqM slice-width Lloyd's (geometry-bounded); the encode is one
    * map-side pass; the two sweeps are the q209 shape, constant-bounded
    * by the evalN broadcast. */
  def pqRecallAudit(s: SparkSession, dir: String): DataFrame = {
    val se = Caches.persist(semGrid(s, dir))
    // the deterministic codebook fit persists once per corpus content
    // (AuditGeom — the q58 persisted-store device); a warm audit lap
    // answers from the stored geometry instead of re-running the fit's
    // driver-synchronous Lloyd's rounds over unchanged bytes
    val books = AuditGeom.pqGeom(s, dir)(pqBooks(s, se))
    graft.functions.L2SqLong.register(s)
    val train = se.where("vec_id % 10 < 8")
      .select(col("vec_id").as("t_id"), col("e").as("te"))
    val trainR = Caches.persist(train.selectExpr("t_id", "te",
      s"${pqReconSql(books, "te")} AS re"))
    val test = Caches.persist(se.where("vec_id % 10 >= 8")
      .withColumn("h", md5(col("vec_id").cast("string")))
      .orderBy(col("h"), col("vec_id")).limit(evalN)
      .select(col("vec_id").as("q_id"), col("e").as("qe")))
    val exact5 = graft.plans.TopKPerKey.topK(
      trainR.crossJoin(broadcast(test))
        .withColumn("negd", -l2sq(s, "te", "qe").cast("double"))
        .select(col("q_id"), col("t_id"), col("negd")),
      "q_id", "negd", "t_id", 5, "negd", 4)
    val ann5 = graft.plans.TopKPerKey.topK(
      trainR.crossJoin(broadcast(test))
        .withColumn("negd", -l2sq(s, "re", "qe").cast("double"))
        .select(col("q_id"), col("t_id"), col("negd")),
      "q_id", "negd", "t_id", 5, "negd", 4)
    overlapHistogram(test, exact5, ann5)
  }

  /** The residual shift: grid coordinates live in [0, 2e6] (semGrid's
    * unit scale + shift), coarse centroids too, so residuals span
    * ±2e6; +2e6 keeps the residual Lloyd's integer means non-negative —
    * the same Spark-div == DuckDB-// device as semGrid's own shift.
    * Distances are shift-invariant, and the reconstruction subtracts it
    * back before the coarse centroid is re-added. */
  private val resShift = 2000000L

  /** ORACLED IVF-PQ RECALL AUDIT (q221) — the COMPOSED twin (FAISS
    * IVFADC, Jégou et al. §IV, mirroring [[AnnIvfPq]]): the coarse
    * quantizer prunes WHICH rows are scored (q219's deterministic
    * inverted lists, nprobe = 2) and residual PQ codes decide HOW each
    * survivor is scored — codes quantize the residual e − c(list)
    * (shifted non-negative), and the candidate distance is
    * ‖q − (c_list + recon(residual))‖², the reconstruction form of the
    * IVFADC estimate. Both approximation layers — list pruning AND
    * quantization distortion — price into one hash-checked overlap
    * histogram; with this, all four ANN families (hyperplane LSH, IVF,
    * PQ, IVF-PQ) carry an oracled recall audit beside their recall-gated
    * production tiers. */
  def ivfPqRecallAudit(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val se = Caches.persist(semGrid(s, dir))
    graft.functions.L2SqLong.register(s)
    val train = se.where("vec_id % 10 < 8")
      .select(col("vec_id").as("t_id"), col("e").as("te"))
    // inverted lists + shifted residuals, one pass (te kept for the
    // exact side, ce for the reconstruction); built against an explicit
    // centroid table so the fit closure and the read path share the plan
    def listsOf(cdf: DataFrame): DataFrame = Caches.persist(train.crossJoin(cdf)
      .withColumn("dc", l2sq(s, "te", "ce"))
      .groupBy(col("t_id")).agg(min(struct(col("dc"), col("cid"))).as("m"))
      .select(col("t_id"), col("m.cid").as("cid"))
      .join(train, "t_id").join(cdf, "cid")
      .selectExpr("t_id", "cid", "te", "ce",
        s"zip_with(te, ce, (x, c) -> x - c + ${resShift}L) AS rs"))
    // coarse centroids + residual codebooks persist once per corpus
    // content (AuditGeom): a warm lap loads the deterministic geometry
    // instead of re-running lloyds + the per-subspace residual Lloyd's
    // (first-k-train-ids init — ids 0..3 are all % 10 < 8)
    val (cents, rbooks) = AuditGeom.ivfPqGeom(s, dir) {
      val (c, _) = lloyds(s, se)
      val fitLists = listsOf(broadcast(c.toDF("cid", "ce")))
      (c, pqBooks(s, fitLists.selectExpr("t_id AS vec_id", "rs AS e")))
    }
    val cdf = broadcast(cents.toDF("cid", "ce"))
    val lists = listsOf(cdf)
    val trainR = Caches.persist(lists.selectExpr("t_id", "cid", "te",
      s"zip_with(ce, ${pqReconSql(rbooks, "rs")}, (c, r) -> c + r - ${resShift}L) AS rt"))
    val test = Caches.persist(se.where("vec_id % 10 >= 8")
      .withColumn("h", md5(col("vec_id").cast("string")))
      .orderBy(col("h"), col("vec_id")).limit(evalN)
      .select(col("vec_id").as("q_id"), col("e").as("qe")))
    // probe set: q219's — the nprobe nearest lists per query
    val wq = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_id")).orderBy(col("dc"), col("cid"))
    val probes = test.crossJoin(cdf)
      .withColumn("dc", l2sq(s, "qe", "ce"))
      .withColumn("rn", row_number().over(wq)).where(col("rn") <= ivfNprobe)
      .select(col("q_id"), col("cid"), col("qe"))
    val exact5 = graft.plans.TopKPerKey.topK(
      train.crossJoin(broadcast(test))
        .withColumn("negd", -l2sq(s, "te", "qe").cast("double"))
        .select(col("q_id"), col("t_id"), col("negd")),
      "q_id", "negd", "t_id", 5, "negd", 4)
    val ann5 = graft.plans.TopKPerKey.topK(
      trainR.join(broadcast(probes), Seq("cid"))
        .withColumn("negd", -l2sq(s, "rt", "qe").cast("double"))
        .select(col("q_id"), col("t_id"), col("negd")),
      "q_id", "negd", "t_id", 5, "negd", 4)
    overlapHistogram(test, exact5, ann5)
  }

  /** Exact eps-neighborhood edge set {(u,v) : u ≠ v, ‖u−v‖² ≤ eps} via
    * GRID-BLOCKED candidate generation — a shuffled EQUI-JOIN on cell
    * keys, never a corpus broadcast or cartesian:
    *
    *   - cell side s = ceil(√eps): if ‖u−v‖² ≤ eps then per-dim
    *     |uᵢ−vᵢ| ≤ √eps ≤ s, and |a−b| ≤ s implies the floor(·/s) cell
    *     coordinates differ by AT MOST 1 — so every true neighbor pair
    *     lands in adjacent-or-same cells on EVERY dim. The candidate
    *     rule (±1 on the first two grid dims) is therefore CONSERVATIVE
    *     (spec: planted-cluster candidate set ⊇ brute-force edges);
    *   - one side replicates to its 3×3 cell neighborhood, the other
    *     sits at its home cell; a candidate pair meets EXACTLY once (at
    *     v's home cell — u's nine replicas carry distinct keys), so no
    *     dedup pass is needed;
    *   - the exact integer distance verifies every candidate, so the
    *     semantics — and the DuckDB oracle — are unchanged.
    *
    * Scale honesty: the join partitions by cell, so at 100 TB no
    * operator sees more than a cell neighborhood at once and nothing
    * corpus-sized broadcasts. How much the grid PRUNES is data-
    * dependent: on clustered corpora (the production case) cross-
    * cluster cells never meet; on this sandbox's near-isotropic unit
    * vectors an eps at the ~5th distance percentile admits ~4% of ALL
    * pairs as true edges, so the edge OUTPUT itself is Θ(0.04·n²) and
    * no conservative filter can beat the output size — the real
    * density lever is eps, not the blocking. Note the degenerate
    * regime honestly: at THIS eps the cell side (⌈√eps⌉ ≈ 1.22e6)
    * exceeds the coordinate span (±1e6), so c0/c1 each take only ~2
    * values and the grid is effectively one cell neighborhood — the
    * blocking prunes nothing here and only pays off when eps ≪ data
    * spread. The side cannot shrink below √eps without breaking the
    * ±1 conservativeness (a pair may put ALL its distance budget in
    * dim 0, so only |uᵢ−vᵢ| ≤ √eps holds per dim), and extra key dims
    * multiply replication by 3× each while this eps leaves ~2 values
    * per dim — so the device that actually caps the worst partition is
    * OCCUPANCY SALTING below, not a finer grid. */
  /** The candidate stage alone — (u, v, ea, eb) pairs surviving the
    * grid rule, BEFORE the exact distance verify (join keys k0/k1/salt
    * kept so specs can audit the shuffle-key distribution). Exposed so
    * the spec can measure pruning (on clustered data candidates ≪ all
    * pairs) as well as prove conservativeness.
    *
    * HOT-CELL SALTING: a near-isotropic corpus piles most rows into a
    * handful of cells, making the equi-join's worst partition quadratic
    * in cell occupancy. Cells above `maxCellRows` split into
    * ⌈occupancy/maxCellRows⌉ hash shards (the SaltedJoin count-then-
    * split device applied to cell keys): the home side takes ONE shard
    * (its id's hash), the replicated side fans out to every shard of a
    * hot cell, so each (u, v) pair still meets EXACTLY once — at v's
    * home cell and v's single salt — and the candidate SET is
    * byte-identical to the unsalted rule (the oracle never notices).
    * The shard map holds only cells ABOVE the cap — at most
    * n/maxCellRows entries, in practice a handful — so the broadcast
    * stays metadata-sized even when every point has its own cell. */
  private[graft] def gridCandidates(se: DataFrame, eps: Long,
      maxCellRows: Long = 1L << 12): DataFrame = {
    val side = math.ceil(math.sqrt(eps.toDouble)).toLong
    def withCells(df: DataFrame): DataFrame = df
      .withColumn("c0", floor(col("e").getItem(0) / side.toDouble).cast("long"))
      .withColumn("c1", floor(col("e").getItem(1) / side.toDouble).cast("long"))
    val offsets = array((for { dx <- -1 to 1; dy <- -1 to 1 } yield
      struct(lit(dx).as("dx"), lit(dy).as("dy"))): _*)
    val b0 = withCells(se.select(col("vec_id").as("v"), col("e")))
      .select(col("v"), col("e").as("eb"),
        col("c0").as("k0"), col("c1").as("k1"))
    val hot = b0.groupBy(col("k0"), col("k1"))
      .agg(count(lit(1)).as("occ")).where(col("occ") > maxCellRows)
      .select(col("k0"), col("k1"),
        ceil(col("occ").cast("double") / maxCellRows).cast("int").as("shards"))
    val b = b0.join(broadcast(hot), Seq("k0", "k1"), "left")
      .withColumn("salt",
        pmod(hash(col("v")), coalesce(col("shards"), lit(1))))
      .drop("shards")
    val a = withCells(se.select(col("vec_id").as("u"), col("e")))
      .withColumn("o", explode(offsets))
      .select(col("u"), col("e").as("ea"),
        (col("c0") + col("o.dx")).as("k0"), (col("c1") + col("o.dy")).as("k1"))
      .join(broadcast(hot), Seq("k0", "k1"), "left")
      .withColumn("salt",
        explode(expr("sequence(0, coalesce(shards, 1) - 1)")))
      .drop("shards")
    a.join(b, Seq("k0", "k1", "salt"))
      .where(col("u") =!= col("v"))
  }

  private[graft] def epsNeighbors(se: DataFrame, eps: Long): DataFrame =
    gridCandidates(se, eps)
      .where(l2sq(se.sparkSession, "ea", "eb") <= eps)
      .select(col("u"), col("v"))

  /** DBSCAN (q210) — density clustering, the shape-agnostic complement
    * to q207's k-means (no k, finds noise): core points have ≥ minPts
    * neighbors within eps, clusters are connected components over
    * core-core edges (the same checkpointed star-CC as the dedup
    * closure), borders attach to the MIN cluster among their core
    * neighbors (classic DBSCAN is insertion-order-dependent exactly
    * here; min-id is the deterministic choice both engines replay),
    * everything else is noise. Integer distances; eps sits at the
    * measured 5th percentile of the slice's pairwise distances so the
    * density graph is sparse but non-trivial (5 clusters + borders +
    * noise on the sandbox corpus). The neighbor pass rides
    * [[epsNeighbors]]' grid-blocked equi-join — exact semantics, no
    * corpus broadcast, no cartesian at any scale. */
  private[graft] val dbscanEps = 1500000000000L

  private[graft] def dbscanSlice(s: SparkSession, dir: String): DataFrame =
    Tables.t(s, dir, "embeddings")
      .where("vec_id % 5 = 0").selectExpr("vec_id",
        "transform(embedding, x -> cast(floor(cast(x AS double) * 1000000.0 + 0.5) AS bigint)) AS e")

  def dbscan(s: SparkSession, dir: String): DataFrame = {
    val eps = dbscanEps
    val minNeighbors = 3 // minPts = 4 counting the point itself
    val se = Caches.persist(dbscanSlice(s, dir))
    val nb = Caches.persist(epsNeighbors(se, eps))
    val core = Caches.persist(nb.groupBy(col("u")).agg(count(lit(1)).as("n"))
      .where(col("n") >= minNeighbors).select(col("u")))
    val coreEdges = nb
      .join(core, Seq("u"), "left_semi")
      .join(core.withColumnRenamed("u", "v"), Seq("v"), "left_semi")
    graft.plans.ConnectedComponents.ensureReliableCheckpointDir(s)
    val cc = graft.plans.ConnectedComponents.components(
      coreEdges.select(col("u"), col("v")))
    // isolated cores (no core-core edge) are their own singleton cluster
    val coreCluster = Caches.persist(core
      .join(cc.withColumnRenamed("node", "u"), Seq("u"), "left")
      .selectExpr("u", "coalesce(cluster, u) AS cluster_id"))
    val border = nb
      .join(core, Seq("u"), "left_anti") // u is not core
      .join(coreCluster.select(col("u").as("v"), col("cluster_id")), "v")
      .groupBy(col("u")).agg(min(col("cluster_id")).as("cluster_id"))
    val nCore = coreCluster.groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("n_core"))
    val nBorder = border.groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("n_border"))
    val clusters = nCore.join(nBorder, Seq("cluster_id"), "left")
      .selectExpr("cluster_id", "n_core", "coalesce(n_border, 0L) AS n_border")
    val nNoise = se.select(col("vec_id").as("u"))
      .join(core, Seq("u"), "left_anti")
      .join(border.select("u"), Seq("u"), "left_anti")
      .count()
    import s.implicits._
    clusters.unionByName(
        Seq((-1L, 0L, nNoise)).toDF("cluster_id", "n_core", "n_border"))
      .orderBy(col("cluster_id"))
  }

  /** SEMANTIC DEDUP (q217) — the SemDeDup recipe (Abbas et al. 2023,
    * arXiv:2303.09540): k-means the embedding space, then hunt
    * near-duplicates ONLY within a cluster — the cluster id is the
    * blocking key that turns the corpus-quadratic pairwise pass into a
    * per-cluster equi-join, exactly how the paper makes web-scale
    * semantic dedup tractable (production runs pick k ≈ n/⟨cluster⟩ so
    * no cluster outgrows a partition; within a huge cluster the q29
    * sign-bucket device composes as a second blocking level). Here the
    * clustering is q207's ENGINEERED-deterministic integer Lloyd's
    * (normalized grid + the non-negative shift that makes Spark `div`
    * == DuckDB `//`), so the WHOLE pipeline — clustering, blocking,
    * near-dup verdicts — replays bit-for-bit in the oracle.
    *
    * The corpus is seeded with deterministic planted near-dups (every
    * vec_id % 53 == 0 row re-enters at id+1e9 with its first grid
    * coordinate nudged +1000 — an INTEGER-space perturbation both
    * engines replay exactly, distance² = 1e6 ≪ τ), so the dup rule has
    * real positives on this isotropic sandbox; τ = 2e9 on the 1e6 unit
    * grid ≈ cosine 0.999 (‖u−v‖² = 2·10¹²·(1−cosθ) on unit vectors),
    * far below any natural pair at dim 64 (cos σ ≈ 1/√64). Keeper
    * rule: a row drops iff a SMALLER id in ITS cluster sits within τ —
    * the deterministic "keep first" choice, no CC needed (dedup
    * CLUSTERS with transitive closure are q66/q69's lane). Note the
    * honest miss built into the method: a near-dup pair split across a
    * cluster boundary is never compared — the paper's trade, priced
    * here by construction. */
  private[graft] val semDupTau = 2000000000L

  /** The q217/q218 grid: unit-normalized (cosine geometry — where
    * semantic similarity lives), 1e6 integer grid, +1e6 shift so the
    * centroid means' integer divisions agree cross-engine.
    *
    * CROSS-ENGINE FLOAT ASSUMPTION (unlike q207's scaled(), which is a
    * single bit-exact multiply+floor per element): the norm is a
    * double sum-of-squares — Spark's left-fold `aggregate` vs DuckDB's
    * `list_sum` — and the quotient feeds floor(v·1e6 + 0.5), so a
    * coordinate within ~1 ULP of a rounding boundary could flip a grid
    * cell between engines. Both engines sum 64 same-order doubles
    * left-to-right here (DuckDB's list_sum over a list preserves
    * element order), and the corpus's float32-born values sit ~2^23
    * away from .5-boundaries after the ÷norm·1e6 map, so the boundary
    * case has measure ≈ 0 on this data; q209/q214/q215 (same device,
    * three rounds green) pin it empirically. If an engine ever changes
    * its list-fold order, the exact fix is mechanical: compute the
    * sum-of-squares on the pre-scaled integer grid (bigint-exact) and
    * divide once — kept out of the shipped path only because it would
    * re-hash six green queries for a regime the data cannot reach. */
  private[queries] def semGrid(s: SparkSession, dir: String): DataFrame =
    Tables.t(s, dir, "embeddings")
      .selectExpr("vec_id", "transform(embedding, x -> cast(x AS double)) AS ed")
      .selectExpr("vec_id",
        nrmExpr(s),
        "ed")
      .selectExpr("vec_id",
        "transform(ed, x -> cast(floor(x / nrm * 1000000.0 + 0.5) AS bigint) + 1000000L) AS e")

  /** q217's corpus: the grid plus planted integer-space near-dups. */
  private[graft] def semCorpus(s: SparkSession, dir: String): DataFrame = {
    val base = semGrid(s, dir)
    base.unionByName(base.where("vec_id % 53 = 0")
      .selectExpr("vec_id + 1000000000L AS vec_id",
        "concat(array(e[0] + 1000L), slice(e, 2, 63)) AS e"))
  }

  /** The cluster-blocked drop pass alone — a cid-keyed EQUI-join over
    * the clustered corpus `m` (vec_id, cid, e), never a cartesian
    * (spec-pinned); a row drops iff a smaller id in its cluster sits
    * within τ. Factored so the spec can plan-audit the join and diff
    * the drop set against an unblocked brute-force pass. */
  private[graft] def semDupDropped(m: DataFrame): DataFrame =
    m.select(col("cid"), col("vec_id").as("v"), col("e").as("eb"))
      .join(m.select(col("cid"), col("vec_id").as("u"), col("e").as("ea")), Seq("cid"))
      .where(col("u") < col("v"))
      .where(l2sq(m.sparkSession, "ea", "eb") <= semDupTau)
      .select(col("v")).distinct()

  /** q217's clustered corpus: planted-dup grid + the Lloyd's labels. */
  private[graft] def semClustered(s: SparkSession, dir: String): DataFrame = {
    val se = Caches.persist(semCorpus(s, dir))
    val (_, assign) = lloyds(s, se)
    assign.join(se, "vec_id")
  }

  def semDedup(s: SparkSession, dir: String): DataFrame = {
    // (vec_id, cid, e) — the clustered corpus both join sides read
    val m = Caches.persist(semClustered(s, dir))
    val dropped = semDupDropped(m)
    m.select(col("cid"), col("vec_id"))
      .join(dropped.select(col("v").as("vec_id"), lit(1L).as("d")), Seq("vec_id"), "left")
      .groupBy(col("cid"))
      .agg(count(lit(1)).as("n_members"),
        sum(coalesce(col("d"), lit(0L))).as("n_dropped"),
        sum(when(col("d").isNull, col("vec_id")).otherwise(lit(0L))).as("kept_id_sum"))
      .orderBy(col("cid"))
  }

  /** PROTOTYPE PRUNING (q218) — the D4 companion pass (Tirumala et al.
    * 2023, arXiv:2308.12284; SSL-prototypes, Sorscher et al. 2022):
    * after semantic dedup, drop the most PROTOTYPICAL quarter of each
    * cluster — the rows closest to their centroid, which carry the
    * least marginal information for training — keeping the diverse
    * tail. Deterministic end to end: q207's integer Lloyd's provides
    * the centroids, the member→centroid distance is exact integer L2
    * on the shared grid, and the per-cluster rank orders by (dist ASC,
    * vec_id ASC) so ties replay. The rank is a cluster-partitioned
    * window — state bounded by cluster size, no corpus sort; at scale
    * the same per-cluster ⌊n/4⌋ cut runs as a TopKPerKey bounded heap
    * when only the drop list (not full ranks) is needed. */
  def prototypePrune(s: SparkSession, dir: String): DataFrame = {
    val se = Caches.persist(semGrid(s, dir))
    val (cents, assign) = lloyds(s, se)
    import s.implicits._
    val cdf = broadcast(cents.toDF("cid", "ce"))
    val d = assign.join(se, "vec_id").join(cdf, "cid")
      .withColumn("dist", l2sq(s, "e", "ce"))
      .select(col("cid"), col("vec_id"), col("dist"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cid")).orderBy(col("dist"), col("vec_id"))
    val ranked = d.withColumn("rn", row_number().over(w))
      .withColumn("nc", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("cid"))))
    ranked.groupBy(col("cid"))
      .agg(count(lit(1)).as("n_members"),
        sum(when(col("rn") <= expr("nc div 4"), 1L).otherwise(0L)).as("n_dropped"),
        sum(when(col("rn") > expr("nc div 4"), col("vec_id")).otherwise(0L)).as("kept_id_sum"))
      .orderBy(col("cid"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q207_kmeans" -> ((s, dir) => kmeans(s, dir)),
    "q208_perceptron" -> ((s, dir) => perceptron(s, dir)),
    "q209_knn_classify" -> ((s, dir) => knnClassify(s, dir)),
    "q210_dbscan" -> ((s, dir) => dbscan(s, dir)),
    "q214_knn_ann" -> ((s, dir) => knnAnnClassify(s, dir)),
    "q215_ann_recall" -> ((s, dir) => annRecallAudit(s, dir)),
    "q217_sem_dedup" -> ((s, dir) => semDedup(s, dir)),
    "q218_proto_prune" -> ((s, dir) => prototypePrune(s, dir)),
    "q219_ivf_recall" -> ((s, dir) => ivfRecallAudit(s, dir)),
    "q220_pq_recall" -> ((s, dir) => pqRecallAudit(s, dir)),
    "q221_ivfpq_recall" -> ((s, dir) => ivfPqRecallAudit(s, dir))
  )

  /** The q220/q221 oracle building blocks — per-subspace codebook
    * chains, the (sub, cid, e) codebook union, and the slice→assign→
    * flatten reconstruction, all name-prefixed so two instances (q220's
    * corpus books, q221's residual books) coexist in one WITH block. */
  private def pqSubChainsSql(seTbl: String, pfx: String): String =
    (0 until pqM).map { sub =>
      val off = sub * subW + 1
      val hi = sub * subW + subW
      val st = s"s$pfx$sub"
      val chain = (1 to rounds).map(i =>
        roundSqlG(i, if (i == 1) s"c0_$pfx$sub" else s"c${i - 1}_$pfx$sub",
          s"_$pfx$sub", subW, st)).mkString(",\n")
      s"""$st AS (SELECT vec_id, e[$off:$hi] AS e FROM $seTbl),
         |c0_$pfx$sub AS (SELECT vec_id AS cid, e FROM $st WHERE vec_id < $k),
         |$chain""".stripMargin
    }.mkString(",\n")

  private def pqCbSql(pfx: String): String =
    s"cb_$pfx AS (" + (0 until pqM).map(sub =>
      s"SELECT $sub AS sub, cid, e FROM c${rounds}_$pfx$sub")
      .mkString("\n  UNION ALL ") + ")"

  /** Encode `srcTbl` (t_id, a) against `cb_$pfx` and reconstruct:
    * first-min sub-centroid per subspace (ties by code id — the same
    * (d, cid) rank the Spark array_min computes), winners flattened in
    * subspace order back to dim length as `rc_$pfx`(t_id, a). */
  private def pqEncodeSql(pfx: String, srcTbl: String): String = {
    val sliceUnion = (0 until pqM).map { sub =>
      val off = sub * subW + 1
      val hi = sub * subW + subW
      s"SELECT t_id, $sub AS sub, a[$off:$hi] AS sv FROM $srcTbl"
    }.mkString("\n  UNION ALL ")
    s"""tsl_$pfx AS ($sliceUnion),
       |tcd_$pfx AS (SELECT t.t_id, t.sub, cb_$pfx.cid,
       |    list_sum(list_transform(generate_series(1, $subW),
       |      j -> (t.sv[j] - cb_$pfx.e[j]) * (t.sv[j] - cb_$pfx.e[j]))) AS d
       |  FROM tsl_$pfx t JOIN cb_$pfx USING (sub)),
       |tc_$pfx AS (SELECT t_id, sub, cid FROM (SELECT t_id, sub, cid,
       |    row_number() OVER (PARTITION BY t_id, sub ORDER BY d, cid) AS rn
       |  FROM tcd_$pfx) WHERE rn = 1),
       |rc_$pfx AS (SELECT tc_$pfx.t_id,
       |    flatten(list(cb_$pfx.e ORDER BY tc_$pfx.sub)) AS a
       |  FROM tc_$pfx JOIN cb_$pfx ON cb_$pfx.sub = tc_$pfx.sub
       |    AND cb_$pfx.cid = tc_$pfx.cid
       |  GROUP BY tc_$pfx.t_id)""".stripMargin
  }

  private def overlapTailSql: String =
    s"""ov AS (SELECT ex5.q_id, count(*) AS o
       |  FROM ex5 JOIN an5 USING (q_id, t_id) GROUP BY ex5.q_id)
       |SELECT coalesce(ov.o, 0)::BIGINT AS overlap5,
       |  count(*)::BIGINT AS n_queries
       |FROM ev LEFT JOIN ov ON ov.q_id = ev.q_id
       |GROUP BY 1 ORDER BY 1""".stripMargin

  // generated per-round CTE chain (q176's oracle device)
  private[queries] def roundSql(i: Int, prevC: String): String =
    roundSqlG(i, prevC, "", dim, "se")

  /** The generalized round generator: table names take suffix `sfx`
    * (so several independent chains — e.g. q220's per-subspace
    * codebook fits — coexist in one WITH block), the corpus table and
    * dimensionality are parameters. `roundSql` (the q207/q217/q218/q219
    * chains) is the identity instantiation, byte-identical output. */
  private[queries] def roundSqlG(i: Int, prevC: String, sfx: String,
      d: Int, seTbl: String): String =
    s"""d$i$sfx AS (SELECT s.vec_id, c.cid,
       |    list_sum(list_transform(generate_series(1, $d),
       |      j -> (s.e[j] - c.e[j]) * (s.e[j] - c.e[j]))) AS dist
       |  FROM $seTbl s CROSS JOIN $prevC c),
       |a$i$sfx AS (SELECT vec_id, cid FROM (SELECT vec_id, cid,
       |    row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
       |  FROM d$i$sfx) WHERE rn = 1),
       |m$i$sfx AS (SELECT a$i$sfx.cid, g.j, sum($seTbl.e[g.j]) AS sv, count(*) AS n
       |  FROM a$i$sfx JOIN $seTbl USING (vec_id), generate_series(1, $d) AS g(j)
       |  GROUP BY a$i$sfx.cid, g.j),
       |c$i$sfx AS (SELECT cid, list(sv // n ORDER BY j) AS e
       |  FROM m$i$sfx GROUP BY cid)""".stripMargin

  // one perceptron round as CTE layers: misclassified under w_{r-1},
  // per-position gradient sums (zero-filled via the series left join),
  // the updated model
  private def perceptronRound(r: Int): String = {
    val p = r - 1
    s"""m$r AS (SELECT d.x, d.y FROM d, w$p
       |  WHERE d.y * (list_sum(list_transform(generate_series(1, $dim),
       |    i -> d.x[i] * w$p.w[i])) + w$p.b) <= 0),
       |n$r AS (SELECT count(*)::BIGINT AS n FROM m$r),
       |g$r AS (SELECT gi.i, COALESCE(sum(m$r.y * m$r.x[gi.i]), 0)::BIGINT AS dg
       |  FROM generate_series(1, $dim) AS gi(i) LEFT JOIN m$r ON true
       |  GROUP BY gi.i),
       |w$r AS (SELECT (SELECT list(w$p.w[g$r.i] + g$r.dg ORDER BY g$r.i)
       |    FROM g$r, w$p) AS w,
       |  w$p.b + COALESCE((SELECT sum(y) FROM m$r), 0) AS b FROM w$p)""".stripMargin
  }

  /** The q207 CTE chain over a caller-provided `se` definition — q217/
    * q218 reuse the generated Lloyd's rounds verbatim, only the corpus
    * CTE differs. */
  private def kmeansChain: String =
    (1 to rounds).map(i => roundSql(i, if (i == 1) "c0" else s"c${i - 1}"))
      .mkString(",\n")

  private val semGridSql: String =
    """SELECT vec_id,
      |    list_transform(embedding, x -> (floor(x::DOUBLE /
      |      sqrt(list_sum(list_transform(embedding,
      |        y -> y::DOUBLE * y::DOUBLE)))
      |      * 1000000.0 + 0.5))::BIGINT + 1000000) AS e
      |  FROM embeddings""".stripMargin

  val oracles: Map[String, String] = Map(
    // the q207 chain over the planted-dup corpus, then the cluster-
    // blocked smaller-id-within-τ drop rule — the SAME blocking, so the
    // oracle prices the same cross-cluster misses
    "q217_sem_dedup" ->
      s"""WITH se0 AS ($semGridSql),
         |se AS (SELECT vec_id, e FROM se0
         |  UNION ALL
         |  SELECT vec_id + 1000000000,
         |    list_concat([e[1] + 1000], e[2:]) AS e
         |  FROM se0 WHERE vec_id % 53 = 0),
         |c0 AS (SELECT vec_id AS cid, e FROM se WHERE vec_id < $k),
         |$kmeansChain,
         |mm AS (SELECT a$rounds.vec_id, a$rounds.cid, se.e
         |  FROM a$rounds JOIN se USING (vec_id)),
         |dup AS (SELECT DISTINCT b.vec_id AS v
         |  FROM mm a JOIN mm b ON a.cid = b.cid AND a.vec_id < b.vec_id
         |  WHERE list_sum(list_transform(generate_series(1, $dim),
         |    i -> (a.e[i] - b.e[i]) * (a.e[i] - b.e[i]))) <= $semDupTau)
         |SELECT mm.cid, count(*)::BIGINT AS n_members,
         |  sum(CASE WHEN dup.v IS NULL THEN 0 ELSE 1 END)::BIGINT AS n_dropped,
         |  sum(CASE WHEN dup.v IS NULL THEN mm.vec_id ELSE 0 END)::BIGINT AS kept_id_sum
         |FROM mm LEFT JOIN dup ON dup.v = mm.vec_id
         |GROUP BY mm.cid ORDER BY mm.cid""".stripMargin,
    // the q207 chain on the plain grid, member→final-centroid integer
    // distances, per-cluster (dist, vec_id) rank, drop the closest ⌊n/4⌋
    "q218_proto_prune" ->
      s"""WITH se AS ($semGridSql),
         |c0 AS (SELECT vec_id AS cid, e FROM se WHERE vec_id < $k),
         |$kmeansChain,
         |md AS (SELECT a$rounds.vec_id, a$rounds.cid,
         |    list_sum(list_transform(generate_series(1, $dim),
         |      j -> (se.e[j] - c$rounds.e[j]) * (se.e[j] - c$rounds.e[j]))) AS dist
         |  FROM a$rounds JOIN se USING (vec_id)
         |  JOIN c$rounds ON c$rounds.cid = a$rounds.cid),
         |rk AS (SELECT cid, vec_id,
         |    row_number() OVER (PARTITION BY cid ORDER BY dist, vec_id) AS rn,
         |    count(*) OVER (PARTITION BY cid) AS nc
         |  FROM md)
         |SELECT cid, count(*)::BIGINT AS n_members,
         |  sum(CASE WHEN rn <= nc // 4 THEN 1 ELSE 0 END)::BIGINT AS n_dropped,
         |  sum(CASE WHEN rn > nc // 4 THEN vec_id ELSE 0 END)::BIGINT AS kept_id_sum
         |FROM rk GROUP BY cid ORDER BY cid""".stripMargin,
    // same eps/minPts, q66's recursive-CTE closure for the core CC,
    // min-cluster border attachment, noise as the -1 row
    "q210_dbscan" ->
      s"""WITH RECURSIVE se AS (SELECT vec_id,
         |    list_transform(embedding,
         |      x -> (floor(x::DOUBLE * 1000000.0 + 0.5))::BIGINT) AS e
         |  FROM embeddings WHERE vec_id % 5 = 0),
         |nb AS (SELECT a.vec_id AS u, b.vec_id AS v
         |  FROM se a JOIN se b ON a.vec_id != b.vec_id
         |  WHERE list_sum(list_transform(generate_series(1, $dim),
         |    i -> (a.e[i] - b.e[i]) * (a.e[i] - b.e[i]))) <= 1500000000000),
         |core AS (SELECT u FROM (SELECT u, count(*) AS n FROM nb GROUP BY u)
         |  WHERE n >= 3),
         |ce AS (SELECT nb.u, nb.v FROM nb
         |  JOIN core c1 ON c1.u = nb.u JOIN core c2 ON c2.u = nb.v),
         |reach AS (SELECT u AS node, v AS r FROM ce
         |  UNION SELECT c.node, e.v FROM reach c JOIN ce e ON e.u = c.r),
         |cmap AS (SELECT node, least(node, min(r)) AS cid
         |  FROM reach GROUP BY node),
         |corec AS (SELECT core.u, coalesce(cmap.cid, core.u) AS cluster_id
         |  FROM core LEFT JOIN cmap ON cmap.node = core.u),
         |border AS (SELECT nb.u, min(corec.cluster_id) AS cluster_id
         |  FROM nb JOIN corec ON corec.u = nb.v
         |  WHERE nb.u NOT IN (SELECT u FROM core)
         |  GROUP BY nb.u),
         |cl AS (SELECT nc.cluster_id, nc.n_core,
         |    coalesce(nbd.n_border, 0)::BIGINT AS n_border
         |  FROM (SELECT cluster_id, count(*)::BIGINT AS n_core
         |        FROM corec GROUP BY cluster_id) nc
         |  LEFT JOIN (SELECT cluster_id, count(*)::BIGINT AS n_border
         |             FROM border GROUP BY cluster_id) nbd USING (cluster_id))
         |SELECT cluster_id, n_core, n_border FROM cl
         |UNION ALL SELECT -1::BIGINT, 0::BIGINT,
         |  (SELECT count(*) FROM se
         |   WHERE vec_id NOT IN (SELECT u FROM core)
         |     AND vec_id NOT IN (SELECT u FROM border))::BIGINT
         |ORDER BY cluster_id""".stripMargin,
    // q220: per-subspace codebook chains on the corpus grid, encode via
    // the (d, cid)-ranked nearest sub-centroid, reconstruction-form ADC
    // against the exact sweep — the SAME quantization the Spark side
    // computes, so the PQ recall number is hash-checked
    "q220_pq_recall" ->
      s"""WITH se AS ($semGridSql),
         |${pqSubChainsSql("se", "p")},
         |${pqCbSql("p")},
         |tr AS (SELECT vec_id AS t_id, e AS a FROM se WHERE vec_id % 10 < 8),
         |${pqEncodeSql("p", "tr")},
         |ev AS (SELECT vec_id AS q_id, e AS bb FROM se WHERE vec_id % 10 >= 8
         |  ORDER BY md5(vec_id::VARCHAR), vec_id LIMIT $evalN),
         |dx AS (SELECT q_id, t_id,
         |    list_sum(list_transform(generate_series(1, $dim),
         |      i -> (a[i] - bb[i]) * (a[i] - bb[i]))) AS dist
         |  FROM tr CROSS JOIN ev),
         |ex5 AS (SELECT q_id, t_id FROM (SELECT q_id, t_id,
         |    row_number() OVER (PARTITION BY q_id
         |      ORDER BY dist, t_id) AS rn FROM dx) WHERE rn <= 5),
         |da AS (SELECT q_id, t_id,
         |    list_sum(list_transform(generate_series(1, $dim),
         |      i -> (a[i] - bb[i]) * (a[i] - bb[i]))) AS dist
         |  FROM rc_p CROSS JOIN ev),
         |an5 AS (SELECT q_id, t_id FROM (SELECT q_id, t_id,
         |    row_number() OVER (PARTITION BY q_id
         |      ORDER BY dist, t_id) AS rn FROM da) WHERE rn <= 5),
         |$overlapTailSql""".stripMargin,
    // q221: coarse chain → inverted lists + shifted residuals →
    // residual codebook chains → reconstruction rt = c_list + recon −
    // shift → candidates from the probed lists only, ranked by distance
    // to rt — the IVFADC estimate in reconstruction form, both
    // approximation layers replayed
    "q221_ivfpq_recall" ->
      s"""WITH se AS ($semGridSql),
         |c0 AS (SELECT vec_id AS cid, e FROM se WHERE vec_id < $k),
         |$kmeansChain,
         |tr AS (SELECT vec_id AS t_id, e AS a FROM se WHERE vec_id % 10 < 8),
         |tld AS (SELECT tr.t_id, c$rounds.cid,
         |    list_sum(list_transform(generate_series(1, $dim),
         |      j -> (tr.a[j] - c$rounds.e[j]) * (tr.a[j] - c$rounds.e[j]))) AS dc
         |  FROM tr CROSS JOIN c$rounds),
         |tl AS (SELECT t_id, cid FROM (SELECT t_id, cid,
         |    row_number() OVER (PARTITION BY t_id ORDER BY dc, cid) AS rn
         |  FROM tld) WHERE rn = 1),
         |rs AS (SELECT tr.t_id, tl.cid,
         |    list_transform(generate_series(1, $dim),
         |      j -> tr.a[j] - c$rounds.e[j] + $resShift) AS e
         |  FROM tr JOIN tl USING (t_id)
         |  JOIN c$rounds ON c$rounds.cid = tl.cid),
         |rsv AS (SELECT t_id AS vec_id, e FROM rs),
         |${pqSubChainsSql("rsv", "r")},
         |${pqCbSql("r")},
         |rsa AS (SELECT t_id, e AS a FROM rs),
         |${pqEncodeSql("r", "rsa")},
         |rt AS (SELECT rs.t_id, rs.cid,
         |    list_transform(generate_series(1, $dim),
         |      j -> c$rounds.e[j] + rc_r.a[j] - $resShift) AS a
         |  FROM rs JOIN rc_r USING (t_id)
         |  JOIN c$rounds ON c$rounds.cid = rs.cid),
         |ev AS (SELECT vec_id AS q_id, e AS bb FROM se WHERE vec_id % 10 >= 8
         |  ORDER BY md5(vec_id::VARCHAR), vec_id LIMIT $evalN),
         |qpd AS (SELECT ev.q_id, c$rounds.cid,
         |    list_sum(list_transform(generate_series(1, $dim),
         |      j -> (ev.bb[j] - c$rounds.e[j]) * (ev.bb[j] - c$rounds.e[j]))) AS dc
         |  FROM ev CROSS JOIN c$rounds),
         |qp AS (SELECT q_id, cid FROM (SELECT q_id, cid,
         |    row_number() OVER (PARTITION BY q_id ORDER BY dc, cid) AS rn
         |  FROM qpd) WHERE rn <= $ivfNprobe),
         |dx AS (SELECT q_id, t_id,
         |    list_sum(list_transform(generate_series(1, $dim),
         |      i -> (a[i] - bb[i]) * (a[i] - bb[i]))) AS dist
         |  FROM tr CROSS JOIN ev),
         |ex5 AS (SELECT q_id, t_id FROM (SELECT q_id, t_id,
         |    row_number() OVER (PARTITION BY q_id
         |      ORDER BY dist, t_id) AS rn FROM dx) WHERE rn <= 5),
         |da AS (SELECT ev.q_id, rt.t_id,
         |    list_sum(list_transform(generate_series(1, $dim),
         |      i -> (rt.a[i] - ev.bb[i]) * (rt.a[i] - ev.bb[i]))) AS dist
         |  FROM rt JOIN qp ON qp.cid = rt.cid
         |  JOIN ev ON ev.q_id = qp.q_id),
         |an5 AS (SELECT q_id, t_id FROM (SELECT q_id, t_id,
         |    row_number() OVER (PARTITION BY q_id
         |      ORDER BY dist, t_id) AS rn FROM da) WHERE rn <= 5),
         |$overlapTailSql""".stripMargin,
    // q215's overlap device over the IVF tier: the q207 chain provides
    // the coarse quantizer, tl assigns training rows to their nearest
    // list, qp picks each query's nprobe nearest lists, and the
    // candidate join walks only the probed lists — the same
    // approximation the Spark side computes, intersected against the
    // exact sweep per query
    "q219_ivf_recall" ->
      s"""WITH se AS ($semGridSql),
         |c0 AS (SELECT vec_id AS cid, e FROM se WHERE vec_id < $k),
         |$kmeansChain,
         |tr AS (SELECT vec_id AS t_id, e AS a FROM se WHERE vec_id % 10 < 8),
         |tld AS (SELECT tr.t_id, c$rounds.cid,
         |    list_sum(list_transform(generate_series(1, $dim),
         |      j -> (tr.a[j] - c$rounds.e[j]) * (tr.a[j] - c$rounds.e[j]))) AS dc
         |  FROM tr CROSS JOIN c$rounds),
         |tl AS (SELECT t_id, cid FROM (SELECT t_id, cid,
         |    row_number() OVER (PARTITION BY t_id ORDER BY dc, cid) AS rn
         |  FROM tld) WHERE rn = 1),
         |ev AS (SELECT vec_id AS q_id, e AS bb FROM se WHERE vec_id % 10 >= 8
         |  ORDER BY md5(vec_id::VARCHAR), vec_id LIMIT $evalN),
         |qpd AS (SELECT ev.q_id, c$rounds.cid,
         |    list_sum(list_transform(generate_series(1, $dim),
         |      j -> (ev.bb[j] - c$rounds.e[j]) * (ev.bb[j] - c$rounds.e[j]))) AS dc
         |  FROM ev CROSS JOIN c$rounds),
         |qp AS (SELECT q_id, cid FROM (SELECT q_id, cid,
         |    row_number() OVER (PARTITION BY q_id ORDER BY dc, cid) AS rn
         |  FROM qpd) WHERE rn <= $ivfNprobe),
         |dx AS (SELECT q_id, t_id,
         |    list_sum(list_transform(generate_series(1, $dim),
         |      i -> (a[i] - bb[i]) * (a[i] - bb[i]))) AS dist
         |  FROM tr CROSS JOIN ev),
         |ex5 AS (SELECT q_id, t_id FROM (SELECT q_id, t_id,
         |    row_number() OVER (PARTITION BY q_id
         |      ORDER BY dist, t_id) AS rn FROM dx) WHERE rn <= 5),
         |da AS (SELECT ev.q_id, tr.t_id,
         |    list_sum(list_transform(generate_series(1, $dim),
         |      i -> (tr.a[i] - ev.bb[i]) * (tr.a[i] - ev.bb[i]))) AS dist
         |  FROM tr JOIN tl USING (t_id) JOIN qp ON qp.cid = tl.cid
         |  JOIN ev ON ev.q_id = qp.q_id),
         |an5 AS (SELECT q_id, t_id FROM (SELECT q_id, t_id,
         |    row_number() OVER (PARTITION BY q_id
         |      ORDER BY dist, t_id) AS rn FROM da) WHERE rn <= 5),
         |$overlapTailSql""".stripMargin,
    // the two k5 chains side by side — exact (CROSS JOIN) and
    // bucket-pruned (b-equi-join) — intersected per query; the left
    // join keeps bucket-starved queries at overlap 0
    "q215_ann_recall" ->
      s"""WITH se AS (SELECT vec_id,
         |    list_transform(embedding, x -> (floor(x::DOUBLE /
         |      sqrt(list_sum(list_transform(embedding,
         |        y -> y::DOUBLE * y::DOUBLE)))
         |      * 1000000.0 + 0.5))::BIGINT) AS e
         |  FROM embeddings),
         |sb AS (SELECT vec_id, e,
         |    (2*e[1] - e[5] + e[9] >= 0)::INT * 8
         |    + (e[2] + e[6] - 2*e[10] >= 0)::INT * 4
         |    + (e[3] - e[7] + e[11] >= 0)::INT * 2
         |    + (-e[4] + e[8] + 2*e[12] >= 0)::INT AS b
         |  FROM se),
         |tr AS (SELECT vec_id AS t_id, e AS a, b
         |  FROM sb WHERE vec_id % 10 < 8),
         |ev AS (SELECT vec_id AS q_id, e AS bb, b
         |  FROM sb WHERE vec_id % 10 >= 8
         |  ORDER BY md5(vec_id::VARCHAR), vec_id LIMIT $evalN),
         |dx AS (SELECT q_id, t_id,
         |    list_sum(list_transform(generate_series(1, $dim),
         |      i -> (a[i] - bb[i]) * (a[i] - bb[i]))) AS dist
         |  FROM tr CROSS JOIN ev),
         |ex5 AS (SELECT q_id, t_id FROM (SELECT q_id, t_id,
         |    row_number() OVER (PARTITION BY q_id
         |      ORDER BY dist, t_id) AS rn FROM dx) WHERE rn <= 5),
         |da AS (SELECT q_id, t_id,
         |    list_sum(list_transform(generate_series(1, $dim),
         |      i -> (a[i] - bb[i]) * (a[i] - bb[i]))) AS dist
         |  FROM tr JOIN ev ON tr.b = ev.b),
         |an5 AS (SELECT q_id, t_id FROM (SELECT q_id, t_id,
         |    row_number() OVER (PARTITION BY q_id
         |      ORDER BY dist, t_id) AS rn FROM da) WHERE rn <= 5),
         |$overlapTailSql""".stripMargin,
    // q209's chain with q54's fixed-hyperplane bucket in the se CTE and
    // the candidate join restricted to same-bucket pairs — the oracle
    // computes the SAME approximation, so the approximate path is as
    // hash-checked as the exact one
    "q214_knn_ann" ->
      s"""WITH se AS (SELECT vec_id, label,
         |    list_transform(embedding, x -> (floor(x::DOUBLE /
         |      sqrt(list_sum(list_transform(embedding,
         |        y -> y::DOUBLE * y::DOUBLE)))
         |      * 1000000.0 + 0.5))::BIGINT) AS e
         |  FROM embeddings),
         |sb AS (SELECT vec_id, label, e,
         |    (2*e[1] - e[5] + e[9] >= 0)::INT * 8
         |    + (e[2] + e[6] - 2*e[10] >= 0)::INT * 4
         |    + (e[3] - e[7] + e[11] >= 0)::INT * 2
         |    + (-e[4] + e[8] + 2*e[12] >= 0)::INT AS b
         |  FROM se),
         |tr AS (SELECT vec_id AS t_id, label AS t_label, e AS a, b
         |  FROM sb WHERE vec_id % 10 < 8),
         |ev AS (SELECT vec_id AS q_id, label AS q_label, e AS bb, b
         |  FROM sb WHERE vec_id % 10 >= 8
         |  ORDER BY md5(vec_id::VARCHAR), vec_id LIMIT $evalN),
         |d AS (SELECT q_id, q_label, t_id, t_label,
         |    list_sum(list_transform(generate_series(1, $dim),
         |      i -> (a[i] - bb[i]) * (a[i] - bb[i]))) AS dist
         |  FROM tr JOIN ev ON tr.b = ev.b),
         |k5 AS (SELECT q_id, q_label, t_label FROM (SELECT q_id, q_label,
         |    t_label, row_number() OVER (PARTITION BY q_id
         |      ORDER BY dist, t_id) AS rn FROM d) WHERE rn <= 5),
         |v AS (SELECT q_id, q_label, t_label, count(*) AS nv
         |  FROM k5 GROUP BY q_id, q_label, t_label),
         |p AS (SELECT q_label AS label, t_label AS predicted
         |  FROM (SELECT q_label, t_label, row_number() OVER (
         |      PARTITION BY q_id ORDER BY nv DESC, t_label) AS rn FROM v)
         |  WHERE rn = 1)
         |SELECT label, predicted, count(*)::BIGINT AS n
         |FROM p GROUP BY label, predicted ORDER BY label, predicted""".stripMargin,
    // same integer L2, same (dist, t_id) neighbor order, same
    // (votes DESC, label ASC) majority tie-break
    "q209_knn_classify" ->
      s"""WITH se AS (SELECT vec_id, label,
         |    list_transform(embedding, x -> (floor(x::DOUBLE /
         |      sqrt(list_sum(list_transform(embedding,
         |        y -> y::DOUBLE * y::DOUBLE)))
         |      * 1000000.0 + 0.5))::BIGINT) AS e
         |  FROM embeddings),
         |tr AS (SELECT vec_id AS t_id, label AS t_label, e AS a
         |  FROM se WHERE vec_id % 10 < 8),
         |ev AS (SELECT vec_id AS q_id, label AS q_label, e AS b
         |  FROM se WHERE vec_id % 10 >= 8
         |  ORDER BY md5(vec_id::VARCHAR), vec_id LIMIT $evalN),
         |d AS (SELECT q_id, q_label, t_id, t_label,
         |    list_sum(list_transform(generate_series(1, $dim),
         |      i -> (a[i] - b[i]) * (a[i] - b[i]))) AS dist
         |  FROM tr CROSS JOIN ev),
         |k5 AS (SELECT q_id, q_label, t_label FROM (SELECT q_id, q_label,
         |    t_label, row_number() OVER (PARTITION BY q_id
         |      ORDER BY dist, t_id) AS rn FROM d) WHERE rn <= 5),
         |v AS (SELECT q_id, q_label, t_label, count(*) AS nv
         |  FROM k5 GROUP BY q_id, q_label, t_label),
         |p AS (SELECT q_label AS label, t_label AS predicted
         |  FROM (SELECT q_label, t_label, row_number() OVER (
         |      PARTITION BY q_id ORDER BY nv DESC, t_label) AS rn FROM v)
         |  WHERE rn = 1)
         |SELECT label, predicted, count(*)::BIGINT AS n
         |FROM p GROUP BY label, predicted ORDER BY label, predicted""".stripMargin,
    "q208_perceptron" -> {
      val chain = (1 to 3).map(perceptronRound).mkString(",\n")
      val rows = (1 to 3).map(r =>
        s"SELECT $r::BIGINT AS round, (SELECT n FROM n$r) AS n_misclassified, " +
          s"(SELECT list_sum(w) + b FROM w$r)::BIGINT AS model_checksum")
        .mkString("\nUNION ALL ")
      s"""WITH d AS (SELECT
         |    list_transform(embedding,
         |      x -> (floor(x::DOUBLE * 1000000.0 + 0.5))::BIGINT) AS x,
         |    (CASE WHEN label < 5 THEN 1 ELSE -1 END)::BIGINT AS y
         |  FROM embeddings),
         |w0 AS (SELECT list_transform(generate_series(1, $dim),
         |    i -> 0::BIGINT) AS w, 0::BIGINT AS b),
         |$chain
         |$rows
         |ORDER BY round""".stripMargin
    },
    "q207_kmeans" -> {
      val chain = (1 to rounds)
        .map(i => roundSql(i, if (i == 1) "c0" else s"c${i - 1}"))
        .mkString(",\n")
      s"""WITH se AS (SELECT vec_id,
         |    list_transform(embedding,
         |      x -> (floor(x::DOUBLE * 1000000.0 + 0.5))::BIGINT + 1000000) AS e
         |  FROM embeddings),
         |c0 AS (SELECT vec_id AS cid, e FROM se WHERE vec_id < $k),
         |$chain
         |SELECT a$rounds.cid, count(*)::BIGINT AS n_members,
         |  (SELECT list_sum(e) FROM c$rounds cc
         |     WHERE cc.cid = a$rounds.cid)::BIGINT AS cent_sum
         |FROM a$rounds GROUP BY a$rounds.cid ORDER BY a$rounds.cid""".stripMargin
    }
  )
}
