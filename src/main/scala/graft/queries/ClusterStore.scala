package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * CLUSTER-PROFILE STORE (q211) + SEMANTIC DRIFT GATE (q212) — the store
 * family applied to the verified k-means: centroids train ONCE on the
 * corpus slice and FREEZE (assignment against frozen geometry is the
 * exactly-mergeable operation k-means itself is not — per-cluster
 * counts over doc-disjoint batches sum to the full recompute), then
 * each new batch absorbs as an additive (cluster, batch, n) partial.
 * The profile read answers "how is my corpus distributed over semantic
 * clusters" from the k-sized store alone; the drift read compares the
 * delta's cluster shares against the corpus's — the "did the new crawl
 * shift topic mass" gate a 100 TB ingest runs before committing to a
 * mix, priced at one delta assignment pass (broadcast k×dim geometry,
 * no corpus rescan, no retraining).
 *
 * Everything is the q207 integer machinery, so the WHOLE lifecycle —
 * train on the slice, freeze, assign corpus and delta, drift shares in
 * e6 fixed point — replays exactly in DuckDB.
 */
object ClusterStore {

  /** LAYERED meta: the base row tracks the training slice and the
    * batch row the absorbed delta, so an absorbed-and-current lap
    * touches NOTHING (no retrain, no re-assignment). */
  private val store = new StoreMeta.Store("cluster_store", fingerprint,
    StoreMeta.layered)

  private[graft] def root(dir: String, variant: String = ""): String =
    store.root(dir, variant)

  private def corpusSe(s: SparkSession, dir: String): DataFrame =
    Clustering.scaled(s, dir).where("vec_id % 10 < 7")
  private def deltaSe(s: SparkSession, dir: String): DataFrame =
    Clustering.scaled(s, dir).where("vec_id % 10 >= 7")

  /** Content fingerprint over the integer grid of a slice. */
  private def fingerprintOf(se: DataFrame): String = {
    val r = se.selectExpr("aggregate(e, 0L, (a, b) -> a + b) AS h")
      .agg(count(lit(1)).as("n"), sum(col("h")).as("hsum")).head()
    s"${r.getLong(0)}:${r.getLong(1)}"
  }

  private def fingerprint(s: SparkSession, dir: String): String =
    Tables.memoFingerprint(s, dir, "cluster.base")(
      fingerprintOf(corpusSe(s, dir)))
  private def deltaFingerprint(s: SparkSession, dir: String): String =
    Tables.memoFingerprint(s, dir, "cluster.delta")(
      fingerprintOf(deltaSe(s, dir)))

  def build(s: SparkSession, dir: String, variant: String = ""): String = {
    import s.implicits._
    val path = root(dir, variant)
    val se = Caches.persist(corpusSe(s, dir))
    val (cents, _) = Clustering.lloyds(s, se)
    cents.flatMap { case (cid, e) =>
      e.zipWithIndex.map { case (v, pos) => (cid, pos, v) }
    }.toDF("cid", "pos", "v")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/centroids")
    Clustering.assignTo(s, se, cents)
      .groupBy(col("cid")).agg(count(lit(1)).as("n"))
      .withColumn("batch", lit(0L))
      .coalesce(1).write.mode("overwrite").parquet(s"$path/partials")
    store.built(s, dir, variant)
    path
  }

  /** Current = the base geometry matches the training slice AND no verb
    * died mid-write. Batch rows do NOT make the store stale. */
  def isCurrent(s: SparkSession, dir: String, variant: String = ""): Boolean =
    store.isCurrent(s, dir, variant)

  def buildIfStale(s: SparkSession, dir: String, variant: String = ""): String =
    store.buildIfStale(s, dir, variant)(build(s, dir, variant))

  /** The frozen geometry back as driver-side arrays (k×dim longs — the
    * same bounded collect every ANN tier's geometry load is). */
  private def loadCents(s: SparkSession, dir: String,
      variant: String): Seq[(Long, Seq[Long])] =
    s.read.parquet(s"${root(dir, variant)}/centroids")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
      .groupBy(_._1)
      .map { case (cid, rows) => (cid, rows.sortBy(_._2).map(_._3).toSeq) }
      .toSeq.sortBy(_._1)

  /** Absorb the delta: one assignment pass against the FROZEN geometry,
    * one additive k-sized partial appended — idempotent under the
    * kernel's verified absorb (q211's lap pays zero after the first
    * run). */
  def absorb(s: SparkSession, dir: String, variant: String = ""): Unit =
    store.absorbOnce(s, dir, variant, deltaFingerprint(s, dir),
        build(s, dir, variant)) {
      Clustering.assignTo(s, deltaSe(s, dir), loadCents(s, dir, variant))
        .groupBy(col("cid")).agg(count(lit(1)).as("n"))
        .withColumn("batch", lit(1L))
        .coalesce(1).write.mode("append").parquet(s"${root(dir, variant)}/partials")
    }

  /** COMPACT the batch partials: absorb appends one k-sized layer per
    * batch, so the table grows #batches × k rows in #batches files —
    * the fold collapses it to one row per (cid, batch) in one file,
    * and every read (profile, drift) answers identically (the merge is
    * the partials' own sum algebra). The kernel's staged compact
    * refuses a torn store (ClusterStoreSpec pins it). */
  def compact(s: SparkSession, dir: String, variant: String = ""): Unit = {
    val path = root(dir, variant)
    store.compact(s, dir, variant, Seq("partials")) { staging =>
      s.read.parquet(s"$path/partials")
        .groupBy(col("cid"), col("batch")).agg(sum(col("n")).as("n"))
        .select(col("cid"), col("n"), col("batch"))
        .coalesce(1).write.mode("overwrite").parquet(s"$staging/partials")
    }
  }

  private[graft] def invalidate(s: SparkSession, dir: String,
      variant: String = ""): Unit = store.invalidate(s, dir, variant)

  /** q211's read: the merged cluster profile with e6 shares — k rows,
    * from the store alone. */
  def profile(s: SparkSession, dir: String, variant: String = ""): DataFrame = {
    val p = Caches.persist(s.read.parquet(s"${root(dir, variant)}/partials")
      .groupBy(col("cid")).agg(sum(col("n")).as("n_members")))
    p.crossJoin(broadcast(p.agg(sum(col("n_members")).as("total"))))
      .selectExpr("cid", "n_members",
        "(n_members * 1000000L) div total AS share_e6")
      .orderBy(col("cid"))
  }

  /** q212's read: corpus vs delta shares per cluster and the absolute
    * drift — the semantic-mix health check, k rows. */
  def drift(s: SparkSession, dir: String, variant: String = ""): DataFrame = {
    val p = Caches.persist(s.read.parquet(s"${root(dir, variant)}/partials")
      .groupBy(col("cid"))
      .agg(sum(when(col("batch") === 0L, col("n")).otherwise(0L)).as("n_corpus"),
        sum(when(col("batch") === 1L, col("n")).otherwise(0L)).as("n_delta")))
    p.crossJoin(broadcast(
        p.agg(sum(col("n_corpus")).as("t0"), sum(col("n_delta")).as("t1"))))
      .selectExpr("cid", "n_corpus", "n_delta",
        "(n_corpus * 1000000L) div t0 AS share_corpus_e6",
        "(n_delta * 1000000L) div t1 AS share_delta_e6",
        "abs((n_corpus * 1000000L) div t0 - (n_delta * 1000000L) div t1) AS drift_e6")
      .orderBy(col("cid"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // train+freeze on the corpus slice → absorb the delta's assignment
    // counts → merged profile; the oracle retrains from scratch and
    // assigns everything, closing train/freeze/absorb cross-engine.
    // Under the layered meta both verbs are no-ops after the first lap
    // (absorbed AND current) — the lap then prices the k-sized read.
    "q211_cluster_store" -> ((s, dir) => {
      buildIfStale(s, dir); absorb(s, dir); profile(s, dir)
    }),
    // own variant keeps the two lifecycles' stores independent; the
    // drift read compares batch-tagged partials
    "q212_cluster_drift" -> ((s, dir) => {
      buildIfStale(s, dir, "drift"); absorb(s, dir, "drift")
      drift(s, dir, "drift")
    })
  )

  // the corpus-slice k-means chain: q207's generated rounds with the
  // slice filter on se
  private def corpusChain: String = {
    val chain = (1 to 2)
      .map(i => Clustering.roundSql(i, if (i == 1) "c0" else s"c${i - 1}"))
      .mkString(",\n")
    s"""se AS (SELECT vec_id,
       |    list_transform(embedding,
       |      x -> (floor(x::DOUBLE * 1000000.0 + 0.5))::BIGINT + 1000000) AS e
       |  FROM embeddings WHERE vec_id % 10 < 7),
       |c0 AS (SELECT vec_id AS cid, e FROM se WHERE vec_id < 4),
       |$chain,
       |allv AS (SELECT vec_id, vec_id % 10 >= 7 AS is_delta,
       |    list_transform(embedding,
       |      x -> (floor(x::DOUBLE * 1000000.0 + 0.5))::BIGINT + 1000000) AS e
       |  FROM embeddings),
       |ad AS (SELECT a.vec_id, a.is_delta, c.cid,
       |    list_sum(list_transform(generate_series(1, 64),
       |      j -> (a.e[j] - c.e[j]) * (a.e[j] - c.e[j]))) AS dist
       |  FROM allv a CROSS JOIN c2 c),
       |asg AS (SELECT vec_id, is_delta, cid FROM (SELECT vec_id, is_delta,
       |    cid, row_number() OVER (PARTITION BY vec_id
       |      ORDER BY dist, cid) AS rn FROM ad) WHERE rn = 1)""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    "q211_cluster_store" ->
      s"""WITH $corpusChain,
         |cnt AS (SELECT cid, count(*)::BIGINT AS n_members FROM asg GROUP BY cid),
         |tt AS (SELECT sum(n_members)::BIGINT AS total FROM cnt)
         |SELECT cid, n_members,
         |  (n_members * 1000000) // total AS share_e6
         |FROM cnt, tt ORDER BY cid""".stripMargin,
    "q212_cluster_drift" ->
      s"""WITH $corpusChain,
         |cnt AS (SELECT cid,
         |    sum(CASE WHEN is_delta THEN 0 ELSE 1 END)::BIGINT AS n_corpus,
         |    sum(CASE WHEN is_delta THEN 1 ELSE 0 END)::BIGINT AS n_delta
         |  FROM asg GROUP BY cid),
         |tt AS (SELECT sum(n_corpus)::BIGINT AS t0,
         |    sum(n_delta)::BIGINT AS t1 FROM cnt)
         |SELECT cid, n_corpus, n_delta,
         |  (n_corpus * 1000000) // t0 AS share_corpus_e6,
         |  (n_delta * 1000000) // t1 AS share_delta_e6,
         |  abs((n_corpus * 1000000) // t0 - (n_delta * 1000000) // t1)
         |    AS drift_e6
         |FROM cnt, tt ORDER BY cid""".stripMargin
  )
}
