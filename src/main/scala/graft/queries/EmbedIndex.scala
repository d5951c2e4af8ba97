package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * INCREMENTAL EMBEDDING DEDUP (q141) — [[DedupIndex]]'s story in VECTOR
 * space: judge a delta of new embeddings against a PERSISTED bucket
 * index of everything already ingested, without re-reading the corpus
 * vectors. Semantic duplicates (same content re-encoded, different
 * words) are invisible to every n-gram method — at 100 TB this judge is
 * the arrival-time filter in front of the expensive stages.
 *
 * Store layout under the md5-keyed tmpdir root:
 *   buckets/  (bucket, vec_id) — q29's deterministic sign-bit blocking
 *             (leading-3-dim signs, 8 buckets), so candidate generation
 *             is an EQUI-join: a delta vector is only ever compared
 *             inside its own bucket, never across the corpus;
 *   meta/     corpus fingerprint, written LAST (crashed build rebuilds).
 *
 * Candidates rehydrate their float vectors from the corpus table by
 * vec_id (the index stores ids, not vectors — single source of truth,
 * same economy as [[graft.similarity.AnnIndex]]); the judge computes
 * EXACT cosine on each candidate and classifies:
 *   exact  — best cosine >= 0.9999 (a re-ingested identical vector;
 *            planted: delta vec_id % 10 = 7 carries the embedding of
 *            vec (vec_id − 7), mirroring q84's planting device),
 *   near   — best cosine >= 0.3 (q29's oracled threshold; 84 natural
 *            delta×corpus pairs at sf0.001),
 *   unique — otherwise.
 *
 * Everything is deterministic — the sign buckets are integer predicates,
 * the cosines are bit-identical doubles in both engines (same
 * association order as q29's oracle) — so unlike the gaussian-plane ANN
 * judges this lifecycle is fully DuckDB-oracled — including the
 * multi-batch state: q142 absorbs batch 1's survivors ([[absorbVecs]],
 * the staged-append + meta-first bracket from [[DedupIndex.absorbDocs]])
 * and judges batch 2 against the grown store, with DuckDB replaying the
 * whole two-batch history.
 */
object EmbedIndex {

  // variant: independent store instances, same rationale as
  // DedupIndex's — the absorbing q142 lifecycle must not flip q141's
  // pristine store non-current between bench laps.
  private val store = new StoreMeta.Store("embed_idx", fingerprint,
    StoreMeta.pristine)

  private[graft] def root(dir: String, variant: String = ""): String =
    store.root(dir, variant)

  private def corpusVecs(s: SparkSession, dir: String): DataFrame =
    TextPipeline.embDoubles(s, dir).where("vec_id % 10 < 7")

  /** The delta slice with vec_id % 10 = 7 vectors PLANTED as copies of
    * vec (vec_id − 7) — embedding AND bucket travel together, exactly as
    * a re-ingested duplicate would arrive. */
  private[queries] def deltaVecs(s: SparkSession, dir: String): DataFrame = {
    val all = TextPipeline.embDoubles(s, dir)
    all.where("vec_id % 10 >= 7").select(col("vec_id"), col("e"), col("bucket"))
      .join(all.select(col("vec_id").as("src_id"), col("e").as("src_e"),
          col("bucket").as("src_bucket")),
        col("src_id") === col("vec_id") - lit(7) && col("vec_id") % 10 === 7,
        "left")
      .selectExpr("vec_id", "coalesce(src_e, e) AS e",
        "coalesce(src_bucket, bucket) AS bucket")
  }

  /** Batch 1 of the two-batch lifecycle (q142): vec_id % 10 ∈ {7, 8},
    * mod-7 planting as in [[deltaVecs]]. */
  def batch1Vecs(s: SparkSession, dir: String): DataFrame =
    deltaVecs(s, dir).where("vec_id % 10 < 9")

  /** Batch 2 (q142): vec_id % 10 = 9, with vec_id % 20 = 9 vectors
    * PLANTED as copies of vec (vec_id − 1) — a batch-1 (mod-8) vector,
    * so whether the copy reads 'exact' depends on batch 1's own verdicts
    * against the store: the absorbed state under test. [[deltaVecs]]
    * (q141's contract) keeps mod-9 vectors raw. */
  def batch2Vecs(s: SparkSession, dir: String): DataFrame = {
    val all = TextPipeline.embDoubles(s, dir)
    all.where("vec_id % 10 = 9").select(col("vec_id"), col("e"), col("bucket"))
      .join(all.select(col("vec_id").as("src_id"), col("e").as("src_e"),
          col("bucket").as("src_bucket")),
        col("src_id") === col("vec_id") - lit(1) && col("vec_id") % 20 === 9,
        "left")
      .selectExpr("vec_id", "coalesce(src_e, e) AS e",
        "coalesce(src_bucket, bucket) AS bucket")
  }

  /** Corpus-slice fingerprint: count + order-independent xor over
    * (vec_id, embedding) — any membership or in-place vector change
    * moves it. Column-pruned id+vector scan, no shuffle. */
  private def fingerprint(s: SparkSession, dir: String): String =
    Tables.memoFingerprint(s, dir, "embed.base") {
      val r = Tables.t(s, dir, "embeddings").where("vec_id % 10 < 7")
        .selectExpr("count(*) AS n",
          "coalesce(bit_xor(xxhash64(vec_id, embedding)), 0L) AS chk")
        .head()
      s"${r.getLong(0)}:${r.getLong(1)}"
    }

  def build(s: SparkSession, dir: String, variant: String = ""): String = {
    val path = root(dir, variant)
    corpusVecs(s, dir).select(col("bucket"), col("vec_id"))
      .write.mode("overwrite").parquet(s"$path/buckets")
    store.built(s, dir, variant)
    path
  }

  /** Current = exists, matches the live corpus slice, and no absorb has
    * extended it past the pristine corpus-only state (q141's oracled
    * contract — same semantics as DedupIndex.isCurrent). */
  def isCurrent(s: SparkSession, dir: String, variant: String = ""): Boolean =
    store.isCurrent(s, dir, variant)

  def buildIfStale(s: SparkSession, dir: String, variant: String = ""): String =
    store.buildIfStale(s, dir, variant)(build(s, dir, variant))

  private[graft] def invalidate(s: SparkSession, dir: String,
      variant: String = ""): Unit = store.invalidate(s, dir, variant)

  /** Judge every delta vector against the persisted bucket index: one
    * bucket equi-join for candidates, one vec_id equi-join to rehydrate
    * candidate vectors from the corpus, exact cosine, then the
    * deterministic best-candidate pick (max cosine, min vec_id among
    * ties — doubles are bit-identical cross-engine, so the tie set is
    * too). */
  def deltaVerdicts(s: SparkSession, dir: String): DataFrame =
    judgeVecs(s, dir, deltaVecs(s, dir))

  /** [[deltaVerdicts]] over an arbitrary (vec_id, e, bucket) batch frame
    * — the multi-batch surface (q142 judges batch 2 against the store
    * AFTER batch 1 was absorbed). */
  def judgeVecs(s: SparkSession, dir: String, delta: DataFrame,
      variant: String = ""): DataFrame =
    judgeAgainstBuckets(s, dir, delta,
      s.read.parquet(s"${root(dir, variant)}/buckets"))

  /** The judge against an EXPLICIT (bucket, vec_id) index frame — the
    * surface StoreTxn needs to judge against base ∪ committed layers
    * instead of a single store directory. */
  private[queries] def judgeAgainstBuckets(s: SparkSession, dir: String,
      delta: DataFrame, buckets: DataFrame): DataFrame = {
    graft.functions.CosineSimilarity.register(s)
    val cand = delta.select(col("vec_id").as("d_id"), col("e").as("ae"), col("bucket"))
      .join(buckets.withColumnRenamed("vec_id", "c_id"),
        Seq("bucket"))
      .join(TextPipeline.embDoubles(s, dir)
          .select(col("vec_id").as("c_id"), col("e").as("be")),
        Seq("c_id"))
      .selectExpr("d_id", "c_id", "cosine_similarity(ae, be) AS cos")
    val agg = cand.groupBy(col("d_id"))
      .agg(max(col("cos")).as("best_cos"),
        sum(when(col("cos") >= 0.3, 1L).otherwise(0L)).as("n_sim"))
    val best = cand.join(agg, Seq("d_id"))
      .where(col("cos") === col("best_cos"))
      .groupBy(col("d_id"), col("best_cos"), col("n_sim"))
      .agg(min(col("c_id")).as("best_match"))
    delta.select(col("vec_id"))
      .join(best, col("vec_id") === col("d_id"), "left")
      .selectExpr("vec_id",
        "coalesce(n_sim, 0L) AS n_sim",
        "coalesce(best_match, -1L) AS best_match",
        "round(coalesce(best_cos, -2.0), 4) AS best_cos_r",
        "CASE WHEN best_cos >= 0.9999 THEN 'exact' " +
          "WHEN best_cos >= 0.3 THEN 'near' " +
          "ELSE 'unique' END AS verdict")
      .orderBy(col("vec_id"))
  }

  /** Absorb a judged batch's 'unique' survivors: append their (bucket,
    * vec_id) rows so the next batch is judged against them. The kept set
    * is STAGED before the bucket append — the keptIds plan READS the
    * bucket table through the judge, and Spark recaches path reads after
    * a write to that path (the r15 DedupIndex.absorb lesson; see that
    * scaladoc) — and the append runs after the kernel's stale meta
    * write. */
  def absorbVecs(s: SparkSession, dir: String, delta: DataFrame,
      variant: String = ""): Unit = {
    val path = root(dir, variant)
    val keptIds = judgeVecs(s, dir, delta, variant)
      .where("verdict = 'unique'").select(col("vec_id"))
    val staging = s"$path/staging_absorb"
    delta.select(col("bucket"), col("vec_id")).join(keptIds, Seq("vec_id"))
      .select(col("bucket"), col("vec_id"))
      .write.mode("overwrite").parquet(staging)
    store.absorb(s, dir, variant)(
      s.read.parquet(staging).write.mode("append").parquet(s"$path/buckets"))
    StoreMeta.delete(s, staging)
  }

  /** COMPACT the absorb layers under buckets/ into one coalesced file
    * set — semantics-preserving row copy under the kernel's staged
    * compact (IncrementalOpsSpec pins judge-answer preservation). */
  def compact(s: SparkSession, dir: String, variant: String = ""): Unit =
    store.compact(s, dir, variant, Seq("buckets"))(staging =>
      s.read.parquet(s"${root(dir, variant)}/buckets").coalesce(4)
        .write.mode("overwrite").parquet(s"$staging/buckets"))

  /** STREAMING SEMANTIC ARRIVAL GATE — the two-batch lifecycle (q142)
    * under streaming cadence: the vector feed arrives as micro-batches
    * (batch 1 = tick 1, batch 2 = tick 2 — file mtimes +
    * maxFilesPerTrigger=1 force the order, the q151/q166 device), each
    * tick is judged against the CURRENT store inside foreachBatch, its
    * verdicts append to a result table, and its 'unique' survivors are
    * absorbed before the next tick fires. Because each vector lives in
    * exactly one tick and absorb-then-judge is exactly the batch
    * lifecycle's order, tick 2's streamed verdicts equal q142's batch
    * verdicts ROW FOR ROW — q168 shares q142's oracle verbatim, making
    * this the ORACLED streaming form of the semantic dedup gate (q166
    * pins the streamed embed state in spec only; here the stream's own
    * output is cross-engine-proven). Deployment shape: the crawl's
    * embedding feed is gated at arrival time, before the expensive
    * pipeline stages ever see a semantic duplicate. */
  private def streamGate(s: SparkSession, dir: String): DataFrame = {
    buildIfStale(s, dir, "sg")
    // micro-batch clones copy the function registry at stream START
    // (Registration.ensureAllNative's note) — the judge's
    // cosine_similarity must be bound before .start()
    graft.functions.Registration.ensureAllNative(s)
    val out = StoreMeta.root("embed_gate_out", dir)
    StoreMeta.delete(s, out)
    // deterministic per-corpus feed — staged once per corpus content
    // (the q40 staged-events device): re-writing the identical two tick
    // files every lap paid two write jobs for bytes that cannot differ
    StoreMeta.stageTicks(s, "embed_gate", dir)(
      () => batch1Vecs(s, dir).withColumn("epoch", lit(1)),
      () => batch2Vecs(s, dir).withColumn("epoch", lit(2)))
    StoreMeta.drain(s, "embed_gate", dir) { b =>
      // tick tag — single-valued by maxFilesPerTrigger=1 (q166's note)
      val epoch = b.agg(max(col("epoch"))).head().getInt(0)
      val delta = b.drop("epoch")
      judgeVecs(s, dir, delta, "sg").withColumn("epoch", lit(epoch))
        .write.mode("append").parquet(out)
      absorbVecs(s, dir, delta, "sg")
    }
    s.read.parquet(out).where("epoch = 2")
      .select(col("vec_id"), col("n_sim"), col("best_match"),
        col("best_cos_r"), col("verdict"))
      .orderBy(col("vec_id"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q141_embed_dedup_store" -> ((s, dir) => {
      buildIfStale(s, dir); deltaVerdicts(s, dir)
    }),
    // Two-batch lifecycle in vector space (q135's shape): pristine store
    // -> judge + absorb batch 1 -> judge batch 2 (with vectors planted as
    // copies of absorbed batch-1 vectors) against the grown store. Own
    // variant root so q141's pristine-store fast path survives the laps.
    "q142_embed_two_batch" -> ((s, dir) => {
      buildIfStale(s, dir, "b2")
      absorbVecs(s, dir, batch1Vecs(s, dir), "b2")
      judgeVecs(s, dir, batch2Vecs(s, dir), "b2")
    }),
    // Streaming form of the q142 lifecycle — tick-wise judge + absorb
    // inside foreachBatch; tick 2's streamed verdicts are q142's batch
    // verdicts exactly (oracle shared verbatim below).
    "q168_stream_embed_gate" -> ((s, dir) => streamGate(s, dir))
  )

  // DuckDB recomputes the whole flow: planted delta, sign buckets, exact
  // cosines (same association order as q29's oracle — bit-identical
  // doubles), the same best pick and thresholds.
  val oracles: Map[String, String] = Map(
    "q141_embed_dedup_store" ->
      s"""WITH emb AS (SELECT vec_id,
         |    list_transform(embedding, x -> x::DOUBLE) AS e,
         |    (embedding[1] > 0)::INT * 4 + (embedding[2] > 0)::INT * 2
         |      + (embedding[3] > 0)::INT AS bucket
         |  FROM embeddings),
         |src AS (SELECT d.vec_id, coalesce(o.e, d.e) AS e,
         |    coalesce(o.bucket, d.bucket) AS bucket
         |  FROM emb d LEFT JOIN emb o
         |    ON o.vec_id = d.vec_id - 7 AND d.vec_id % 10 = 7
         |  WHERE d.vec_id % 10 >= 7),
         |store AS (SELECT vec_id, e, bucket FROM emb WHERE vec_id % 10 < 7),
         |cand AS (SELECT s.vec_id AS d_id, t.vec_id AS c_id,
         |    ${TextPipeline.duckCos("s", "t")} AS cos
         |  FROM src s JOIN store t ON s.bucket = t.bucket),
         |agg AS (SELECT d_id, max(cos) AS best_cos,
         |    sum(CASE WHEN cos >= 0.3 THEN 1 ELSE 0 END)::BIGINT AS n_sim
         |  FROM cand GROUP BY d_id),
         |best AS (SELECT cand.d_id, agg.best_cos, agg.n_sim,
         |    min(c_id) AS best_match
         |  FROM cand JOIN agg ON cand.d_id = agg.d_id
         |    AND cand.cos = agg.best_cos
         |  GROUP BY cand.d_id, agg.best_cos, agg.n_sim)
         |SELECT src.vec_id,
         |  coalesce(n_sim, 0)::BIGINT AS n_sim,
         |  coalesce(best_match, -1) AS best_match,
         |  round(coalesce(best_cos, -2.0), 4) AS best_cos_r,
         |  CASE WHEN best_cos >= 0.9999 THEN 'exact'
         |       WHEN best_cos >= 0.3 THEN 'near'
         |       ELSE 'unique' END AS verdict
         |FROM src LEFT JOIN best ON best.d_id = src.vec_id
         |ORDER BY src.vec_id""".stripMargin,

    // The two-batch history replayed store-free: batch-1 verdicts vs the
    // corpus, kept1 = its 'unique' vectors, store2 = corpus ∪ kept1
    // (kept vectors keep their JUDGED form — for mod-8 raw vectors that
    // is the raw embedding), batch-2 verdicts vs store2.
    "q142_embed_two_batch" -> twoBatchOracle,
    // q142's oracle verbatim: the streamed two-tick history IS the batch
    // two-batch history (disjoint ticks, judge-before-absorb per tick).
    "q168_stream_embed_gate" -> twoBatchOracle
  )

  private lazy val twoBatchOracle: String =
      s"""WITH emb AS (SELECT vec_id,
         |    list_transform(embedding, x -> x::DOUBLE) AS e,
         |    (embedding[1] > 0)::INT * 4 + (embedding[2] > 0)::INT * 2
         |      + (embedding[3] > 0)::INT AS bucket
         |  FROM embeddings),
         |b1 AS (SELECT d.vec_id, coalesce(o.e, d.e) AS e,
         |    coalesce(o.bucket, d.bucket) AS bucket
         |  FROM emb d LEFT JOIN emb o
         |    ON o.vec_id = d.vec_id - 7 AND d.vec_id % 10 = 7
         |  WHERE d.vec_id % 10 IN (7, 8)),
         |b2 AS (SELECT d.vec_id, coalesce(o.e, d.e) AS e,
         |    coalesce(o.bucket, d.bucket) AS bucket
         |  FROM emb d LEFT JOIN emb o
         |    ON o.vec_id = d.vec_id - 1 AND d.vec_id % 20 = 9
         |  WHERE d.vec_id % 10 = 9),
         |store1 AS (SELECT vec_id, e, bucket FROM emb WHERE vec_id % 10 < 7),
         |cand1 AS (SELECT s.vec_id AS d_id,
         |    ${TextPipeline.duckCos("s", "t")} AS cos
         |  FROM b1 s JOIN store1 t ON s.bucket = t.bucket),
         |best1 AS (SELECT d_id, max(cos) AS best_cos
         |  FROM cand1 GROUP BY d_id),
         |kept1 AS (SELECT b1.vec_id, b1.e, b1.bucket
         |  FROM b1 LEFT JOIN best1 ON best1.d_id = b1.vec_id
         |  WHERE best1.best_cos IS NULL OR best1.best_cos < 0.3),
         |store2 AS (SELECT vec_id, e, bucket FROM store1
         |  UNION ALL SELECT vec_id, e, bucket FROM kept1),
         |cand2 AS (SELECT s.vec_id AS d_id, t.vec_id AS c_id,
         |    ${TextPipeline.duckCos("s", "t")} AS cos
         |  FROM b2 s JOIN store2 t ON s.bucket = t.bucket),
         |agg2 AS (SELECT d_id, max(cos) AS best_cos,
         |    sum(CASE WHEN cos >= 0.3 THEN 1 ELSE 0 END)::BIGINT AS n_sim
         |  FROM cand2 GROUP BY d_id),
         |best2 AS (SELECT cand2.d_id, agg2.best_cos, agg2.n_sim,
         |    min(c_id) AS best_match
         |  FROM cand2 JOIN agg2 ON cand2.d_id = agg2.d_id
         |    AND cand2.cos = agg2.best_cos
         |  GROUP BY cand2.d_id, agg2.best_cos, agg2.n_sim)
         |SELECT b2.vec_id,
         |  coalesce(n_sim, 0)::BIGINT AS n_sim,
         |  coalesce(best_match, -1) AS best_match,
         |  round(coalesce(best_cos, -2.0), 4) AS best_cos_r,
         |  CASE WHEN best_cos >= 0.9999 THEN 'exact'
         |       WHEN best_cos >= 0.3 THEN 'near'
         |       ELSE 'unique' END AS verdict
         |FROM b2 LEFT JOIN best2 ON best2.d_id = b2.vec_id
         |ORDER BY b2.vec_id""".stripMargin
}
