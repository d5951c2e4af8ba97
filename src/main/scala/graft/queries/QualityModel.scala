package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * MODEL-BASED QUALITY FILTERING (q159) and DIVERSITY-STRATIFIED
 * SAMPLING (q160) — the two corpus-curation operators the heuristic
 * gates (q23's ratios, q70's repetition) cannot express:
 *
 * q159 — a character-bigram language model as a gibberish gate. The
 * heuristic gates score STRUCTURE (lengths, ratios); they pass any text
 * whose shape is right even when its letter sequences are noise (OCR
 * garbage, mojibake, ciphered spam — the classic crawl failure modes).
 * A frequency model over the corpus's own character bigrams catches
 * exactly that: train bigram counts once, score every document by its
 * average bigram frequency, flag the tail. This is the integer-exact
 * skeleton of the CCNet/KenLM perplexity filter — counts instead of
 * log-probs so the whole lifecycle (train, score, gate) is
 * DuckDB-oracleable cross-engine.
 *
 * Plan shape at 100 TB: the model is one linear scan collapsing to a
 * ≤|alphabet|² table (map-side combine makes the exchange carry at most
 * 729 rows per partition); the trained table is driver-collected (same
 * bounded-collect class as AnnIndex's metadata — it CANNOT exceed 729
 * rows) and embedded as ONE map literal, so scoring is a pure in-row
 * `aggregate` lookup inside whole-stage codegen — no join, no shuffle,
 * no UDF. The gate threshold is a 1-row global aggregate broadcast by
 * cross-join (the q83 coverage device). Two linear scans total; the
 * bigram table is the kind of tiny persistent artifact a production run
 * would drop into a store next to [[VocabStore]]'s counts.
 *
 * Planting: doc_id % 37 == 0 documents are ciphered with a fixed
 * letter substitution (atbash) — length, spacing, and token structure
 * survive (the heuristic gates still pass them) but every bigram lands
 * on cells only other ciphered docs populate. Measured at sf0.01: the
 * planted mean score is 0.34e9 vs the organic 1.77e9, and the
 * half-of-mean gate separates them perfectly (spec-gated at both SFs).
 *
 * q160 — diversity-stratified sampling: "take the best k documents PER
 * EMBEDDING REGION, not the globally best" — global top-k by quality
 * collapses a mix onto its densest mode; stratifying by an embedding
 * partition preserves coverage of the space (the coreset/diversity
 * sampling step of a curation pipeline). The region key reuses q141's
 * deterministic sign-bit device (leading-dim signs — integer predicates
 * on floats, so the whole query is oracled end to end), widened to 6
 * bits / 64 strata here; at 100 TB the bit count is the knob that keeps
 * each stratum's window partition bounded (every added bit halves the
 * expected stratum). One doc_id equi-join (embeddings ↔ quality) and a
 * rank-over-stratum window whose per-partition top-k never leaves the
 * executor — no global sort anywhere.
 */
object QualityModel {

  private val cipherFrom = "abcdefghijklmnopqrstuvwxyz"
  private val cipherTo = cipherFrom.reverse

  /** Planted + normalized text: lowercase, cipher the planted slice,
    * restrict to the [a-z ] alphabet (bounding the model at 27² cells),
    * drop docs too short to hold one bigram. */
  private def plantedNorm(s: SparkSession, dir: String): DataFrame =
    Tables.t(s, dir, "documents")
      .selectExpr("doc_id",
        s"""regexp_replace(
           |  CASE WHEN doc_id % 37 = 0
           |    THEN translate(lower(text), '$cipherFrom', '$cipherTo')
           |    ELSE lower(text) END,
           |  '[^a-z ]', '') AS nt""".stripMargin)
      .where("length(nt) >= 2")

  /** Train the bigram count table — ≤ 729 rows by construction, the
    * bounded-collect class. Built over the PLANTED corpus: contamination
    * arrives inside the data, the model never sees a clean copy. The
    * bigram rows come from the native [[graft.functions.CharBigrams]]
    * generator — identical rows to the explode(transform(sequence...))
    * HOF it replaced (BigramKernelSpec pins the equality), without the
    * per-character lambda dispatch + substring allocation. */
  private def bigramModel(s: SparkSession, norm: DataFrame): Map[String, Long] = {
    graft.functions.CharBigrams.register(s)
    norm
      .selectExpr("char_bigrams(nt)")
      .groupBy(col("bg")).agg(count(lit(1)).as("c"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
  }

  /** q159: train on the corpus, score every doc by average bigram count
    * (fixed-point e6), flag docs under half the global mean. The
    * normalized corpus is persisted ONCE and shared by the train and
    * score passes — they are the same projection, and re-running the
    * regex normalization per pass was the query's single largest cost.
    * Scoring is the native [[graft.functions.BigramScore]] kernel (one
    * codegen'd byte loop; the aggregate(sequence...) HOF form it
    * replaced paid an interpreted lambda + substring + map probe per
    * character), as loud as ANSI element_at on a missing bigram —
    * impossible here by construction (the model is trained over the
    * identical frame), and a silent 0 would mask a model/corpus
    * mismatch. */
  private def bigramGate(s: SparkSession, dir: String): DataFrame = {
    val norm = Caches.persist(plantedNorm(s, dir))
    bigramGate(s, norm, bigramModel(s, norm))
  }

  private def bigramGate(s: SparkSession, norm: DataFrame,
      model: Map[String, Long]): DataFrame = {
    graft.functions.BigramScore.register(s)
    val m = typedlit(graft.functions.BigramScore.countsArray(model))
    val scored = Caches.persist(norm
      .withColumn("m", m)
      .selectExpr("doc_id",
        "bigram_score(nt, m) AS raw",
        "cast(length(nt) - 1 AS bigint) AS n_pos")
      .selectExpr("doc_id", "(raw * 1000000L) div n_pos AS score_e6"))
    val g = scored.agg(expr("sum(score_e6) div count(*) AS mean_e6"))
    scored.crossJoin(broadcast(g))
      .selectExpr("doc_id", "score_e6",
        "cast(score_e6 * 2 < mean_e6 AS int) AS is_flagged",
        "cast(doc_id % 37 = 0 AS int) AS is_planted")
      .orderBy(col("doc_id"))
  }

  // ---- q179: the gate's model as a PERSISTED MERGEABLE STORE ----
  // q159 retrains per lap; production trains the bigram table once and
  // advances it per batch. Counts merge by addition (VocabStore's
  // algebra over a 729-cell key space), so the store is ≤ 729 rows per
  // layer and the absorbed store's merged model EQUALS the full-corpus
  // train — which is exactly what lets q179 share q159's oracle
  // verbatim: gate-from-store must reproduce gate-from-scratch.

  /** LAYERED meta (ClusterStore's device): `base` tracks the training
    * slice, `batch1` the absorbed delta — an absorbed-and-current lap
    * skips retrain AND re-absorb (two fingerprint passes, no writes). */
  private val lmStore = new StoreMeta.Store("lm_store", lmFingerprint,
    StoreMeta.layered)

  private def lmRoot(dir: String): String = lmStore.root(dir)

  private def lmCorpus(s: SparkSession, dir: String): DataFrame =
    plantedNorm(s, dir).where("doc_id % 10 < 7")

  private def lmDelta(s: SparkSession, dir: String): DataFrame =
    plantedNorm(s, dir).where("doc_id % 10 >= 7")

  private def lmPartials(df: DataFrame): DataFrame = {
    graft.functions.CharBigrams.register(df.sparkSession)
    df.selectExpr("char_bigrams(nt)")
      .groupBy(col("bg")).agg(count(lit(1)).as("c"))
  }

  private def lmFingerprint(s: SparkSession, dir: String): String =
    Tables.memoFingerprint(s, dir, "lm.base")(
      StoreMeta.fingerprintOf(lmCorpus(s, dir), "nt"))
  private def lmDeltaFingerprint(s: SparkSession, dir: String): String =
    Tables.memoFingerprint(s, dir, "lm.delta")(
      StoreMeta.fingerprintOf(lmDelta(s, dir), "nt"))

  def buildLm(s: SparkSession, dir: String): Unit = {
    lmPartials(lmCorpus(s, dir))
      .coalesce(1).write.mode("overwrite").parquet(s"${lmRoot(dir)}/counts")
    lmStore.built(s, dir)
  }

  def isLmCurrent(s: SparkSession, dir: String): Boolean = lmStore.isCurrent(s, dir)

  def buildLmIfStale(s: SparkSession, dir: String): Unit =
    lmStore.buildIfStale(s, dir)(buildLm(s, dir))

  /** Absorb the delta's 729-cell partial — idempotent under the kernel's
    * verified absorb (an unchanged absorbed batch is a no-op). */
  def absorbLm(s: SparkSession, dir: String): Unit =
    lmStore.absorbOnce(s, dir, "", lmDeltaFingerprint(s, dir), buildLm(s, dir))(
      lmPartials(lmDelta(s, dir))
        .coalesce(1).write.mode("append").parquet(s"${lmRoot(dir)}/counts"))

  /** The merged model from the store alone — ≤ #batches × 729 rows in,
    * ≤ 729 out; the same bounded-collect class as the live train. */
  private[graft] def storedLmModel(s: SparkSession, dir: String): Map[String, Long] =
    s.read.parquet(s"${lmRoot(dir)}/counts")
      .groupBy(col("bg")).agg(sum(col("c")).as("c"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  /** q160: 6 leading sign bits partition the embedding space into 64
    * strata; within each, rank by (quality desc, doc_id) and keep the
    * top 3. */
  private def diversitySample(s: SparkSession, dir: String): DataFrame = {
    val strata = Tables.t(s, dir, "embeddings")
      .selectExpr("vec_id AS doc_id",
        (0 to 5).map(i => s"cast(embedding[$i] > 0 AS int) * ${1 << (5 - i)}")
          .mkString(" + ") + " AS bucket")
    val w = Window.partitionBy(col("bucket"))
      .orderBy(col("quality_e4").desc, col("doc_id"))
    strata
      .join(TextPipeline.docQuality(s, dir).select("doc_id", "quality_e4"),
        Seq("doc_id"))
      .withColumn("rk", row_number().over(w).cast("bigint"))
      .where("rk <= 3")
      .select(col("bucket"), col("rk"), col("doc_id"), col("quality_e4"))
      .orderBy(col("bucket"), col("rk"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q159_bigram_lm_gate" -> ((s, dir) => bigramGate(s, dir)),
    // the model STORE lifecycle: build the corpus slice's 729-cell
    // partials, absorb the delta's, gate from the merged store — must
    // reproduce q159's from-scratch gate exactly (oracle verbatim)
    "q179_lm_store" -> ((s, dir) => {
      buildLmIfStale(s, dir); absorbLm(s, dir)
      bigramGate(s, plantedNorm(s, dir), storedLmModel(s, dir))
    }),
    "q160_diversity_sample" -> ((s, dir) => diversitySample(s, dir))
  )

  // the full lifecycle from scratch: plant, normalize, train, score,
  // gate — every value an exact integer, both engines walk the same
  // fixed-point arithmetic. Shared VERBATIM by q179: the store-served
  // gate must land on the from-scratch recompute.
  private lazy val bigramGateOracle: String =
      s"""WITH p AS (
         |  SELECT doc_id,
         |    CASE WHEN doc_id % 37 = 0
         |      THEN translate(lower(text), '$cipherFrom', '$cipherTo')
         |      ELSE lower(text) END AS t0
         |  FROM documents),
         |n AS (SELECT doc_id, regexp_replace(t0, '[^a-z ]', '', 'g') AS nt
         |  FROM p),
         |n2 AS (SELECT doc_id, nt FROM n WHERE length(nt) >= 2),
         |pos AS (SELECT doc_id,
         |    unnest(list_transform(generate_series(1, length(nt) - 1),
         |      i -> substr(nt, i, 2))) AS bg
         |  FROM n2),
         |model AS (SELECT bg, count(*)::BIGINT AS c FROM pos GROUP BY bg),
         |score AS (SELECT doc_id,
         |    ((sum(c) * 1000000) // count(*))::BIGINT AS score_e6
         |  FROM pos JOIN model USING (bg) GROUP BY doc_id),
         |g AS (SELECT (sum(score_e6) // count(*))::BIGINT AS mean_e6 FROM score)
         |SELECT s.doc_id, s.score_e6,
         |  (CASE WHEN s.score_e6 * 2 < g.mean_e6 THEN 1 ELSE 0 END)::INT
         |    AS is_flagged,
         |  (CASE WHEN s.doc_id % 37 = 0 THEN 1 ELSE 0 END)::INT AS is_planted
         |FROM score s, g ORDER BY s.doc_id""".stripMargin

  val oracles: Map[String, String] = Map(
    "q159_bigram_lm_gate" -> bigramGateOracle,
    "q179_lm_store" -> bigramGateOracle,

    // q141's sign-bit device widened to 6 bits (DuckDB arrays are
    // 1-based: embedding[1..6] here == Spark's embedding[0..5]),
    // joined to q23's quality CTEs, ranked within stratum
    "q160_diversity_sample" ->
      s"""WITH ${TextPipeline.duckQualityCtes},
         |b AS (SELECT vec_id AS doc_id,
         |    (embedding[1] > 0)::INT * 32 + (embedding[2] > 0)::INT * 16
         |      + (embedding[3] > 0)::INT * 8 + (embedding[4] > 0)::INT * 4
         |      + (embedding[5] > 0)::INT * 2 + (embedding[6] > 0)::INT
         |      AS bucket
         |  FROM embeddings),
         |r AS (SELECT b.bucket, qual.doc_id, qual.quality_e4,
         |    row_number() OVER (PARTITION BY b.bucket
         |      ORDER BY qual.quality_e4 DESC, qual.doc_id) AS rk
         |  FROM b JOIN qual USING (doc_id))
         |SELECT bucket, rk::BIGINT AS rk, doc_id, quality_e4
         |FROM r WHERE rk <= 3 ORDER BY bucket, rk""".stripMargin
  )
}
