package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * MERGEABLE SKETCH STORE — two more members of the incremental-store
 * family ([[StatsStore]], [[VocabStore]], [[DedupIndex]]), covering the
 * two mergeable-summary shapes the family still lacked:
 *
 *  - q170 COUNT-MIN heavy hitters (Cormode & Muthukrishnan 2005): the
 *    frequency sketch whose partials merge by ADDITION. [[VocabStore]]
 *    keeps exact |vocab|-sized counts — the right call when the
 *    vocabulary is bounded; the CMS is the 100 TB fallback when it is
 *    not (web-scale n-grams, URLs, user agents): d×w counters
 *    (4×1024 here) bound the store at a few KB per batch REGARDLESS of
 *    key cardinality, at the price of one-sided overestimation
 *    (est ≥ true, spec-pinned). Heavy-hitter CANDIDATES ride along as
 *    each batch's local top-50 (a Misra-Gries-style bounded set, merged
 *    by union) because a CMS can estimate any key but enumerate none.
 *    Integer counters + md5 bucket hashing make the whole lifecycle —
 *    build corpus, absorb delta, read top-20 estimates — exactly
 *    replayable in DuckDB.
 *
 *  - q171 BOTTOM-K (KMV) sample (Bar-Yossef et al. 2002): the mergeable
 *    UNIFORM SAMPLE. Each batch persists its k lowest md5-priority rows;
 *    merge is union + re-take-bottom-k, and because the batches
 *    partition the corpus, the merged sample is EXACTLY the bottom-k of
 *    the full table — a deterministic, engine-portable "show me 64
 *    random documents" that never rescans the corpus and doubles as the
 *    KMV distinct estimator ((k−1)·2^60/h_k, derivable downstream from
 *    the reported integer priorities).
 *
 * Store lifecycle is the family's: corpus slice doc_id % 10 < 7, delta
 * the rest; fingerprint-guarded build (meta LAST), append-only absorb
 * flipping meta non-pristine, reads off the store alone.
 */
object SketchStore {

  private val store = new StoreMeta.Store("sketch_store", fingerprint,
    StoreMeta.pristine)

  private def root(dir: String, variant: String = ""): String =
    store.root(dir, variant)

  private def corpusDocs(s: SparkSession, dir: String): DataFrame =
    Tables.t(s, dir, "documents").where("doc_id % 10 < 7")

  private def deltaDocs(s: SparkSession, dir: String): DataFrame =
    Tables.t(s, dir, "documents").where("doc_id % 10 >= 7")

  /** Corpus-slice content fingerprint (VocabStore's device). */
  private def fingerprint(s: SparkSession, dir: String): String =
    Tables.memoFingerprint(s, dir, "sketch.base")(
      StoreMeta.fingerprintOf(corpusDocs(s, dir), "text"))

  // ---- q170: count-min sketch + heavy-hitter candidates ----

  /** Sketch geometry: 4 independent hash rows × 1024 counters. Collision
    * probability per row ≈ |vocab|/1024; the min over 4 rows needs all
    * four to collide with heavy mass for a visible overestimate. */
  private val cmsRows = 4
  private val cmsWidth = 1024L
  private val candK = 50

  /** Bucket of `word` in sketch row `i` — the md5-fragment hash every
    * store uses, salted by the row index. Positive 32-bit value, so the
    * mod matches DuckDB's. */
  private def bucketExpr(i: Int): Column =
    expr(s"cast(conv(substring(md5(concat('$i', '|', word)), 1, 8), 16, 10)" +
      s" AS bigint) % $cmsWidth")

  /** Per-batch exact word counts — the one corpus-scale aggregation
    * (map-side combine collapses partitions to their local vocab). */
  private def wordCounts(df: DataFrame): DataFrame =
    df.selectExpr("explode(split(text, ' ')) AS word")
      .groupBy(col("word")).agg(count(lit(1)).as("cnt"))

  /** The batch's CMS partial: (srow, bucket, cnt) — at most 4×1024 rows,
    * merged downstream by ADDITION (counter sums distribute over any
    * batch split of the corpus). */
  private def cmsPartials(df: DataFrame): DataFrame =
    wordCounts(df)
      .select(posexplode(array((0 until cmsRows).map(bucketExpr): _*))
        .as(Seq("srow", "bucket")), col("cnt"))
      .groupBy(col("srow"), col("bucket")).agg(sum(col("cnt")).as("cnt"))

  /** The batch's heavy-hitter candidates: its local top-50 words by
    * (cnt desc, word) — deterministic, bounded, merged by union. A true
    * global heavy hitter is a local heavy hitter in at least one batch
    * of any partition (its mass concentrates somewhere), the standard
    * candidates-ride-along construction. */
  private def candPartials(df: DataFrame): DataFrame =
    wordCounts(df).orderBy(col("cnt").desc, col("word")).limit(candK)
      .select(col("word"))

  def buildCms(s: SparkSession, dir: String, variant: String = ""): String = {
    val path = root(dir, variant)
    cmsPartials(corpusDocs(s, dir))
      .write.mode("overwrite").parquet(s"$path/cms")
    candPartials(corpusDocs(s, dir))
      .write.mode("overwrite").parquet(s"$path/cands")
    store.built(s, dir, variant)
    path
  }

  def isCmsCurrent(s: SparkSession, dir: String, variant: String = ""): Boolean =
    store.isCurrent(s, dir, variant)

  def buildCmsIfStale(s: SparkSession, dir: String, variant: String = ""): String =
    store.buildIfStale(s, dir, variant)(buildCms(s, dir, variant))

  /** ABSORB: append the delta's counter layer + candidate layer after
    * the kernel's stale meta write; the store is past its pristine
    * slice, so the next lap's build guard rebuilds (the flat ladder). */
  def absorbCms(s: SparkSession, dir: String): Unit =
    store.absorb(s, dir)(appendCms(deltaDocs(s, dir), root(dir)))

  private def appendCms(batch: DataFrame, path: String): Unit = {
    cmsPartials(batch).write.mode("append").parquet(s"$path/cms")
    candPartials(batch).write.mode("append").parquet(s"$path/cands")
  }

  /** Heavy-hitter read from the STORE ALONE: merge the counter layers
    * (≤ #batches × 4096 rows — broadcastable by construction), estimate
    * each candidate as min over the 4 rows of its bucket counters, and
    * report the top-20 by (est desc, word). The corpus is never touched:
    * the only inputs are the two bounded store tables. */
  def heavyHitters(s: SparkSession, dir: String, variant: String = ""): DataFrame = {
    val path = root(dir, variant)
    val counters = s.read.parquet(s"$path/cms")
      .groupBy(col("srow"), col("bucket")).agg(sum(col("cnt")).as("cnt"))
    val cands = s.read.parquet(s"$path/cands").distinct()
    val est = cands
      .select(col("word"), posexplode(array((0 until cmsRows).map(bucketExpr): _*))
        .as(Seq("srow", "bucket")))
      .join(broadcast(counters), Seq("srow", "bucket"))
      .groupBy(col("word")).agg(min(col("cnt")).as("est_cnt"))
      .orderBy(col("est_cnt").desc, col("word")).limit(20)
    // rank over the already-truncated 20-row frame (the q83 shape)
    import org.apache.spark.sql.expressions.Window
    est.withColumn("rank",
        row_number().over(Window.orderBy(col("est_cnt").desc, col("word"))))
      .select(col("rank").cast("long").as("rank"), col("word"), col("est_cnt"))
      .orderBy(col("rank"))
  }

  /** STREAMING absorb (q175): the delta arrives as two deterministic
    * micro-batches (doc_id % 10 ∈ {7,8}, then = 9), each committing its
    * own counter + candidate layers from foreachBatch. Both merge
    * operations are COMMUTATIVE (counter addition, candidate union), so
    * unlike q151's order-sensitive dedup judge, arrival order is free —
    * the streamed store equals the batch-split recompute whatever order
    * the files trigger in. Candidates are per-micro-batch top-50s, so
    * the q175 oracle unions three candidate sets where q170's unions
    * two. */
  def streamAbsorbCms(s: SparkSession, dir: String): Unit = {
    val path = root(dir, "strm")
    // one part file per micro-batch (maxFilesPerTrigger=1)
    StoreMeta.stageTicks(s, "sketch", dir)(
      () => deltaDocs(s, dir).where("doc_id % 10 < 9"),
      () => deltaDocs(s, dir).where("doc_id % 10 = 9"))
    store.absorb(s, dir, "strm")(
      StoreMeta.drain(s, "sketch", dir)(appendCms(_, path)))
  }

  // ---- q171: bottom-k (KMV) mergeable sample ----

  private val kmvK = 64

  /** 60-bit md5 priority (15 hex chars — inside int64, positive, and the
    * same digits DuckDB's '0x' cast produces). */
  private val prioritySql =
    "cast(conv(substring(md5(cast(doc_id AS string)), 1, 15), 16, 10) AS bigint)"

  /** The batch's KMV partial: its k lowest-priority rows. TakeOrdered —
    * no global sort shuffle. */
  private def kmvPartial(df: DataFrame): DataFrame =
    df.selectExpr("doc_id", "lang", s"$prioritySql AS priority")
      .orderBy(col("priority")).limit(kmvK)

  def buildKmv(s: SparkSession, dir: String): String = {
    val path = root(dir)
    kmvPartial(corpusDocs(s, dir))
      .write.mode("overwrite").parquet(s"$path/kmv")
    path
  }

  def absorbKmv(s: SparkSession, dir: String): Unit =
    kmvPartial(deltaDocs(s, dir))
      .write.mode("append").parquet(s"${root(dir)}/kmv")

  /** The merged sample from the store alone: bottom-k of the layered
    * bottom-ks — EXACTLY the full table's bottom-k because the batches
    * partition it (any global bottom-k row is in its own batch's
    * bottom-k). ≤ #batches × k rows in, k out. */
  def kmvSample(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    s.read.parquet(s"${root(dir)}/kmv")
      .orderBy(col("priority")).limit(kmvK)
      .withColumn("rank", row_number().over(Window.orderBy(col("priority"))))
      .select(col("rank").cast("long").as("rank"), col("doc_id"), col("lang"),
        col("priority"))
      .orderBy(col("rank"))
  }

  // KMV has no meta guard: build is overwrite (cheap — one TakeOrdered
  // over the corpus slice) and the q171 lap is the full lifecycle by
  // design, like q145/q154.

  // ---- q177: stratified mergeable sample (bottom-k per language) ----

  private val strataK = 16

  /** 48-bit md5 priority (12 hex chars): q171's device narrowed so the
    * value stays EXACT inside the top-k aggregator's double score
    * (2^48 < 2^53). */
  private val prio48 =
    "cast(conv(substring(md5(cast(doc_id AS string)), 1, 12), 16, 10) AS bigint)"

  /** The batch's per-language bottom-16 — via the bounded [[graft.plans
    * .TopKPerKey]] aggregation (map-side partials hold ≤ k rows per
    * language; never a rank window), negated because the aggregator
    * keeps maxima. */
  private def strataPartial(df: DataFrame): DataFrame =
    graft.plans.TopKPerKey.topK(
      df.selectExpr("lang", "doc_id", s"-($prio48) AS negp"),
      "lang", "negp", "doc_id", strataK, "negp")
      .selectExpr("lang", "doc_id", "cast(-negp AS bigint) AS priority")

  def buildStrata(s: SparkSession, dir: String): Unit =
    strataPartial(corpusDocs(s, dir))
      .write.mode("overwrite").parquet(s"${root(dir)}/strata")

  def absorbStrata(s: SparkSession, dir: String): Unit =
    strataPartial(deltaDocs(s, dir))
      .write.mode("append").parquet(s"${root(dir)}/strata")

  /** The merged per-language sample from the store alone: re-take the
    * bottom-16 over the layered bottom-16s (≤ #batches × #langs × k
    * rows) — exactly the full table's per-language bottom-16, the same
    * partition argument as [[kmvSample]] applied per stratum. */
  def strataSample(s: SparkSession, dir: String): DataFrame =
    graft.plans.TopKPerKey.topK(
      s.read.parquet(s"${root(dir)}/strata")
        .selectExpr("lang", "doc_id", "-cast(priority AS double) AS negp"),
      "lang", "negp", "doc_id", strataK, "negp")
      .selectExpr("lang", "doc_id", "cast(-negp AS bigint) AS priority", "rn")
      .orderBy(col("lang"), col("rn"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // heavy hitters through the sketch store: build the corpus's 4×1024
    // counters + top-50 candidates, absorb the delta's (counts split
    // across batches — addition must reassemble them), read top-20
    // estimates from the store alone. Oracle recomputes the identical
    // bucket sums and candidate union over the full table.
    "q170_cms_store" -> ((s, dir) => {
      buildCmsIfStale(s, dir); absorbCms(s, dir); heavyHitters(s, dir)
    }),
    // mergeable uniform sample: each batch persists its bottom-64
    // md5-priority rows; the merged read must equal the full table's
    // bottom-64 exactly.
    "q171_kmv_sample" -> ((s, dir) => {
      buildKmv(s, dir); absorbKmv(s, dir); kmvSample(s, dir)
    }),
    // stratified form: per-language bottom-16 through the bounded top-k
    // aggregation — the uniform-per-stratum inspection sample that a
    // global bottom-k (q171) skews toward the dominant language.
    "q177_stratified_sample" -> ((s, dir) => {
      buildStrata(s, dir); absorbStrata(s, dir); strataSample(s, dir)
    }),
    // the STREAMING lifecycle: corpus builds, the delta streams as two
    // micro-batches each committing counter + candidate layers from
    // foreachBatch; commutative merges make the read order-free.
    "q175_cms_stream" -> ((s, dir) => {
      buildCmsIfStale(s, dir, "strm")
      streamAbsorbCms(s, dir)
      heavyHitters(s, dir, "strm")
    })
  )

  val oracles: Map[String, String] = Map(
    // the same salted md5 bucket sums over FULL-table word counts (CMS
    // counters are additive over any batch split), the same per-batch
    // top-50 candidate union, the same min-over-rows estimate
    "q170_cms_store" ->
      s"""WITH w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word
         |  FROM documents),
         |wc AS (SELECT word, count(*)::BIGINT AS cnt FROM w GROUP BY word),
         |c1 AS (SELECT word FROM (
         |    SELECT word, count(*)::BIGINT AS cnt FROM w WHERE doc_id % 10 < 7
         |    GROUP BY word ORDER BY cnt DESC, word LIMIT $candK)),
         |c2 AS (SELECT word FROM (
         |    SELECT word, count(*)::BIGINT AS cnt FROM w WHERE doc_id % 10 >= 7
         |    GROUP BY word ORDER BY cnt DESC, word LIMIT $candK)),
         |cand AS (SELECT DISTINCT word FROM
         |    (SELECT word FROM c1 UNION ALL SELECT word FROM c2)),
         |rows_ AS (SELECT unnest([0, 1, 2, 3]) AS srow),
         |ctr AS (SELECT srow,
         |    ('0x' || substr(md5(srow::VARCHAR || '|' || word), 1, 8))::BIGINT
         |      % $cmsWidth AS bucket,
         |    sum(cnt)::BIGINT AS cnt
         |  FROM wc CROSS JOIN rows_ GROUP BY 1, 2),
         |est AS (SELECT cand.word, min(ctr.cnt)::BIGINT AS est_cnt
         |  FROM cand CROSS JOIN rows_
         |  JOIN ctr ON ctr.srow = rows_.srow
         |   AND ctr.bucket = ('0x' || substr(md5(rows_.srow::VARCHAR || '|'
         |     || cand.word), 1, 8))::BIGINT % $cmsWidth
         |  GROUP BY cand.word),
         |top AS (SELECT word, est_cnt,
         |    row_number() OVER (ORDER BY est_cnt DESC, word) AS rank
         |  FROM est ORDER BY est_cnt DESC, word LIMIT 20)
         |SELECT rank::BIGINT AS rank, word, est_cnt FROM top ORDER BY rank""".stripMargin,
    // q170's bucket sums (addition is micro-batch-split-invariant) with
    // THREE candidate top-50s: corpus, micro-batch {7,8}, micro-batch {9}
    "q175_cms_stream" ->
      s"""WITH w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word
         |  FROM documents),
         |wc AS (SELECT word, count(*)::BIGINT AS cnt FROM w GROUP BY word),
         |c1 AS (SELECT word FROM (
         |    SELECT word, count(*)::BIGINT AS cnt FROM w WHERE doc_id % 10 < 7
         |    GROUP BY word ORDER BY cnt DESC, word LIMIT $candK)),
         |c2 AS (SELECT word FROM (
         |    SELECT word, count(*)::BIGINT AS cnt FROM w
         |    WHERE doc_id % 10 IN (7, 8)
         |    GROUP BY word ORDER BY cnt DESC, word LIMIT $candK)),
         |c3 AS (SELECT word FROM (
         |    SELECT word, count(*)::BIGINT AS cnt FROM w WHERE doc_id % 10 = 9
         |    GROUP BY word ORDER BY cnt DESC, word LIMIT $candK)),
         |cand AS (SELECT DISTINCT word FROM (SELECT word FROM c1
         |    UNION ALL SELECT word FROM c2 UNION ALL SELECT word FROM c3)),
         |rows_ AS (SELECT unnest([0, 1, 2, 3]) AS srow),
         |ctr AS (SELECT srow,
         |    ('0x' || substr(md5(srow::VARCHAR || '|' || word), 1, 8))::BIGINT
         |      % $cmsWidth AS bucket,
         |    sum(cnt)::BIGINT AS cnt
         |  FROM wc CROSS JOIN rows_ GROUP BY 1, 2),
         |est AS (SELECT cand.word, min(ctr.cnt)::BIGINT AS est_cnt
         |  FROM cand CROSS JOIN rows_
         |  JOIN ctr ON ctr.srow = rows_.srow
         |   AND ctr.bucket = ('0x' || substr(md5(rows_.srow::VARCHAR || '|'
         |     || cand.word), 1, 8))::BIGINT % $cmsWidth
         |  GROUP BY cand.word),
         |top AS (SELECT word, est_cnt,
         |    row_number() OVER (ORDER BY est_cnt DESC, word) AS rank
         |  FROM est ORDER BY est_cnt DESC, word LIMIT 20)
         |SELECT rank::BIGINT AS rank, word, est_cnt FROM top ORDER BY rank""".stripMargin,
    // the full table's per-language bottom-16 by the 48-bit md5 priority
    "q177_stratified_sample" ->
      s"""WITH p AS (SELECT lang, doc_id,
         |    ('0x' || substr(md5(doc_id::VARCHAR), 1, 12))::BIGINT AS priority
         |  FROM documents),
         |r AS (SELECT lang, doc_id, priority,
         |    row_number() OVER (PARTITION BY lang
         |      ORDER BY priority, doc_id) AS rn
         |  FROM p)
         |SELECT lang, doc_id, priority, rn::INT AS rn
         |FROM r WHERE rn <= $strataK ORDER BY lang, rn""".stripMargin,
    // the full table's bottom-64 by the same 60-bit md5 priority
    "q171_kmv_sample" ->
      s"""WITH p AS (SELECT doc_id, lang,
         |    ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT AS priority
         |  FROM documents ORDER BY priority LIMIT $kmvK)
         |SELECT row_number() OVER (ORDER BY priority)::BIGINT AS rank,
         |  doc_id, lang, priority
         |FROM p ORDER BY rank""".stripMargin
  )
}
