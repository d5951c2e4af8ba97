package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * INCREMENTAL VOCABULARY STORE (q140) — the token-frequency sibling of
 * [[StatsStore]]: per-word counts kept as persisted mergeable partials,
 * so each new batch advances the corpus vocabulary statistics by
 * appending its own (word, cnt) layer instead of re-tokenizing
 * everything ingested. The read path (top-25 coverage, q83's shape)
 * merges the bounded vocabulary table, never the corpus. At 100 TB the
 * vocabulary distribution drives tokenizer health checks (OOV drift,
 * coverage curves) nightly — an O(batch) refresh here vs O(corpus).
 *
 * Counts merge by addition, so the absorbed store is EXACTLY the full
 * recompute, and the q140 oracle (q83's SQL over the full table) checks
 * the whole build → absorb → read lifecycle cross-engine. The store is
 * |vocab|-sized (#batches layers before a periodic compacting build).
 */
object VocabStore {

  // `variant` separates independent store instances: q140's absorbing
  // lifecycle flips its store non-pristine every lap, so q144 — which
  // needs the FROZEN corpus-only vocabulary in its steady state — gets
  // its own root (the same isolation rule as DedupIndex/StatsStore).
  private val store = new StoreMeta.Store("vocab_store", fingerprint,
    StoreMeta.pristine)

  private def root(dir: String, variant: String = ""): String =
    store.root(dir, variant)

  private def corpusDocs(s: SparkSession, dir: String): DataFrame =
    Tables.t(s, dir, "documents").where("doc_id % 10 < 7")

  private def deltaDocs(s: SparkSession, dir: String): DataFrame =
    Tables.t(s, dir, "documents").where("doc_id % 10 >= 7")

  /** (word, cnt) partials — map-side combine collapses each partition to
    * its local vocabulary before the exchange. `private[queries]`:
    * [[StoreTxn]] stages the same partials as a transaction layer. */
  private[queries] def partials(df: DataFrame): DataFrame =
    df.selectExpr("explode(split(text, ' ')) AS word")
      .groupBy(col("word")).agg(count(lit(1)).as("cnt"))

  /** Corpus-slice content fingerprint (same device as StatsStore). */
  private def fingerprint(s: SparkSession, dir: String): String =
    Tables.memoFingerprint(s, dir, "vocab.base")(
      StoreMeta.fingerprintOf(corpusDocs(s, dir), "text"))

  def build(s: SparkSession, dir: String, variant: String = ""): String = {
    val path = root(dir, variant)
    partials(corpusDocs(s, dir))
      .write.mode("overwrite").parquet(s"$path/partials")
    store.built(s, dir, variant)
    path
  }

  def isCurrent(s: SparkSession, dir: String, variant: String = ""): Boolean =
    store.isCurrent(s, dir, variant)

  def buildIfStale(s: SparkSession, dir: String, variant: String = ""): String =
    store.buildIfStale(s, dir, variant)(build(s, dir, variant))

  def absorb(s: SparkSession, dir: String): Unit =
    store.absorb(s, dir)(partials(deltaDocs(s, dir))
      .write.mode("append").parquet(s"${root(dir)}/partials"))

  /** COMPACT the layered word counts back to one row per word — the
    * merge IS the compaction (counts sum), under the kernel's staged
    * compact. */
  def compact(s: SparkSession, dir: String, variant: String = ""): Unit = {
    val path = root(dir, variant)
    store.compact(s, dir, variant, Seq("partials")) { staging =>
      s.read.parquet(s"$path/partials")
        .groupBy(col("word")).agg(sum(col("cnt")).as("cnt"))
        .coalesce(1).write.mode("overwrite").parquet(s"$staging/partials")
    }
  }

  // root is private; the spec reaches the partials through this.
  private[graft] def partialsPath(dir: String, variant: String = ""): String =
    s"${root(dir, variant)}/partials"

  /** Delete the meta record so the next buildIfStale rebuilds — each
    * store owns its own layout; [[StoreTxn]] invalidates through this
    * instead of carving paths from outside. */
  private[queries] def invalidate(s: SparkSession, dir: String,
      variant: String = ""): Unit = store.invalidate(s, dir, variant)

  /** q83's coverage read from the STORE ALONE: merge the layered counts
    * (one |vocab|-bounded groupBy), then rank/coverage over the top-25 —
    * the tiny-table window shape q83 established. */
  def coverage(s: SparkSession, dir: String): DataFrame =
    coverageOf(s.read.parquet(s"${root(dir)}/partials"))

  /** The coverage read over an EXPLICIT partials frame — [[coverage]]
    * passes the single-store read; [[StoreTxn]] passes base ∪ committed
    * transaction layers (q155). */
  private[queries] def coverageOf(p: DataFrame): DataFrame = {
    val freq = Caches.persist(
      p.groupBy(col("word")).agg(sum(col("cnt")).as("cnt")))
    val total = freq.agg(sum(col("cnt")).as("total"))
    val w = Window.orderBy(col("cnt").desc, col("word"))
    freq.orderBy(col("cnt").desc, col("word")).limit(25)
      .withColumn("rank", row_number().over(w))
      .withColumn("cum_cnt",
        sum(col("cnt")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .crossJoin(broadcast(total))
      .selectExpr("cast(rank AS bigint) AS rank", "word", "cnt",
        "(cum_cnt * 1000000L) div total AS cum_frac_e6")
      .orderBy(col("rank"))
  }

  /** The FROZEN tokenizer vocabulary read from the store: the top-`k`
    * corpus words by frequency (ties broken by word — the q83/q140
    * ordering, proven deterministic cross-engine). Fixed-SIZE vocabularies
    * are how real tokenizers are built (32k-100k entries; everything past
    * the cut is OOV); k = 24 against the generator's 31-word vocabulary
    * leaves a real OOV tail the way a real vocab leaves one. The rank/cut
    * runs over the merged |vocab|-bounded partials, never the corpus. */
  def vocabWords(s: SparkSession, dir: String, variant: String = "",
      k: Int = 24): DataFrame =
    s.read.parquet(s"${root(dir, variant)}/partials")
      .groupBy(col("word")).agg(sum(col("cnt")).as("cnt"))
      .orderBy(col("cnt").desc, col("word")).limit(k)
      .select(col("word"))

  /** q144: per-language OOV rate of the DELTA against the frozen corpus
    * vocabulary — the tokenizer-drift check a 100 TB ingest runs on every
    * new crawl dump before committing to a mix ("is this batch's language
    * distribution still covered by the tokenizer we trained?"). Plan
    * shape: the vocabulary is |vocab|-bounded and BROADCAST to the
    * delta's exploded tokens (one scan, no corpus shuffle); the per-lang
    * rollup is a #langs-sized aggregate with map-side partials. Integer
    * arithmetic end to end (counts + one fixed-point division), so the
    * whole lifecycle — build the store, freeze the vocab, score the
    * delta — is DuckDB-oracle-able. */
  def oovRates(s: SparkSession, dir: String, variant: String = ""): DataFrame = {
    val vocab = vocabWords(s, dir, variant).withColumn("in_vocab", lit(1))
    deltaDocs(s, dir)
      .selectExpr("doc_id", "lang", "explode(split(text, ' ')) AS word")
      .join(broadcast(vocab), Seq("word"), "left")
      .groupBy(col("lang"))
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_tokens"),
        sum(when(col("in_vocab").isNull, 1L).otherwise(0L)).as("oov_tokens"))
      .selectExpr("lang", "n_docs", "n_tokens", "oov_tokens",
        "(oov_tokens * 1000000L) div n_tokens AS oov_rate_e6")
      .orderBy(col("lang"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // build corpus vocab → absorb the delta's counts → read coverage
    // from the store alone; the oracle recomputes q83's coverage from
    // the full table, closing the lifecycle cross-engine
    "q140_vocab_store" -> ((s, dir) => {
      buildIfStale(s, dir); absorb(s, dir); coverage(s, dir)
    }),
    // freeze the corpus vocabulary (own variant — q140's absorb must not
    // grow it), then score the delta's OOV against it
    "q144_oov_store" -> ((s, dir) => {
      buildIfStale(s, dir, "oov"); oovRates(s, dir, "oov")
    })
  )

  // q83's oracle verbatim — the absorbed store must land on the same
  // top-25, counts, and coverage fractions as a from-scratch full-table
  // tokenization.
  val oracles: Map[String, String] = Map(
    "q140_vocab_store" ->
      s"""WITH w AS (SELECT unnest(string_split(text, ' ')) AS word FROM documents),
         |f AS (SELECT word, count(*)::BIGINT AS cnt FROM w GROUP BY word),
         |tt AS (SELECT sum(cnt)::BIGINT AS total FROM f),
         |top AS (SELECT word, cnt,
         |    row_number() OVER (ORDER BY cnt DESC, word) AS rank
         |  FROM f ORDER BY cnt DESC, word LIMIT 25)
         |SELECT rank::BIGINT AS rank, word, cnt,
         |  ((sum(cnt) OVER (ORDER BY rank
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) * 1000000)
         |    // total)::BIGINT AS cum_frac_e6
         |FROM top, tt ORDER BY rank""".stripMargin,

    // the same frozen-vocab contract from scratch: the top-24 corpus
    // words by (count DESC, word), delta tokens left-joined against them,
    // per-lang integer rollup with the identical fixed-point rate
    "q144_oov_store" ->
      s"""WITH cw AS (SELECT unnest(string_split(text, ' ')) AS word
         |  FROM documents WHERE doc_id % 10 < 7),
         |vocab AS (SELECT word FROM cw GROUP BY word
         |  ORDER BY count(*) DESC, word LIMIT 24),
         |dw AS (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS word
         |  FROM documents WHERE doc_id % 10 >= 7)
         |SELECT dw.lang, count(DISTINCT dw.doc_id)::BIGINT AS n_docs,
         |  count(*)::BIGINT AS n_tokens,
         |  sum(CASE WHEN vocab.word IS NULL THEN 1 ELSE 0 END)::BIGINT
         |    AS oov_tokens,
         |  ((sum(CASE WHEN vocab.word IS NULL THEN 1 ELSE 0 END) * 1000000)
         |    // count(*))::BIGINT AS oov_rate_e6
         |FROM dw LEFT JOIN vocab ON vocab.word = dw.word
         |GROUP BY dw.lang ORDER BY dw.lang""".stripMargin
  )
}
