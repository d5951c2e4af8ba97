package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * TEXT-PIPELINE DIAGNOSTICS — three operators a training-data pipeline
 * runs over every corpus refresh, complementing [[TextPipeline]]'s
 * cleaning/dedup/mix machinery:
 *
 *  - q172 CONTENT-DEFINED CHUNKING dedup (the gear/Rabin CDC idea from
 *    storage dedup, on the token stream): chunk boundaries are decided
 *    by the HASH OF LOCAL CONTENT (cut after a token whose trailing
 *    4-gram hashes to 0 mod 8), so an insertion early in a document
 *    shifts only the chunk it lands in — boundaries re-synchronize,
 *    unlike q103's fixed-width chunks where one added token re-keys
 *    every later chunk. The read is the chunk-level duplication report
 *    per language: how much of the corpus is re-usable chunk storage vs
 *    unique content.
 *
 *  - q173 TOKENIZER FERTILITY: subword tokens per whitespace word and
 *    chars per subword, per language — THE health metric for tokenizer
 *    fit (a language with fertility 3× another trains slower and packs
 *    worse at the same character budget). True-BPE counts via the
 *    native [[graft.functions.BpeEncode]]; the oracle replays the merge
 *    chain through [[TextPipeline.duckBpeCtes]] (one source of truth).
 *
 *  - q174 CURRICULUM ORDERING: a deterministic global training order —
 *    shortest (easiest) documents first, md5-shuffled within equal
 *    lengths so batches stay decorrelated, doc_id tiebreak — plus the
 *    schedule decile each document lands in. The rank is
 *    [[graft.plans.RangedRank]] (range-partition + local rank + bounded
 *    offset collect), NEVER an unpartitioned window: at 100 TB the
 *    curriculum index is exactly the operator that tempts a single-task
 *    global sort.
 */
object TextDiag {

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.t(s, dir, "documents")

  // ---- q172: content-defined chunking ----

  /** Boundary divisor: cut when hash(4-gram) ≡ 0 (mod 8) → mean chunk
    * ≈ 8 tokens past the 4-token window. */
  private val cdcDiv = 8L

  private[graft] def cdcChunks(s: SparkSession, dir: String): DataFrame =
    cdcChunksOf(docs(s, dir))

  private def cdcChunksOf(input: DataFrame): DataFrame = {
    val win = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val tok = input
      .selectExpr("doc_id", "lang", "posexplode(split(text, ' ')) AS (pos, w)")
    // cut AFTER a token whose trailing 4-gram hashes to 0 mod 8; the
    // first 3 tokens never cut (no full window yet)
    val cut = tok
      .withColumn("w3", lag(col("w"), 3).over(win))
      .withColumn("w2", lag(col("w"), 2).over(win))
      .withColumn("w1", lag(col("w"), 1).over(win))
      .withColumn("cut", expr(
        "CASE WHEN pos >= 3 AND cast(conv(substring(md5(concat(" +
          s"w3, ' ', w2, ' ', w1, ' ', w)), 1, 8), 16, 10) AS bigint) % $cdcDiv = 0 " +
          "THEN 1 ELSE 0 END"))
    // a token's chunk = number of cuts STRICTLY before it
    val assigned = cut.withColumn("chunk_id",
      coalesce(sum(col("cut")).over(
        win.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
    assigned.groupBy(col("doc_id"), col("lang"), col("chunk_id"))
      .agg(expr("array_join(transform(array_sort(collect_list(struct(pos, w)))," +
          " x -> x.w), ' ')").as("chunk"),
        count(lit(1)).as("n_tok"))
  }

  /** Per-language chunk-duplication report: unique-vs-total CDC chunks
    * (by content hash, cross-document) and the realized mean chunk
    * length — integer fixed-point, exact cross-engine. */
  def cdcReport(s: SparkSession, dir: String): DataFrame =
    cdcChunks(s, dir)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_chunks"),
        countDistinct(expr("md5(chunk)")).as("n_distinct"),
        sum(col("n_tok")).as("n_tokens"))
      .selectExpr("lang", "n_chunks", "n_distinct",
        "(n_chunks - n_distinct) * 1000000L div n_chunks AS dup_frac_e6",
        "n_tokens * 1000L div n_chunks AS mean_tok_e3")
      .orderBy(col("lang"))

  /** q178 — CDC boilerplate SCRUB: drop every chunk whose content hash
    * appears in ≥ 2 documents, reassemble the survivors in chunk order.
    * The third member of the scrub family: q81 removes duplicated
    * FIXED-width chunks (cheap, but an insertion re-keys every later
    * chunk), q167 scrubs every duplicated stride-1 8-token window
    * (alignment-free, but generates n candidate grams per doc); CDC
    * chunks re-synchronize after edits like q167 while generating ~n/8
    * candidates like q81 — the middle of the cost/recall frontier.
    * Same plan skeleton as q81: chunk fingerprint df-aggregation, an
    * anti-join keeping singleton chunks, order-preserving reassembly. */
  def cdcScrub(s: SparkSession, dir: String): DataFrame = {
    val ch = Caches.persist(cdcChunks(s, dir)
      .withColumn("fp", expr("md5(chunk)")))
    val dup = ch.groupBy(col("fp"))
      .agg(countDistinct(col("doc_id")).as("df"))
      .where(col("df") >= 2)
      .select(col("fp"))
    val kept = ch.join(dup, Seq("fp"), "left_anti")
      .groupBy(col("doc_id"))
      .agg(sum(col("n_tok")).as("n_kept"),
        collect_list(struct(col("chunk_id"), col("chunk"))).as("cs"))
      .selectExpr("doc_id", "n_kept",
        "array_join(transform(array_sort(cs), x -> x.chunk), ' ') AS clean_text")
    ch.groupBy(col("doc_id")).agg(sum(col("n_tok")).as("n_tokens"))
      .join(kept, Seq("doc_id"), "left")
      .selectExpr("doc_id", "n_tokens",
        "cast(n_tokens - coalesce(n_kept, 0L) AS bigint) AS n_scrubbed",
        "coalesce(clean_text, '') AS clean_text")
      .orderBy(col("doc_id"))
  }

  // ---- q180: incremental CDC chunk store (storage dedup) ----

  /** The store form of the chunk family — the storage-dedup asymmetry:
    * chunk fingerprints of everything ingested persist once; a new
    * batch is chunked and judged (what fraction of each document's
    * chunks is already stored, i.e. dedup-able bytes) by ONE fp
    * equi-join, then its distinct fingerprints absorb as a layer.
    * Judge-before-absorb, [[DedupIndex]]'s order. The judge join
    * shuffles on fp — at 100 TB the store side is corpus-scale, so the
    * shuffle is the honest cost; a deployment co-buckets the store by
    * fp so only the O(delta) probe side moves (q57's device). */
  private val cdcStore = new StoreMeta.Store("cdc_store",
    cdcStoreFingerprint, StoreMeta.pristine)

  private def cdcRoot(dir: String): String = cdcStore.root(dir)

  private def cdcCorpus(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).where("doc_id % 10 < 7")

  private def cdcDelta(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).where("doc_id % 10 >= 7")

  private def cdcFps(input: DataFrame): DataFrame =
    cdcChunksOf(input).selectExpr("md5(chunk) AS fp").distinct()

  private def cdcStoreFingerprint(s: SparkSession, dir: String): String =
    // memoized behind the source file-stat stamp like the other store
    // probes (r21) — steady-state laps pay a metadata stat, not a scan
    Tables.memoFingerprint(s, dir, "cdc.base")(
      StoreMeta.fingerprintOf(cdcCorpus(s, dir), "text"))

  def buildCdcStore(s: SparkSession, dir: String): Unit = {
    cdcFps(cdcCorpus(s, dir)).write.mode("overwrite").parquet(s"${cdcRoot(dir)}/fps")
    cdcStore.built(s, dir)
  }

  def isCdcStoreCurrent(s: SparkSession, dir: String): Boolean =
    cdcStore.isCurrent(s, dir)

  def buildCdcStoreIfStale(s: SparkSession, dir: String): Unit =
    cdcStore.buildIfStale(s, dir)(buildCdcStore(s, dir))

  def absorbCdcStore(s: SparkSession, dir: String, batch: DataFrame): Unit =
    cdcStore.absorb(s, dir)(
      cdcFps(batch).write.mode("append").parquet(s"${cdcRoot(dir)}/fps"))

  /** Judge a batch against the store's committed layers: per document,
    * total chunks vs chunks whose fingerprint is already stored — the
    * dedup-able fraction a content-addressed store would not re-write. */
  def judgeCdc(s: SparkSession, dir: String, batch: DataFrame): DataFrame = {
    val stored = s.read.parquet(s"${cdcRoot(dir)}/fps").distinct()
      .withColumn("known", lit(1L))
    cdcChunksOf(batch)
      .selectExpr("doc_id", "md5(chunk) AS fp")
      .join(stored, Seq("fp"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_chunks"),
        sum(coalesce(col("known"), lit(0L))).as("n_known"))
      .selectExpr("doc_id", "n_chunks", "n_known",
        "n_known * 1000000L div n_chunks AS known_frac_e6")
      .orderBy(col("doc_id"))
  }

  // ---- q173: tokenizer fertility ----

  def fertility(s: SparkSession, dir: String): DataFrame = {
    graft.functions.BpeEncode.register(s)
    docs(s, dir)
      .selectExpr("lang", "length(text) AS n_chars",
        "size(split(text, ' ')) AS n_ws",
        // coalesce: NULL text = 0 subwords on both engines (q48's note)
        "size(bpe_encode(coalesce(text, ''))) AS n_bpe")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_ws")).as("total_ws"),
        sum(col("n_bpe")).as("total_bpe"),
        sum(col("n_chars")).as("total_chars"))
      .selectExpr("lang", "n_docs", "total_ws", "total_bpe", "total_chars",
        "total_bpe * 1000000L div total_ws AS fertility_e6",
        "total_chars * 1000000L div total_bpe AS chars_per_bpe_e6")
      .orderBy(col("lang"))
  }

  // ---- q176: BPE merge learning (tokenizer training) ----

  /** Number of merges learned — enough to exercise re-ranking across
    * iterations while keeping the generated oracle readable. */
  private val bpeIters = 8

  /** Learn the top-8 BPE merges from the corpus (Sennrich et al. 2016):
    * q48/q77 APPLY a merge table; this TRAINS one. The industrial-scale
    * shape — all iterations run on the WORD-FREQUENCY table, never the
    * corpus: tokenize once into |vocab| (word, freq) rows (cached), then
    * each round is a vocab-sized adjacent-pair aggregation, ONE collected
    * argmax row (cnt desc, pair asc — deterministic), and a
    * delimiter-safe single-scan replace applying the merge. At 100 TB
    * the corpus pass happens once; 8 rounds cost 8 × O(|vocab|).
    *
    * Merge application is SINGLE-SCAN left-to-right non-overlapping
    * (both engines' `replace` advance past the matched region in
    * original coordinates — verified ' a b a b ' → ' ab a b ' on both),
    * so a same-char run merges once per round rather than to fixpoint;
    * unmerged repeats simply re-compete in later rounds. The oracle
    * replays all 8 rounds as GENERATED CTE layers computing their own
    * argmax — structural SQL, no data baked in. */
  def bpeLearn(s: SparkSession, dir: String): DataFrame = {
    val pre = graft.functions.BpeTokenizer.preTokenRegex
    val wf = Caches.persist(docs(s, dir)
      .selectExpr(s"explode(regexp_extract_all(coalesce(text, ''), '$pre', 0)) AS w")
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))
      // ' a b c ' — leading/trailing delimiters make ' A B ' matching
      // token-exact (q48's sequence encoding)
      .withColumn("s", expr("concat(' ', regexp_replace(w, '(.)', '$1 '))")))
    var seq = wf.select(col("freq"), col("s"))
    val merges = Seq.newBuilder[(Long, String, String, Long)]
    for (i <- 0 until bpeIters) {
      val best = seq
        .selectExpr("freq", "split(trim(s), ' ') AS tk")
        .where("size(tk) >= 2")
        .selectExpr("freq",
          "explode(transform(sequence(0, size(tk) - 2)," +
            " j -> struct(tk[j] AS a, tk[j + 1] AS b))) AS pr")
        .groupBy(col("pr.a").as("lhs"), col("pr.b").as("rhs"))
        .agg(sum(col("freq")).as("cnt"))
        .orderBy(col("cnt").desc, col("lhs"), col("rhs")).limit(1)
        .head() // ONE row per round — the argmax, nothing corpus-sized
      val (a, b, c) = (best.getString(0), best.getString(1), best.getLong(2))
      merges += ((i + 1L, a, b, c))
      // functions.replace with lit() — token text never parses as SQL
      seq = seq.withColumn("s",
        replace(col("s"), lit(s" $a $b "), lit(s" $a$b ")))
    }
    import s.implicits._
    merges.result().toDF("rank", "lhs", "rhs", "pair_cnt")
      .orderBy(col("rank"))
  }

  private def bpeLearnOracle: String = {
    val pre = graft.functions.BpeTokenizer.preTokenRegex
    val layers = (0 until bpeIters).map { i =>
      s"""p$i AS (SELECT u['a'] AS lhs, u['b'] AS rhs, freq FROM (
         |  SELECT freq, unnest(list_transform(generate_series(1, len(tk) - 1),
         |    j -> {'a': tk[j], 'b': tk[j + 1]})) AS u
         |  FROM (SELECT freq, string_split(trim(s), ' ') AS tk FROM s$i)
         |  WHERE len(tk) >= 2)),
         |c$i AS (SELECT lhs, rhs, sum(freq)::BIGINT AS cnt
         |  FROM p$i GROUP BY lhs, rhs),
         |b$i AS (SELECT lhs, rhs, cnt FROM c$i
         |  ORDER BY cnt DESC, lhs, rhs LIMIT 1),
         |s${i + 1} AS (SELECT freq, replace(s, ' ' || lhs || ' ' || rhs || ' ',
         |    ' ' || lhs || rhs || ' ') AS s FROM s$i CROSS JOIN b$i)""".stripMargin
    }.mkString(",\n")
    val union = (0 until bpeIters)
      .map(i => s"SELECT ${i + 1} AS rank, lhs, rhs, cnt FROM b$i")
      .mkString(" UNION ALL ")
    s"""WITH w0 AS (SELECT w, count(*)::BIGINT AS freq FROM (
       |    SELECT unnest(regexp_extract_all(coalesce(text, ''), '$pre')) AS w
       |    FROM documents) GROUP BY w),
       |s0 AS (SELECT freq, ' ' || regexp_replace(w, '(.)', '\\1 ', 'g') AS s
       |  FROM w0),
       |$layers,
       |m AS ($union)
       |SELECT rank::BIGINT AS rank, lhs, rhs, cnt AS pair_cnt
       |FROM m ORDER BY rank""".stripMargin
  }

  // ---- q174: curriculum ordering ----

  def curriculum(s: SparkSession, dir: String): DataFrame = {
    val base = docs(s, dir).selectExpr("doc_id", "n_chars",
      "cast(conv(substring(md5(cast(doc_id AS string)), 1, 15), 16, 10) AS bigint) AS shuf")
    val ranked = graft.plans.RangedRank.rankBy(s, base, "n_chars", "shuf", "doc_id")
    val total = docs(s, dir).agg(count(lit(1)).as("n_tot"))
    ranked.crossJoin(broadcast(total))
      .selectExpr("doc_id", "n_chars", "rn",
        "(rn - 1) * 10 div n_tot AS phase")
      .orderBy(col("rn"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q172_cdc_chunks" -> ((s, dir) => cdcReport(s, dir)),
    "q178_cdc_scrub" -> ((s, dir) => cdcScrub(s, dir)),
    // the chunk store's TWO-BATCH lifecycle (q135's shape at chunk
    // granularity): build the corpus fingerprint set (if stale), absorb
    // batch 1, judge batch 2 against corpus ∪ batch 1 — dedup-able
    // fractions a content-addressed store would skip writing
    "q180_cdc_store" -> ((s, dir) => {
      buildCdcStoreIfStale(s, dir)
      absorbCdcStore(s, dir, cdcDelta(s, dir).where("doc_id % 10 < 9"))
      judgeCdc(s, dir, cdcDelta(s, dir).where("doc_id % 10 = 9"))
    }),
    "q173_fertility" -> ((s, dir) => fertility(s, dir)),
    // rankBy persists its shuffled input (RangedRank's eager-totals
    // trade); the consumer releases it via Caches.releaseAll after the
    // terminal action — the repo's standard protocol.
    "q174_curriculum" -> ((s, dir) => curriculum(s, dir)),
    // tokenizer TRAINING: the learned 8-merge table (argmax per round
    // over vocab-sized pair counts). The cached word-freq table is the
    // consumer-released persist.
    "q176_bpe_learn" -> ((s, dir) => bpeLearn(s, dir))
  )

  /** The CDC chunking chain (tokenize → cut flags → strict-prefix chunk
    * ids → reassembled chunks), shared verbatim by q172/q178 and — CTE
    * names suffixed, documents WHERE-sliced — twice by q180, so every
    * consumer's oracle PROVES it reads the same chunks the report
    * counts. NOT margin-stripped here: the consuming templates
    * interpolate it and stripMargin once over the whole SQL (stripping
    * twice would eat one pipe of the `||` concat continuations). */
  private def cdcCtesFor(sfx: String, pred: String): String =
    s"""t$sfx AS (SELECT doc_id, lang, u['pos'] AS pos, u['w'] AS w FROM (
       |  SELECT doc_id, lang,
       |    unnest(list_transform(generate_series(1, len(tk)),
       |      i -> {'pos': i - 1, 'w': tk[i]})) AS u
       |  FROM (SELECT doc_id, lang, string_split(text, ' ') AS tk
       |        FROM documents WHERE $pred))),
       |f$sfx AS (SELECT doc_id, lang, pos, w,
       |    lag(w, 3) OVER win AS w3, lag(w, 2) OVER win AS w2,
       |    lag(w, 1) OVER win AS w1
       |  FROM t$sfx WINDOW win AS (PARTITION BY doc_id ORDER BY pos)),
       |g$sfx AS (SELECT doc_id, lang, pos, w,
       |    CASE WHEN pos >= 3 AND ('0x' || substr(md5(w3 || ' ' || w2 || ' '
       |      || w1 || ' ' || w), 1, 8))::BIGINT % $cdcDiv = 0
       |      THEN 1 ELSE 0 END AS cut
       |  FROM f$sfx),
       |c$sfx AS (SELECT doc_id, lang, pos, w,
       |    coalesce(sum(cut) OVER (PARTITION BY doc_id ORDER BY pos
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS chunk_id
       |  FROM g$sfx),
       |ch$sfx AS (SELECT doc_id, lang, chunk_id,
       |    string_agg(w, ' ' ORDER BY pos) AS chunk, count(*)::BIGINT AS n_tok
       |  FROM c$sfx GROUP BY doc_id, lang, chunk_id)"""

  private lazy val cdcCtes: String = cdcCtesFor("", "TRUE")

  val oracles: Map[String, String] = Map(
    // the same trailing-4-gram cut rule, strict-prefix cut count, and
    // position-ordered chunk reassembly
    "q172_cdc_chunks" ->
      s"""WITH $cdcCtes
         |SELECT lang, count(*)::BIGINT AS n_chunks,
         |  count(DISTINCT md5(chunk))::BIGINT AS n_distinct,
         |  ((count(*) - count(DISTINCT md5(chunk))) * 1000000
         |    // count(*))::BIGINT AS dup_frac_e6,
         |  (sum(n_tok) * 1000 // count(*))::BIGINT AS mean_tok_e3
         |FROM ch GROUP BY lang ORDER BY lang""".stripMargin,
    // the chunk chain twice (suffixed, WHERE-sliced): store = distinct
    // chunk fps of corpus ∪ batch 1 (doc_id % 10 < 9), judged batch =
    // the % 10 = 9 slice, the same left-join membership count
    "q180_cdc_store" ->
      s"""WITH ${cdcCtesFor("s", "doc_id % 10 < 9")},
         |${cdcCtesFor("d", "doc_id % 10 = 9")},
         |sfp AS (SELECT DISTINCT md5(chunk) AS fp FROM chs),
         |dfp AS (SELECT doc_id, md5(chunk) AS fp FROM chd),
         |j AS (SELECT d.doc_id, count(*)::BIGINT AS n_chunks,
         |    sum(CASE WHEN s.fp IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
         |      AS n_known
         |  FROM dfp d LEFT JOIN sfp s ON s.fp = d.fp GROUP BY d.doc_id)
         |SELECT doc_id, n_chunks, n_known,
         |  (n_known * 1000000 // n_chunks)::BIGINT AS known_frac_e6
         |FROM j ORDER BY doc_id""".stripMargin,
    // q172's chunk chain VERBATIM, then the df >= 2 drop rule and the
    // chunk-order reassembly
    "q178_cdc_scrub" ->
      s"""WITH $cdcCtes,
         |dupfp AS (SELECT md5(chunk) AS fp FROM ch
         |  GROUP BY md5(chunk) HAVING count(DISTINCT doc_id) >= 2),
         |kept AS (SELECT doc_id, chunk_id, chunk, n_tok FROM ch
         |  WHERE md5(chunk) NOT IN (SELECT fp FROM dupfp)),
         |k AS (SELECT doc_id, sum(n_tok)::BIGINT AS n_kept,
         |    string_agg(chunk, ' ' ORDER BY chunk_id) AS clean_text
         |  FROM kept GROUP BY doc_id),
         |tot AS (SELECT doc_id, sum(n_tok)::BIGINT AS n_tokens
         |  FROM ch GROUP BY doc_id)
         |SELECT t.doc_id, n_tokens,
         |  (n_tokens - coalesce(n_kept, 0))::BIGINT AS n_scrubbed,
         |  coalesce(clean_text, '') AS clean_text
         |FROM tot t LEFT JOIN k USING (doc_id) ORDER BY t.doc_id""".stripMargin,
    // q48's merge-chain CTEs joined back to documents for lang
    "q173_fertility" ->
      s"""WITH RECURSIVE ${TextPipeline.duckBpeCtes},
         |d AS (SELECT d.lang, length(d.text) AS n_chars,
         |    len(string_split(d.text, ' ')) AS n_ws, coalesce(c.n, 0) AS n_bpe
         |  FROM documents d LEFT JOIN cnt c ON c.doc_id = d.doc_id)
         |SELECT lang, count(*)::BIGINT AS n_docs,
         |  sum(n_ws)::BIGINT AS total_ws, sum(n_bpe)::BIGINT AS total_bpe,
         |  sum(n_chars)::BIGINT AS total_chars,
         |  ((sum(n_bpe) * 1000000) // sum(n_ws))::BIGINT AS fertility_e6,
         |  ((sum(n_chars) * 1000000) // sum(n_bpe))::BIGINT AS chars_per_bpe_e6
         |FROM d GROUP BY lang ORDER BY lang""".stripMargin,
    // 8 generated CTE layers, each computing its own argmax and applying
    // it with the delimiter-safe replace — structural replay, no data
    // baked into the SQL
    "q176_bpe_learn" -> bpeLearnOracle,
    "q174_curriculum" ->
      """WITH b AS (SELECT doc_id, n_chars,
        |    ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT AS shuf
        |  FROM documents),
        |r AS (SELECT doc_id, n_chars,
        |    row_number() OVER (ORDER BY n_chars, shuf, doc_id) AS rn,
        |    count(*) OVER () AS n_tot
        |  FROM b)
        |SELECT doc_id, n_chars, rn::BIGINT AS rn,
        |  ((rn - 1) * 10 // n_tot)::BIGINT AS phase
        |FROM r ORDER BY rn""".stripMargin
  )
}
