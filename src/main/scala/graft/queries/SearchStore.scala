package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * PERSISTED INVERTED-INDEX SEARCH STORE — the retrieval member of the
 * incremental-store family ([[VocabStore]], [[StatsStore]], [[DedupIndex]]).
 * q99 proved BM25 needs no index when the query terms are known up front
 * (two corpus scans, zero shuffles); this store is the complementary
 * deployment: the corpus is indexed ONCE, new batches absorb in O(delta),
 * and every later query — any terms — answers from the index alone,
 * never rescanning 100 TB of text. The layout is the classic positional
 * inverted index (cf. Lucene's postings + norms, re-expressed as parquet
 * tables Catalyst can prune):
 *
 *  - `postings/` — one row per (term, doc) with tf, the doc's length
 *    DENORMALIZED in (so the score path needs NO corpus-scale doc-length
 *    join — dl is known at posting-build time and is immutable), and the
 *    sorted token-position array that makes phrase queries answerable.
 *    PARTITIONED BY a 16-way term-hash bucket: a query's terms map to a
 *    handful of `tb=` directories, so the scan physically skips ~13/16 of
 *    the index regardless of corpus size (partition pruning — the spec
 *    pins the PartitionFilters). Within a bucket the `term` equality
 *    pushes to parquet row-group stats.
 *  - `stats/` — (n_docs, sum_dl) ADDITIVE partials, one row per batch:
 *    the corpus-level BM25 normalizer is a constant-size merge, never a
 *    corpus aggregation at query time.
 *  - `meta/` — the family's fingerprint bracket (written LAST on build,
 *    flipped non-pristine by absorb), so a stale or half-built index is
 *    always detected.
 *
 * Merging is UNION: ingest batches partition the corpus by doc, so their
 * posting sets are disjoint and base ∪ layers IS the full-corpus index —
 * the absorbed store answers exactly what a from-scratch index would,
 * which is what lets q181 reuse q99's full-table DuckDB oracle verbatim.
 *
 * Scale shape: the build is one exploded scan + one (doc_id, term)-keyed
 * aggregation (the unavoidable token-scale shuffle, paid once); absorb
 * pays it only on the delta; the BM25/phrase reads scan only the query
 * terms' partitions, aggregate a df-bounded frame, and broadcast two
 * single-row stat tables — no corpus scan, no corpus shuffle (the spec
 * asserts the read plans never touch documents.parquet).
 */
object SearchStore {

  /** LAYERED meta: `base` tracks the indexed corpus slice, `batch1` the
    * absorbed delta (a FINGERPRINT when a verified absorb landed it, the
    * opaque `absorbed` when a frame-explicit caller did), `deleted` marks
    * a tombstoned membership, `compacted` an already-folded layer set.
    * Current = base matches, every absorbed batch is fingerprint-verified
    * (an opaque `absorbed` can be anything), no tombstones, and no verb
    * died mid-write (`purging` included). */
  private val store = new StoreMeta.Store("search_store", fingerprint,
    r => !r.contains("deleted") &&
      !r.values.exists(v => v == "absorbed" || StoreMeta.torn(v)))

  private def root(dir: String, variant: String = ""): String =
    store.root(dir, variant)

  private def corpusDocs(s: SparkSession, dir: String): DataFrame =
    Tables.t(s, dir, "documents").where("doc_id % 10 < 7")

  private def deltaDocs(s: SparkSession, dir: String): DataFrame =
    Tables.t(s, dir, "documents").where("doc_id % 10 >= 7")

  /** Corpus-slice content fingerprint (VocabStore's device), memoized
    * behind the data dir's file-stat stamp ([[Tables.memoFingerprint]]) —
    * the steady-state lifecycle probes this two to three times per lap
    * over bytes that cannot have changed. */
  private def fingerprint(s: SparkSession, dir: String): String =
    Tables.memoFingerprint(s, dir, "search.base")(
      fingerprintOf(corpusDocs(s, dir)))

  private def deltaFingerprint(s: SparkSession, dir: String): String =
    Tables.memoFingerprint(s, dir, "search.delta")(
      fingerprintOf(deltaDocs(s, dir)))

  private def fingerprintOf(df: DataFrame): String =
    StoreMeta.fingerprintOf(df, "text")

  /** Term-hash partition fanout. 16 directories keeps the sandbox file
    * count sane; at 100 TB the same layout widens to 1-4k buckets so each
    * stays one task's worth of postings. */
  private val termBuckets = 16

  /** The batch's postings: (tb, term, doc_id, tf, dl, positions). One
    * exploded scan, one (doc_id, term)-keyed aggregation — tf and the
    * sorted position list come out of the same group, dl rides along as
    * a group constant. Spark's murmur3 `hash` keys the bucket: stable
    * across sessions (fixed seed 42) and store-internal only, so no
    * cross-engine contract rests on it. */
  private[queries] def postings(df: DataFrame): DataFrame =
    df.selectExpr("doc_id", "cast(size(split(text, ' ')) AS bigint) AS dl",
        "split(text, ' ') AS w")
      .select(col("doc_id"), col("dl"), posexplode(col("w")).as(Seq("pos", "term")))
      .groupBy(col("doc_id"), col("term"))
      .agg(sort_array(collect_list(col("pos"))).as("positions"), max(col("dl")).as("dl"))
      .select(
        pmod(hash(col("term")), lit(termBuckets)).as("tb"),
        col("term"), col("doc_id"),
        size(col("positions")).cast("bigint").as("tf"),
        col("dl"), col("positions"))

  /** The batch's corpus-stat partial: one (n_docs, sum_dl) row, merged by
    * addition (doc-disjoint batches). */
  private[queries] def statPartial(df: DataFrame): DataFrame =
    df.selectExpr("cast(size(split(text, ' ')) AS bigint) AS dl")
      .agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"))

  def build(s: SparkSession, dir: String, variant: String = ""): String = {
    val path = root(dir, variant)
    // postings and the stat row are independent outputs — overlap the
    // write jobs (guide §2.6); meta below still lands strictly last
    Jobs.par(
      () => postings(corpusDocs(s, dir))
        .write.mode("overwrite").partitionBy("tb").parquet(s"$path/postings"),
      () => statPartial(corpusDocs(s, dir))
        .coalesce(1).write.mode("overwrite").parquet(s"$path/stats"))
    // overwrite semantics must cover the delete layer too: a tombstone
    // set surviving a rebuild would exclude docs whose negative stat
    // partials the fresh stats table no longer carries
    StoreMeta.delete(s, s"$path/tombstones")
    store.built(s, dir, variant)
    path
  }

  def isCurrent(s: SparkSession, dir: String, variant: String = ""): Boolean =
    store.isCurrent(s, dir, variant)

  def buildIfStale(s: SparkSession, dir: String, variant: String = ""): String =
    store.buildIfStale(s, dir, variant)(build(s, dir, variant))

  /** Absorb a delta batch: append its postings under the same `tb=`
    * directories (new files per partition — union merge, no read-modify-
    * write) and its one stat row, inside the kernel's verified absorb. */
  def absorb(s: SparkSession, dir: String, variant: String = ""): Unit =
    store.absorbOnce(s, dir, variant, deltaFingerprint(s, dir),
      build(s, dir, variant))(
      appendFrame(s, deltaDocs(s, dir), root(dir, variant)))

  private def appendFrame(s: SparkSession, batch: DataFrame,
      path: String): Unit =
    Jobs.par(
      () => postings(batch)
        .write.mode("append").partitionBy("tb").parquet(s"$path/postings"),
      () => statPartial(batch)
        .coalesce(1).write.mode("append").parquet(s"$path/stats"))

  /** The frame-explicit absorb — an arbitrary doc batch whose content
    * the store cannot fingerprint-verify; the batch row goes OPAQUE
    * ("absorbed"), so the store reads stale and the next lifecycle
    * rebuilds. Callers with a deterministic delta use [[absorb]] (the
    * idempotent fast path); streaming drains use [[streamAbsorb]]. */
  def absorbFrame(s: SparkSession, batch: DataFrame, dir: String,
      variant: String = ""): Unit =
    store.absorb(s, dir, variant)(appendFrame(s, batch, root(dir, variant)))

  /** COMPACT the appended posting layers: per-batch files under each
    * `tb=` directory fold into one rewrite (rows are already disjoint —
    * compaction here is file-count hygiene, not a merge), stats fold to
    * one row — the kernel's staged compact, a no-op when the current
    * layer set is already folded. */
  def compact(s: SparkSession, dir: String, variant: String = ""): Unit =
    store.compact(s, dir, variant, Seq("postings", "stats"),
      foldOnce = true)(stageFold(s, dir, variant, identity))

  /** Stage the folded postings (through `keep`) and stats. Repartition
    * BY the partition column: every bucket's rows land in one task, so
    * each tb= dir folds to a single file (without it, each read task
    * re-writes a sliver into every bucket and the file count never
    * drops). Parallelism = #buckets. */
  private def stageFold(s: SparkSession, dir: String, variant: String,
      keep: DataFrame => DataFrame)(staging: String): Unit = {
    val path = root(dir, variant)
    Jobs.par(
      () => keep(s.read.parquet(s"$path/postings")).repartition(col("tb"))
        .write.mode("overwrite").partitionBy("tb").parquet(s"$staging/postings"),
      () => s.read.parquet(s"$path/stats")
        .agg(sum(col("n_docs")).as("n_docs"), sum(col("sum_dl")).as("sum_dl"))
        .coalesce(1).write.mode("overwrite").parquet(s"$staging/stats"))
  }

  // root is private; the spec reaches the layers through these.
  private[graft] def statsPath(dir: String, variant: String = ""): String =
    s"${root(dir, variant)}/stats"
  private[graft] def postingsPath(dir: String, variant: String = ""): String =
    s"${root(dir, variant)}/postings"

  /** Delete the meta record so the next buildIfStale rebuilds. */
  private[graft] def invalidate(s: SparkSession, dir: String,
      variant: String = ""): Unit = store.invalidate(s, dir, variant)

  /** The query terms' bucket literals, resolved through the SAME `hash`
    * expression the writer used (one LocalTableScan job over |terms|
    * rows — bounded, driver-side by construction). Literal values are
    * what lets Catalyst prune `tb=` directories at planning time. */
  private[queries] def bucketsOf(s: SparkSession, terms: Seq[String]): Seq[Int] = {
    import s.implicits._
    terms.toDF("term")
      .select(pmod(hash(col("term")), lit(termBuckets)).as("tb"))
      .collect().map(_.getInt(0)).distinct.toSeq
  }

  /** The term-set filter: bucket literals (partition pruning on the
    * base's `tb=` dirs; an ordinary pushed predicate on unpartitioned
    * transaction layers) + the `term IN` inside surviving buckets. */
  private[queries] def termFilter(s: SparkSession,
      terms: Seq[String]): org.apache.spark.sql.Column =
    col("tb").isin(bucketsOf(s, terms): _*) && col("term").isin(terms: _*)

  /** The pruned posting scan for a term set. Everything downstream of
    * this frame is df-bounded. */
  private def termPostings(s: SparkSession, dir: String,
      terms: Seq[String], variant: String = ""): DataFrame =
    s.read.parquet(s"${root(dir, variant)}/postings").where(termFilter(s, terms))

  private[queries] val bm25Terms = Seq("spark", "merge", "window")

  /** STREAMING index ingestion (q186): the delta arrives as a stream and
    * each micro-batch appends its OWN postings + stat partial via
    * foreachBatch — how a continuously-crawling deployment keeps its
    * search index live instead of re-indexing nightly. Postings of a
    * doc-partition union (and stats sum) independently of batch
    * boundaries and arrival order, so the drained store state equals the
    * one-shot absorb exactly — q99's full-table oracle applies verbatim.
    * The delta is staged into 4 range files replayed one per micro-batch
    * (the q131 cadence device) and drained inside the kernel's verified
    * absorb: the drained state equals the one-shot absorb exactly, so an
    * already-drained, unchanged delta is a no-op (no staging, no
    * stream). */
  def streamAbsorb(s: SparkSession, dir: String, variant: String): Unit = {
    val path = root(dir, variant)
    store.absorbOnce(s, dir, variant, deltaFingerprint(s, dir),
        build(s, dir, variant)) {
      deltaDocs(s, dir).select(col("doc_id"), col("text"))
        .repartitionByRange(4, col("doc_id"))
        .write.mode("overwrite").parquet(StoreMeta.root("search_feed", dir))
      StoreMeta.drain(s, "search", dir)(appendFrame(s, _, path))
    }
  }

  /** q99's BM25 (k1=1.2, b=0.75, linear N/df idf, exact e4 integer
    * arithmetic) answered from the STORE ALONE: pruned postings scan →
    * per-doc tf pivot (dl rides along — no doc-length join) → two
    * broadcast single-row stat frames (df per term from the pruned scan,
    * N/Σdl from the additive stats table) → the identical integer score
    * → global top-10 (TakeOrderedAndProject). The corpus is never
    * touched. */
  def bm25(s: SparkSession, dir: String, variant: String = ""): DataFrame =
    bm25Of(termPostings(s, dir, bm25Terms, variant),
      s.read.parquet(s"${root(dir, variant)}/stats"))

  /** The BM25 read over EXPLICIT frames — [[bm25]] passes the single-
    * store pruned scan; [[StoreTxn]] passes base ∪ committed transaction
    * layers (the q155/q163 device). `tp` must already be filtered to
    * [[bm25Terms]]; `statsDf` is the raw additive partials. */
  private[queries] def bm25Of(tp: DataFrame, statsDf: DataFrame): DataFrame =
    bm25ScoresOf(tp, statsDf)
      .orderBy(col("score_e4").desc, col("doc_id")).limit(10)

  /** [[bm25Of]] WITHOUT the final cut — every matching doc's score, so
    * composed readers (q213's proximity boost) can re-rank before
    * limiting. */
  private[queries] def bm25ScoresOf(tp: DataFrame, statsDf: DataFrame): DataFrame = {
    val p = Caches.persist(tp)
    val dfCols = bm25Terms.zipWithIndex.map { case (tm, i) =>
      sum(when(col("term") === tm, 1L).otherwise(0L)).as(s"df$i")
    }
    val dfs = p.agg(dfCols.head, dfCols.tail: _*)
    val stats = statsDf
      .agg(sum(col("n_docs")).as("n"), sum(col("sum_dl")).as("sum_dl"))
    val tfCols = bm25Terms.zipWithIndex.map { case (tm, i) =>
      coalesce(max(when(col("term") === tm, col("tf"))), lit(0L)).as(s"tf$i")
    } :+ max(col("dl")).as("dl")
    p.groupBy(col("doc_id")).agg(tfCols.head, tfCols.tail: _*)
      .crossJoin(broadcast(stats))
      .crossJoin(broadcast(dfs))
      .withColumn("norm_e4",
        expr("2500 + (7500 * dl * 10000) div (sum_dl * 10000 div n)"))
      .withColumn("score_e4", expr(bm25Terms.indices.map(i =>
        s"(CASE WHEN tf$i > 0 THEN (tf$i * 22000 * n * 10000) div " +
          s"((tf$i * 10000 + (12 * norm_e4) div 10) * df$i) ELSE 0 END)")
        .mkString(" + ")))
      .where(col("score_e4") > 0)
      .select(col("doc_id"), col("dl"), col("score_e4"))
  }

  /** PROXIMITY-BOOSTED SEARCH (q213) — the composed query class real
    * search pipelines run: candidates match ANY of the BM25 terms (the
    * OR leg), and docs where the exact bigram "merge window" occurs get
    * a per-occurrence boost on top of their BM25 score (the proximity
    * leg) — both answered from the SAME pruned postings scan, the
    * corpus text never re-read. Composition must re-rank BEFORE any
    * cut, so this rides [[bm25ScoresOf]] (no limit) joined to the
    * q182 positional-adjacency counts; the boost is integer
    * (5000 e4-points per adjacent occurrence ≈ half a typical term
    * contribution) so the composed ranking replays exactly in DuckDB.
    * Cost is |postings of 3 terms| — the |terms|-bounded read contract
    * every search-store query keeps. */
  def proximityBm25(s: SparkSession, dir: String,
      variant: String = ""): DataFrame = {
    val tp = Caches.persist(termPostings(s, dir, bm25Terms, variant))
    val scores = bm25ScoresOf(tp,
      s.read.parquet(s"${root(dir, variant)}/stats"))
    val prox = tp.where(col("term").isin("merge", "window"))
      .groupBy(col("doc_id"))
      .agg(
        first(when(col("term") === "merge", col("positions")),
          ignoreNulls = true).as("pa"),
        first(when(col("term") === "window", col("positions")),
          ignoreNulls = true).as("pb"))
      .where(col("pa").isNotNull && col("pb").isNotNull)
      .withColumn("phrase_tf",
        size(array_intersect(expr("transform(pa, x -> x + 1)"), col("pb")))
          .cast("bigint"))
      .where(col("phrase_tf") > 0)
      .select(col("doc_id"), col("phrase_tf"))
    scores.join(prox, Seq("doc_id"), "left")
      .withColumn("phrase_tf", coalesce(col("phrase_tf"), lit(0L)))
      .withColumn("boosted_e4",
        col("score_e4") + col("phrase_tf") * lit(5000L))
      .select(col("doc_id"), col("score_e4"), col("phrase_tf"),
        col("boosted_e4"))
      .orderBy(col("boosted_e4").desc, col("doc_id")).limit(10)
  }

  /** Positional phrase search — the query class ONLY a positional index
    * answers without rescanning text: docs where "merge" is immediately
    * followed by "window", ranked by occurrence count. Both terms'
    * position lists come out of the same pruned scan; adjacency is
    * `|{p+1 : p ∈ pos(merge)} ∩ pos(window)|` — positions are distinct
    * by construction, so the intersection size IS the occurrence count
    * (overlapping repeats like "merge window merge window" count each
    * start exactly once per index, matching the oracle's token-wise
    * scan). */
  def phrase(s: SparkSession, dir: String, a: String = "merge",
      b: String = "window"): DataFrame =
    termPostings(s, dir, Seq(a, b))
      .groupBy(col("doc_id"))
      .agg(
        first(when(col("term") === a, col("positions")), ignoreNulls = true).as("pa"),
        first(when(col("term") === b, col("positions")), ignoreNulls = true).as("pb"))
      .where(col("pa").isNotNull && col("pb").isNotNull)
      .withColumn("phrase_tf",
        size(array_intersect(expr("transform(pa, x -> x + 1)"), col("pb")))
          .cast("bigint"))
      .where(col("phrase_tf") > 0)
      .select(col("doc_id"), col("phrase_tf"))
      .orderBy(col("phrase_tf").desc, col("doc_id")).limit(10)

  /** RELATED-TERMS MINING (q190) — the index as an analytics store:
    * doc-level co-occurrence lift between the top-`k` df terms, the
    * "users who searched X…" / query-expansion statistic. Everything
    * derives from the postings table — the corpus text is never
    * re-tokenized: df is a |vocab|-bounded aggregate over the index,
    * the top-k cut collects k strings (driver-side, bounded by
    * construction), the pair join runs over the PRUNED top-k postings
    * only (each doc contributes ≤ C(k,2) pairs — the k cap is what
    * keeps the self-join linear in corpus size), and N comes from the
    * additive stats table. lift_e6 = ⌊1e6·P(a,b)/(P(a)P(b))⌋ in pure
    * integer arithmetic (log-PMI would cost cross-engine float parity
    * for no analytic gain at fixed k). */
  def relatedTerms(s: SparkSession, dir: String, k: Int = 12,
      variant: String = ""): DataFrame = {
    val all = s.read.parquet(s"${root(dir, variant)}/postings")
    val dfTable = Caches.persist(
      all.groupBy(col("term")).agg(count(lit(1)).as("df")))
    val top = dfTable.orderBy(col("df").desc, col("term")).limit(k)
    val topTerms = top.select("term").collect().map(_.getString(0)).toSeq
    val e = Caches.persist(
      s.read.parquet(s"${root(dir, variant)}/postings")
        .where(termFilter(s, topTerms)).select(col("doc_id"), col("term")))
    val n = s.read.parquet(s"${root(dir, variant)}/stats")
      .agg(sum(col("n_docs")).as("n"))
    val pairs = e.select(col("doc_id"), col("term").as("term_a"))
      .join(e.select(col("doc_id"), col("term").as("term_b")), "doc_id")
      .where(col("term_a") < col("term_b"))
      .groupBy(col("term_a"), col("term_b"))
      .agg(count(lit(1)).as("n_both"))
    pairs
      .join(broadcast(top.select(col("term").as("term_a"), col("df").as("n_a"))), "term_a")
      .join(broadcast(top.select(col("term").as("term_b"), col("df").as("n_b"))), "term_b")
      .crossJoin(broadcast(n))
      .selectExpr("term_a", "term_b", "n_a", "n_b", "n_both",
        "(n_both * n * 1000000L) div (n_a * n_b) AS lift_e6")
      .orderBy(col("term_a"), col("term_b"))
  }

  /** SNIPPET EXTRACTION (q189) — the result-page read: the positional
    * index finds and ranks the phrase hits (no corpus involvement, same
    * pruned scan as [[phrase]]), then ONLY the top-10 doc ids hydrate
    * their text through one broadcast join against the document store —
    * the classic search-engine split (inverted index answers WHO
    * matches; the doc store is touched per-hit, never per-corpus). The
    * snippet is the token window [first−1, first+2] around the first
    * occurrence, recomputed 1-based on both engines so the oracle
    * hashes the exact string. */
  def snippet(s: SparkSession, dir: String, a: String = "merge",
      b: String = "window", variant: String = ""): DataFrame = {
    val hits = termPostings(s, dir, Seq(a, b), variant)
      .groupBy(col("doc_id"))
      .agg(
        first(when(col("term") === a, col("positions")), ignoreNulls = true).as("pa"),
        first(when(col("term") === b, col("positions")), ignoreNulls = true).as("pb"))
      .where(col("pa").isNotNull && col("pb").isNotNull)
      // 0-based merge pos p ∈ pa matches iff p+1 ∈ pb; the intersected
      // value p+1 IS the 1-based index of the phrase start
      .withColumn("starts", array_intersect(expr("transform(pa, x -> x + 1)"), col("pb")))
      .withColumn("phrase_tf", size(col("starts")).cast("bigint"))
      .where(col("phrase_tf") > 0)
      .withColumn("fi", array_min(col("starts")))
      .orderBy(col("phrase_tf").desc, col("doc_id")).limit(10)
      .select(col("doc_id"), col("phrase_tf"), col("fi"))
    Tables.t(s, dir, "documents")
      .join(broadcast(hits), "doc_id")
      .withColumn("ts", split(col("text"), " "))
      .selectExpr("doc_id", "phrase_tf", "cast(fi AS bigint) AS first_tok",
        "concat_ws(' ', slice(ts, greatest(1, fi - 1)," +
          " least(size(ts), fi + 2) - greatest(1, fi - 1) + 1)) AS snippet")
      .orderBy(col("phrase_tf").desc, col("doc_id"))
  }

  /** MERGE-ON-READ DELETE (q187): retire documents from the index
    * without rewriting a single posting file — the GDPR/takedown verb a
    * 100 TB index cannot serve by re-indexing. Two layers land:
    *
    *  - `tombstones/` — the retired doc ids (append-only; readers
    *    anti-join it, and the set broadcasts because deletions are tiny
    *    relative to the corpus);
    *  - a NEGATIVE stat partial — (-n_docs, -Σdl) for the retired docs,
    *    appended to the SAME additive stats table. Addition doesn't care
    *    about sign, so N and Σdl stay exact through any interleaving of
    *    absorbs and deletes, and the BM25 normalizer never drifts from
    *    the live doc set.
    *
    * The postings themselves stay in place until [[compact]]-with-
    * tombstones folds them out (`purge`) — exactly Delta/Iceberg's
    * delete-vector + OPTIMIZE split: reads pay one bounded anti-join
    * now, the rewrite happens on maintenance schedule, and the two
    * states are reader-identical (the spec pins it). */
  def delete(s: SparkSession, dir: String, pred: String,
      variant: String = ""): Unit = {
    val path = root(dir, variant)
    val victims = Tables.t(s, dir, "documents").where(pred)
    // tombstone ids and the negative stat partial are independent
    // outputs of the same victim scan — overlap them (guide §2.6)
    Jobs.par(
      () => victims.select(col("doc_id"))
        .coalesce(1).write.mode("append").parquet(s"$path/tombstones"),
      () => statPartial(victims)
        .selectExpr("-n_docs AS n_docs", "-sum_dl AS sum_dl")
        .coalesce(1).write.mode("append").parquet(s"$path/stats"))
    StoreMeta.write(s, path,
      (store.rows(s, dir, variant) - "deleted").toSeq :+ ("deleted" -> "true"))
  }

  private def tombstones(s: SparkSession, dir: String,
      variant: String = ""): Option[DataFrame] = {
    val p = s"${root(dir, variant)}/tombstones"
    val hp = new org.apache.hadoop.fs.Path(p)
    if (hp.getFileSystem(s.sparkContext.hadoopConfiguration).exists(hp))
      Some(s.read.parquet(p))
    else None
  }

  /** Anti-join the tombstone set out of a postings frame (broadcast —
    * deletions are small by construction; a no-op when none exist). */
  private def live(s: SparkSession, dir: String, p: DataFrame,
      variant: String = ""): DataFrame =
    tombstones(s, dir, variant)
      .map(t => p.join(broadcast(t), Seq("doc_id"), "left_anti"))
      .getOrElse(p)

  /** [[bm25]] over the live (non-tombstoned) index. */
  def bm25Live(s: SparkSession, dir: String, variant: String = ""): DataFrame =
    bm25Of(live(s, dir, termPostings(s, dir, bm25Terms, variant), variant),
      s.read.parquet(s"${root(dir, variant)}/stats"))

  /** PURGE: fold the tombstoned postings out for real — [[compact]]'s
    * staged rewrite with the anti-join applied, after which the
    * tombstone set and the rewrite are reader-equivalent and the
    * tombstones drop. Stats are already exact (the negative partials
    * landed at delete time) so they only fold, never re-derive. */
  def purge(s: SparkSession, dir: String, variant: String = ""): Unit = {
    // the deleted row SURVIVES the purge (the kernel restores the saved
    // meta): membership still diverges from corpus ∪ delta, so the store
    // must keep reading stale. Tombstones drop only after the swap — a
    // crash before that leaves them anti-joining already-purged postings,
    // which reads identically.
    store.compact(s, dir, variant, Seq("postings", "stats"), flip = "purging")(
      stageFold(s, dir, variant, live(s, dir, _, variant)))
    StoreMeta.delete(s, s"${root(dir, variant)}/tombstones")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // index the corpus slice → absorb the delta's postings → answer BM25
    // from the index alone; q99's full-table oracle closes the lifecycle
    // (union-merged postings over a doc-partition == the full index)
    "q181_bm25_store" -> ((s, dir) => {
      buildIfStale(s, dir); absorb(s, dir); bm25(s, dir)
    }),
    // same lifecycle (a no-op once absorbed-and-current — the layered
    // meta's steady state), then the phrase read over the positional lists
    "q182_phrase_search" -> ((s, dir) => {
      buildIfStale(s, dir); absorb(s, dir); phrase(s, dir)
    }),
    // own variant (q181's absorbing lifecycle flips the shared store
    // every lap): index the corpus → stream the delta in micro-batches
    // → compact the streamed layers → BM25 off the store; compact's
    // reader-invisibility puts the maintenance verb on the oracled path
    "q186_stream_search_ingest" -> ((s, dir) => {
      buildIfStale(s, dir, "strm")
      streamAbsorb(s, dir, "strm")
      compact(s, dir, "strm")
      bm25(s, dir, "strm")
    }),
    // index full corpus (build + absorb) → tombstone a 1-in-7 slice →
    // rank the LIVE docs; then purge rewrites the tombstones out and
    // the read must not move (reader-equivalence of the delete-vector
    // and the rewrite — asserted right here on the oracled path)
    "q187_search_delete" -> ((s, dir) => {
      buildIfStale(s, dir, "del")
      absorbFrame(s, deltaDocs(s, dir), dir, "del")
      delete(s, dir, "doc_id % 7 = 3", "del")
      val before = bm25Live(s, dir, "del").collect().toSeq
      purge(s, dir, "del")
      // persisted: the SAME frame feeds the reader-equivalence require and
      // the terminal sink — without it the post-purge read runs twice
      // (guide §1.2: don't recompute what one lap already computed)
      val after = Caches.persist(bm25Live(s, dir, "del"))
      require(after.collect().toSeq == before,
        "purge changed the live ranking — tombstones and rewrite diverge")
      after
    }),
    // rank phrase hits from the index, hydrate only the top-10 through
    // the doc store, emit the context window around the first occurrence
    "q189_search_snippet" -> ((s, dir) => {
      buildIfStale(s, dir); absorb(s, dir); snippet(s, dir)
    }),
    // co-occurrence lift of the top-12 df terms, all from the index
    "q190_related_terms" -> ((s, dir) => {
      buildIfStale(s, dir); absorb(s, dir); relatedTerms(s, dir)
    }),
    // composed OR + proximity ranking: BM25 candidates re-ranked by the
    // bigram-adjacency boost BEFORE the top-10 cut — one pruned
    // postings scan answers both legs
    "q213_proximity_search" -> ((s, dir) => {
      buildIfStale(s, dir); absorb(s, dir); proximityBm25(s, dir)
    })
  )

  val oracles: Map[String, String] = Map(
    // q99's oracle VERBATIM — the absorbed index must reproduce the
    // from-scratch full-table BM25 exactly
    "q181_bm25_store" -> TextPipeline.oracles("q99_bm25_search"),
    // token-wise adjacency scan over the full table: position i starts
    // the phrase iff ts[i]='merge' and ts[i+1]='window' (1-based; the
    // Spark side's 0-based positions cancel out in adjacency)
    "q182_phrase_search" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
        |c AS (SELECT doc_id,
        |    len(list_filter(generate_series(1, len(ts) - 1),
        |      i -> ts[i] = 'merge' AND ts[i + 1] = 'window'))::BIGINT AS phrase_tf
        |  FROM t)
        |SELECT doc_id, phrase_tf FROM c WHERE phrase_tf > 0
        |ORDER BY phrase_tf DESC, doc_id LIMIT 10""".stripMargin,
    // q99's oracle once more: batch-boundary-independent partials mean
    // the streamed, compacted index ranks exactly like the one-shot one
    "q186_stream_search_ingest" -> TextPipeline.oracles("q99_bm25_search"),
    // q99's oracle over the SURVIVING docs: the tombstoned slice must
    // vanish from postings, df, AND the N/Σdl normalizer. The corpus
    // filter splices into the base CTE (the only "FROM documents" in
    // the oracle — st/sc select FROM base)
    "q187_search_delete" -> TextPipeline.oracles("q99_bm25_search")
      .replace("FROM documents)", "FROM documents WHERE NOT (doc_id % 7 = 3))"),
    // the same 1-based first-occurrence arithmetic and inclusive token
    // slice, so the snippet string hashes identically
    "q189_search_snippet" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
        |m AS (SELECT doc_id, ts,
        |    list_filter(generate_series(1, len(ts) - 1),
        |      i -> ts[i] = 'merge' AND ts[i + 1] = 'window') AS hits
        |  FROM t),
        |h AS (SELECT doc_id, ts, len(hits)::BIGINT AS phrase_tf,
        |    hits[1] AS fi
        |  FROM m WHERE len(hits) > 0
        |  ORDER BY len(hits) DESC, doc_id LIMIT 10)
        |SELECT doc_id, phrase_tf, fi::BIGINT AS first_tok,
        |  array_to_string(ts[greatest(1, fi - 1):least(len(ts), fi + 2)], ' ')
        |    AS snippet
        |FROM h ORDER BY phrase_tf DESC, doc_id""".stripMargin,
    // same doc-level distinct term sets, same (df DESC, term) top-12
    // cut, same integer lift
    "q190_related_terms" ->
      """WITH ex AS (SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS term
        |  FROM documents),
        |df AS (SELECT term, count(*)::BIGINT AS df FROM ex GROUP BY term),
        |top AS (SELECT term, df FROM df ORDER BY df DESC, term LIMIT 12),
        |e AS (SELECT ex.doc_id, ex.term FROM ex JOIN top USING (term)),
        |nn AS (SELECT count(*)::BIGINT AS n FROM documents),
        |p AS (SELECT a.term AS term_a, b.term AS term_b,
        |    count(*)::BIGINT AS n_both
        |  FROM e a JOIN e b ON a.doc_id = b.doc_id AND a.term < b.term
        |  GROUP BY 1, 2)
        |SELECT term_a, term_b, ta.df AS n_a, tb.df AS n_b, n_both,
        |  (n_both * n * 1000000) // (ta.df * tb.df) AS lift_e6
        |FROM p JOIN top ta ON ta.term = p.term_a
        |  JOIN top tb ON tb.term = p.term_b, nn
        |ORDER BY term_a, term_b""".stripMargin,
    // q99's scoring chain VERBATIM (textual reuse keeps the BM25 formula
    // in lockstep), composed with q182's token-adjacency counts and the
    // same integer boost, re-ranked before the cut
    "q213_proximity_search" -> {
      val bm = TextPipeline.oracles("q99_bm25_search")
      val cut = bm.indexOf("SELECT doc_id, dl, score_e4 FROM sc")
      require(cut > 0, "q99 oracle tail changed — recompose q213's oracle")
      s"""${bm.substring(0, cut).trim.stripSuffix(",")},
         |t AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
         |ph AS (SELECT doc_id,
         |    len(list_filter(generate_series(1, len(ts) - 1),
         |      i -> ts[i] = 'merge' AND ts[i + 1] = 'window'))::BIGINT AS phrase_tf
         |  FROM t)
         |SELECT sc.doc_id, sc.score_e4,
         |  coalesce(ph.phrase_tf, 0)::BIGINT AS phrase_tf,
         |  (sc.score_e4 + coalesce(ph.phrase_tf, 0) * 5000)::BIGINT AS boosted_e4
         |FROM sc LEFT JOIN ph ON ph.doc_id = sc.doc_id
         |WHERE sc.score_e4 > 0
         |ORDER BY boosted_e4 DESC, sc.doc_id LIMIT 10""".stripMargin
    }
  )
}
