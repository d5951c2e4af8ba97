package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * INCREMENTAL AGGREGATE MAINTENANCE — the stats sibling of
 * [[DedupIndex]]: corpus-level summary statistics kept as a PERSISTED
 * table of mergeable partial aggregates, so a new batch updates the
 * stats by merging its own partials instead of re-scanning everything
 * already ingested. At 100 TB this is the difference between an O(batch)
 * nightly refresh and an O(corpus) one.
 *
 * The partial-aggregate algebra is the classic moment-sum form: per
 * (lang, source) keep (n, Σx, Σx², min, max) over n_chars — every field
 * merges by sum/min/max, so merge is associative and commutative and the
 * merged result is EXACTLY the full recompute (integer sums, no
 * floating-point drift). Finalization derives mean and variance as
 * fixed-point integers (mean ×1e6, variance ×1e3 — the smaller variance
 * scale keeps n·Σx² − (Σx)² × scale inside int64 at the tested SFs; the
 * DuckDB oracle passes through HUGEINT and casts, landing on the same
 * digits).
 *
 * Store lifecycle mirrors DedupIndex: corpus slice = doc_id % 10 < 7,
 * delta = the rest; build is fingerprint-guarded (build-once-merge-many)
 * with meta written LAST so a crashed build rebuilds. The store is
 * #groups-sized — broadcastable by construction; the only corpus-scale
 * work in the steady state is the delta's own partial aggregation.
 */
object StatsStore {

  // `variant` separates independent store instances (the absorbing
  // lifecycles q134/q136 vs q107's pristine-store contract) — see
  // DedupIndex's note. The histogram (`qh`) and tagged (`rt`, `tt`)
  // instances share the corpus fingerprint; the bitmap store (`lc`)
  // fingerprints the events slice.
  private val store = new StoreMeta.Store("stats_store", fingerprint,
    StoreMeta.pristine)
  private val lcStore = new StoreMeta.Store("stats_store", lcFingerprint,
    StoreMeta.pristine)

  private[graft] def root(dir: String, variant: String = ""): String =
    store.root(dir, variant)

  private def corpusDocs(s: SparkSession, dir: String): DataFrame =
    Tables.t(s, dir, "documents").where("doc_id % 10 < 7")

  private def deltaDocs(s: SparkSession, dir: String): DataFrame =
    Tables.t(s, dir, "documents").where("doc_id % 10 >= 7")

  /** Moment-sum partials per (lang, source). Map-side combine collapses
    * each partition to at most #groups rows before the exchange.
    * `private[queries]`: [[StoreTxn]] stages the same partials as a
    * transaction layer. */
  private[queries] def partials(df: DataFrame): DataFrame =
    df.groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n"),
        sum(col("n_chars")).as("s1"),
        sum(col("n_chars") * col("n_chars")).as("s2"),
        min(col("n_chars")).as("mn"),
        max(col("n_chars")).as("mx"))

  /** Content fingerprint of the corpus slice (count + order-independent
    * hash-sum over the stat-relevant columns) — any change to membership,
    * grouping keys, or n_chars moves it. */
  private def fingerprint(s: SparkSession, dir: String): String =
    Tables.memoFingerprint(s, dir, "stats.base")(
      StoreMeta.fingerprintOf(corpusDocs(s, dir),
        "concat_ws('|', lang, source, cast(n_chars AS string))"))

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

  /** ABSORB: append the delta's partials into the store so the stats
    * advance permanently — afterwards the store alone covers corpus ∪
    * delta, and the next batch merges against it without re-reading
    * either. Append-only (no store rewrite), after the kernel's stale
    * meta write; the store is no longer pristine, so `isCurrent` reads
    * false and the oracled q107 path — which needs the pristine
    * corpus-only store — rebuilds via buildIfStale. The partials table
    * stays #batches × #groups rows until [[compact]]. */
  def absorb(s: SparkSession, dir: String, variant: String = ""): Unit =
    store.absorb(s, dir, variant)(partials(deltaDocs(s, dir))
      .write.mode("append").parquet(s"${root(dir, variant)}/partials"))

  /** COMPACT the layered partials back to one row per group: absorb is
    * append-only, so the table grows a #groups-sized layer per batch —
    * the merge algebra (sum/sum/sum/min/max) means collapsing the layers
    * is itself just the merge aggregate, and the compacted store answers
    * every read identically (q145 oracles compact-then-read against the
    * full recompute). The kernel's staged compact brackets the
    * rewrite, which reads the path it replaces. */
  def compact(s: SparkSession, dir: String, variant: String = ""): Unit = {
    val path = root(dir, variant)
    store.compact(s, dir, variant, Seq("partials")) { staging =>
      s.read.parquet(s"$path/partials")
        .groupBy(col("lang"), col("source"))
        .agg(sum(col("n")).as("n"), sum(col("s1")).as("s1"),
          sum(col("s2")).as("s2"), min(col("mn")).as("mn"),
          max(col("mx")).as("mx"))
        .coalesce(1).write.mode("overwrite").parquet(s"$staging/partials")
    }
  }

  /** Delete the meta record so the next buildIfStale rebuilds. */
  private[queries] def invalidate(s: SparkSession, dir: String,
      variant: String = ""): Unit = store.invalidate(s, dir, variant)

  /** STREAMING store maintenance (q145): the delta arrives as a stream
    * and each micro-batch absorbs its OWN partials into the store via
    * foreachBatch — the shape a continuously-ingesting deployment runs,
    * where stats advance with the stream instead of a nightly batch job.
    * Because the partials merge by sum/min/max (associative and
    * commutative), the final store state is INDEPENDENT of batch
    * boundaries and arrival order — which is exactly what lets the
    * full-recompute oracle apply verbatim after the stream drains.
    * The delta is staged into 4 range files replayed one per micro-batch
    * (the q131 cadence device), drained after the absorb's stale meta
    * write. */
  def streamAbsorb(s: SparkSession, dir: String, variant: String): Unit = {
    val path = root(dir, variant)
    deltaDocs(s, dir).select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
      .repartitionByRange(4, col("doc_id"))
      .write.mode("overwrite").parquet(StoreMeta.root("stats_feed", dir))
    store.absorb(s, dir, variant)(StoreMeta.drain(s, "stats", dir)(batch =>
      partials(batch).write.mode("append").parquet(s"$path/partials")))
  }

  /** Finalized stats from the STORE ALONE (no live delta) — the read a
    * dashboard does between batches. After absorb, this equals the full
    * corpus ∪ delta recompute exactly (spec-pinned). */
  def storedStats(s: SparkSession, dir: String, variant: String = ""): DataFrame =
    finalize(s.read.parquet(s"${root(dir, variant)}/partials"))

  /** Persisted corpus partials ∪ live delta partials → merge → finalize.
    * The merge groupBy runs over 2×#groups rows; the only corpus-scale
    * stage is the delta's own aggregation. */
  def mergedStats(s: SparkSession, dir: String): DataFrame =
    finalize(s.read.parquet(s"${root(dir)}/partials")
      .unionByName(partials(deltaDocs(s, dir))))

  /** Merge a partials frame (any number of batch layers per group) and
    * derive the finalized stats. The fixed-point scales (mean ×1e6,
    * variance ×1e3) keep n·Σx² − (Σx)² × scale inside int64 at the
    * tested SFs; beyond them the session's ANSI mode turns overflow into
    * a LOUD error rather than a silent wrap — widen to DECIMAL before
    * raising the scales. */
  private[queries] def finalize(p: DataFrame): DataFrame =
    p.groupBy(col("lang"), col("source"))
      .agg(sum(col("n")).as("n"), sum(col("s1")).as("s1"),
        sum(col("s2")).as("s2"), min(col("mn")).as("mn"),
        max(col("mx")).as("mx"))
      .selectExpr("lang", "source", "n AS n_docs", "s1 AS total_chars",
        "(s1 * 1000000L) div n AS mean_e6",
        "((n * s2 - s1 * s1) * 1000L) div (n * n) AS var_e3",
        "mn AS min_chars", "mx AS max_chars")
      .orderBy(col("lang"), col("source"))

  // ---- batch-tagged RETENTION store (q146): the expire verb ----

  /** The store family's missing lifecycle verb is DELETE. Sum-merged
    * partials cannot retract (subtraction would need the departing rows),
    * but absorb already lands each batch as its own LAYER — so tagging
    * every layer with its batch epoch makes retention a pure layer drop:
    * "stats over the last N epochs" = rewrite the partials keeping
    * `batch >= cutoff`. This is how windowed corpus dashboards work at
    * 100 TB (last-90-days token stats): per-epoch partial layers, expiry
    * drops whole layers, never touches row-level data. The rewrite is
    * the kernel's staged compact with a filter in place of the merge. */
  def buildTagged(s: SparkSession, dir: String, variant: String = "rt"): String = {
    val path = root(dir, variant)
    partials(corpusDocs(s, dir)).withColumn("batch", lit(0L))
      .write.mode("overwrite").parquet(s"$path/partials")
    store.built(s, dir, variant)
    path
  }

  def absorbBatch(s: SparkSession, dir: String, delta: DataFrame,
      batchId: Long, variant: String = "rt"): Unit =
    store.absorb(s, dir, variant)(partials(delta).withColumn("batch", lit(batchId))
      .write.mode("append").parquet(s"${root(dir, variant)}/partials"))

  /** Drop every layer with `batch < keepFrom`. O(|store|), not O(corpus):
    * the rewrite touches the #groups × #epochs partials table only. */
  def expire(s: SparkSession, dir: String, keepFrom: Long,
      variant: String = "rt"): Unit = {
    val path = root(dir, variant)
    store.compact(s, dir, variant, Seq("partials")) { staging =>
      s.read.parquet(s"$path/partials").where(col("batch") >= keepFrom)
        .coalesce(1).write.mode("overwrite").parquet(s"$staging/partials")
    }
  }

  // ---- time travel (q148) + changelog (q149) on the tagged store ----

  /** Ensure the shared time-travel store instance: corpus as epoch 0,
    * the delta as epochs 1 (doc_id % 10 ∈ {7,8}) and 2 (doc_id % 10 = 9).
    * Fingerprint-guarded build-once: meta is written LAST, after all
    * three layers, so a crash mid-build leaves a store that rebuilds; the
    * steady state for BOTH time-travel verbs is then a pure store read —
    * the right operational shape, since as-of and diff are READ verbs
    * (unlike q146's expire, which rewrites and therefore keeps its own
    * `rt` instance). */
  private[graft] def ensureTagged(s: SparkSession, dir: String,
      variant: String = "tt"): Unit = {
    val path = root(dir, variant)
    val ok = store.isCurrent(s, dir, variant) &&
      s.read.parquet(s"$path/partials")
        .agg(max(col("batch"))).head().getLong(0) == 2L
    if (!ok) {
      partials(corpusDocs(s, dir)).withColumn("batch", lit(0L))
        .write.mode("overwrite").parquet(s"$path/partials")
      partials(deltaDocs(s, dir).where("doc_id % 10 < 9"))
        .withColumn("batch", lit(1L))
        .write.mode("append").parquet(s"$path/partials")
      partials(deltaDocs(s, dir).where("doc_id % 10 = 9"))
        .withColumn("batch", lit(2L))
        .write.mode("append").parquet(s"$path/partials")
      store.built(s, dir, variant)
    }
  }

  /** TIME TRAVEL: the stats as they stood after `epoch` — merge only the
    * layers with batch ≤ epoch. Because absorb lands each batch as its
    * own tagged layer, every historical state remains a FILTER over the
    * #groups × #epochs partials table: no snapshot copies, no corpus
    * re-read, and the whole history costs what one state costs. The
    * dashboard question it answers — "what did the corpus look like
    * before yesterday's batch?" — otherwise needs either a full recompute
    * over the historical slice or a snapshot-per-batch storage bill. */
  def statsAsOf(s: SparkSession, dir: String, epoch: Long,
      variant: String = "tt"): DataFrame =
    finalize(s.read.parquet(s"${root(dir, variant)}/partials")
      .where(col("batch") <= epoch))

  /** CHANGELOG: the stats contribution of epochs (from, to] alone — the
    * same filter with both bounds. This is the diff read a downstream
    * consumer uses to see WHAT a batch changed without replaying it:
    * because the partials merge by sum/min/max, the slice's finalized
    * stats are exactly the stats of the slice's documents. */
  def statsChanges(s: SparkSession, dir: String, from: Long, to: Long,
      variant: String = "tt"): DataFrame =
    finalize(s.read.parquet(s"${root(dir, variant)}/partials")
      .where(col("batch") > from && col("batch") <= to))

  // ---- mergeable QUANTILE store (q139): histogram partials ----

  /** Histogram bin width for the quantile store. The estimator's error
    * is bounded by ONE bin width by construction (the reported value is
    * the containing bin's lower edge); 16 chars against the corpus's
    * ~50-550 n_chars range gives ~35 occupied bins per language — a
    * #bins-sized store either way. */
  private val binW = 16L

  /** Per-(lang, bin) counts — the mergeable partial. Like the moment
    * sums, bins merge by ADDITION, so merged partials are EXACTLY the
    * full recompute: histograms make QUANTILES incrementally
    * maintainable the way (n, Σx, Σx²) makes mean/variance so. The
    * sketch trade is explicit and bounded: estimates land on bin lower
    * edges, at most one binW below the true quantile value — unlike
    * GK/t-digest state, a fixed-bin histogram is engine-portable integer
    * arithmetic, so the WHOLE lifecycle (build → absorb → read) is
    * DuckDB-oracle-able, not just spec-gated. */
  private def histPartials(df: DataFrame): DataFrame =
    df.groupBy(col("lang"), expr(s"n_chars div $binW").as("bin"))
      .agg(count(lit(1)).as("cnt"))

  def buildHist(s: SparkSession, dir: String, variant: String = "qh"): String = {
    val path = root(dir, variant)
    histPartials(corpusDocs(s, dir))
      .write.mode("overwrite").parquet(s"$path/hist")
    store.built(s, dir, variant)
    path
  }

  def isHistCurrent(s: SparkSession, dir: String, variant: String = "qh"): Boolean =
    store.isCurrent(s, dir, variant)

  def buildHistIfStale(s: SparkSession, dir: String, variant: String = "qh"): String =
    store.buildIfStale(s, dir, variant)(buildHist(s, dir, variant))

  def absorbHist(s: SparkSession, dir: String, variant: String = "qh"): Unit =
    store.absorb(s, dir, variant)(histPartials(deltaDocs(s, dir))
      .write.mode("append").parquet(s"${root(dir, variant)}/hist"))

  /** Quantile estimates from the STORE ALONE: merge the bin layers
    * (groupBy + sum over a #bins-sized table), then per language take
    * the ceil-rank walk — the p-quantile is the smallest bin whose
    * cumulative count reaches ceil(p × n), reported as that bin's lower
    * edge (bin × binW). Every step is integer; the window runs over the
    * bounded per-language bin table, never the corpus. */
  def histQuantiles(s: SparkSession, dir: String, variant: String = "qh"): DataFrame = {
    val merged = s.read.parquet(s"${root(dir, variant)}/hist")
      .groupBy(col("lang"), col("bin")).agg(sum(col("cnt")).as("cnt"))
    val w = Window.partitionBy(col("lang")).orderBy(col("bin"))
    val cum = merged
      .withColumn("cum", sum(col("cnt")).over(w))
      .withColumn("n", sum(col("cnt")).over(Window.partitionBy(col("lang"))))
    cum.groupBy(col("lang")).agg(
        max(col("n")).as("n_docs"),
        min(when(col("cum") * 2 >= col("n"), col("bin"))).as("b50"),
        min(when(col("cum") * 10 >= col("n") * 9, col("bin"))).as("b90"),
        min(when(col("cum") * 100 >= col("n") * 99, col("bin"))).as("b99"))
      .selectExpr("lang", "n_docs",
        s"b50 * $binW AS p50_est", s"b90 * $binW AS p90_est",
        s"b99 * $binW AS p99_est")
      .orderBy(col("lang"))
  }

  // ---- mergeable DISTINCT-COUNT store (q154): bitmap occupancy ----

  /** Linear-counting bitmap width. Distinct counts are the aggregate
    * that does NOT merge by addition — the same user appears in many
    * batches, so summing per-batch distinct counts overcounts (spec
    * demonstrates it on this corpus). The classic mergeable form is a
    * hash bitmap (linear counting, Whang et al. 1990): each batch's
    * partial is its set of OCCUPIED buckets (hash(user) mod m), merge is
    * set union — idempotent, so overlap is free — and the store stays
    * ≤ #groups × m rows. The estimator (−m·ln(1 − V/m)) involves libm,
    * so the ORACLED read reports the occupancy V itself: exact integers
    * cross-engine, with the estimate derivable downstream (TUNE records
    * its accuracy against exact distincts). At m = 4096, V is within a
    * few percent of exact for the corpus's per-type user cardinalities. */
  private val lcBuckets = 4096L

  private def corpusEvents(s: SparkSession, dir: String): DataFrame =
    Tables.t(s, dir, "events").where("event_id % 10 < 7")

  private def deltaEvents(s: SparkSession, dir: String): DataFrame =
    Tables.t(s, dir, "events").where("event_id % 10 >= 7")

  /** The mergeable partial: the batch's occupied (event_type, bucket)
    * set. Users spanning batches land on the SAME bucket, so union
    * dedups them structurally. */
  private def lcPartials(df: DataFrame): DataFrame =
    df.selectExpr("event_type",
        "cast(conv(substring(md5(cast(user_id AS string)), 1, 8), 16, 10)" +
          s" AS bigint) % $lcBuckets AS bucket")
      .distinct()

  private def lcFingerprint(s: SparkSession, dir: String): String =
    // memoized behind the source file-stat stamp like the other store
    // probes (r21) — the steady-state lap pays a metadata stat, not a
    // corpus scan; any events-table change busts the stamp
    Tables.memoFingerprint(s, dir, "stats.lc")(
      StoreMeta.fingerprintOf(corpusEvents(s, dir),
        "concat_ws('|', event_type, cast(user_id AS string))"))

  def buildLc(s: SparkSession, dir: String): String = {
    val path = root(dir, "lc")
    lcPartials(corpusEvents(s, dir))
      .write.mode("overwrite").parquet(s"$path/lc")
    lcStore.built(s, dir, "lc")
    path
  }

  def isLcCurrent(s: SparkSession, dir: String): Boolean =
    lcStore.isCurrent(s, dir, "lc")

  def buildLcIfStale(s: SparkSession, dir: String): String =
    lcStore.buildIfStale(s, dir, "lc")(buildLc(s, dir))

  def absorbLc(s: SparkSession, dir: String): Unit =
    lcStore.absorb(s, dir, "lc")(lcPartials(deltaEvents(s, dir))
      .write.mode("append").parquet(s"${root(dir, "lc")}/lc"))

  /** Per-type occupancy from the STORE ALONE: union-distinct the layers
    * (a bounded ≤ #types × m table), count occupied buckets. Equals the
    * full-table occupancy EXACTLY — union idempotence absorbs the
    * cross-batch user overlap that defeats additive merging. */
  def lcOccupancy(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"${root(dir, "lc")}/lc")
      .distinct()
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_buckets"))
      .orderBy(col("event_type"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // distinct users per event type through the bitmap store: build the
    // corpus's occupied-bucket set, absorb the delta's (users overlap
    // across the split — the case addition cannot merge), read the
    // occupancy from the store alone. Oracle recomputes the identical
    // bucket set over the full table — exact integers.
    "q154_distinct_store" -> ((s, dir) => {
      buildLcIfStale(s, dir); absorbLc(s, dir); lcOccupancy(s, dir)
    }),
    "q107_incremental_stats" -> ((s, dir) => {
      buildIfStale(s, dir); mergedStats(s, dir)
    }),
    // The POST-ABSORB read path, oracled: q107 merges live delta partials
    // against the pristine store; here the delta is ABSORBED first and
    // the dashboard read ([[storedStats]] — store alone, no live input)
    // must land on the full-table recompute's exact integers. This is
    // the multi-batch lifecycle cross-engine: build → absorb → read,
    // where before r15 the absorbed state was spec-only.
    "q136_stats_absorbed" -> ((s, dir) => {
      buildIfStale(s, dir, "abs"); absorb(s, dir, "abs"); storedStats(s, dir, "abs")
    }),
    // Mergeable QUANTILES through the same lifecycle: build the corpus
    // histogram, absorb the delta's bins, read percentile estimates from
    // the store alone. The oracle recomputes the identical binned
    // estimator from the full table — integer arithmetic end to end, so
    // the sketch's error model (lower bin edge, <= one binW) is part of
    // the oracled contract rather than a tolerance.
    "q139_quantile_store" -> ((s, dir) => {
      buildHistIfStale(s, dir); absorbHist(s, dir); histQuantiles(s, dir)
    }),
    // STREAMING maintenance + COMPACTION in one lifecycle: build the
    // pristine corpus store, absorb the delta as 4 foreachBatch
    // micro-batches, compact the 5 layers back to one row per group,
    // then the dashboard read must land on the full recompute's exact
    // integers. Build is unconditional — the store ends every lap
    // absorbed, so there is no steady state to skip to.
    "q145_stream_stats_store" -> ((s, dir) => {
      build(s, dir, "strm")
      streamAbsorb(s, dir, "strm")
      compact(s, dir, "strm")
      storedStats(s, dir, "strm")
    }),
    // TIME TRAVEL: the store holds corpus (epoch 0) + two absorbed delta
    // batches (epochs 1, 2); the as-of-epoch-1 read must equal the full
    // recompute over exactly the documents ingested through epoch 1 —
    // history reconstructed from layer filters, no snapshots. The build
    // is fingerprint-guarded (meta LAST, after all layers), so the
    // steady-state lap is a pure store read.
    "q148_stats_asof" -> ((s, dir) => {
      ensureTagged(s, dir); statsAsOf(s, dir, epoch = 1L)
    }),
    // CHANGELOG: the diff read — epoch 2's own contribution, recovered
    // from the committed layers without replaying the batch. Shares the
    // q148 store instance (both verbs are reads).
    "q149_stats_changes" -> ((s, dir) => {
      ensureTagged(s, dir); statsChanges(s, dir, from = 1L, to = 2L)
    }),
    // RETENTION lifecycle: corpus lands as epoch 0, two delta batches as
    // epochs 1 and 2, then the corpus epoch EXPIRES — the dashboard read
    // must equal the full recompute over the surviving epochs' docs only
    // (doc_id % 10 >= 7). Layer-drop deletion, oracled cross-engine.
    "q146_stats_retention" -> ((s, dir) => {
      buildTagged(s, dir)
      absorbBatch(s, dir, deltaDocs(s, dir).where("doc_id % 10 < 9"), 1L)
      absorbBatch(s, dir, deltaDocs(s, dir).where("doc_id % 10 = 9"), 2L)
      expire(s, dir, keepFrom = 1L)
      storedStats(s, dir, "rt")
    })
  )

  // Both oracles recompute the SAME stats from the full table in one
  // pass — merged partials (q107) and the absorbed store read (q136)
  // must land on identical integers, which is exactly the mergeability
  // claim under test.
  private lazy val fullRecomputeOracle: String =
      """SELECT lang, source, count(*)::BIGINT AS n_docs,
        |  sum(n_chars)::BIGINT AS total_chars,
        |  ((sum(n_chars) * 1000000) // count(*))::BIGINT AS mean_e6,
        |  (((count(*) * sum(n_chars * n_chars) - sum(n_chars) * sum(n_chars))
        |     * 1000) // (count(*) * count(*)))::BIGINT AS var_e3,
        |  min(n_chars) AS min_chars, max(n_chars) AS max_chars
        |FROM documents GROUP BY lang, source ORDER BY lang, source""".stripMargin

  val oracles: Map[String, String] = Map(
    // the same (event_type, md5-bucket) distinct set over the full
    // events table — union-merged layers must land on it exactly
    "q154_distinct_store" ->
      """WITH b AS (SELECT DISTINCT event_type,
        |    ('0x' || substr(md5(user_id::VARCHAR), 1, 8))::BIGINT % 4096 AS bucket
        |  FROM events)
        |SELECT event_type, count(*)::BIGINT AS n_buckets
        |FROM b GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q107_incremental_stats" -> fullRecomputeOracle,
    "q136_stats_absorbed" -> fullRecomputeOracle,
    // batch-boundary independence of the merge + semantics-preservation
    // of the compaction: the streamed-and-compacted store must land on
    // the same one-pass recompute as the batch lifecycles
    "q145_stream_stats_store" -> fullRecomputeOracle,
    // as of epoch 1 the store covers the corpus (doc_id % 10 < 7) plus
    // batch 1 (doc_id % 10 ∈ {7,8}) — i.e. everything but epoch 2's
    // doc_id % 10 = 9 slice
    "q148_stats_asof" ->
      """SELECT lang, source, count(*)::BIGINT AS n_docs,
        |  sum(n_chars)::BIGINT AS total_chars,
        |  ((sum(n_chars) * 1000000) // count(*))::BIGINT AS mean_e6,
        |  (((count(*) * sum(n_chars * n_chars) - sum(n_chars) * sum(n_chars))
        |     * 1000) // (count(*) * count(*)))::BIGINT AS var_e3,
        |  min(n_chars) AS min_chars, max(n_chars) AS max_chars
        |FROM documents WHERE doc_id % 10 < 9
        |GROUP BY lang, source ORDER BY lang, source""".stripMargin,
    // the (1, 2] changelog is epoch 2 alone: the doc_id % 10 = 9 batch
    "q149_stats_changes" ->
      """SELECT lang, source, count(*)::BIGINT AS n_docs,
        |  sum(n_chars)::BIGINT AS total_chars,
        |  ((sum(n_chars) * 1000000) // count(*))::BIGINT AS mean_e6,
        |  (((count(*) * sum(n_chars * n_chars) - sum(n_chars) * sum(n_chars))
        |     * 1000) // (count(*) * count(*)))::BIGINT AS var_e3,
        |  min(n_chars) AS min_chars, max(n_chars) AS max_chars
        |FROM documents WHERE doc_id % 10 = 9
        |GROUP BY lang, source ORDER BY lang, source""".stripMargin,
    // after expiring epoch 0 (the corpus), the store covers exactly the
    // two delta epochs — the same one-pass aggregate over that slice
    "q146_stats_retention" ->
      """SELECT lang, source, count(*)::BIGINT AS n_docs,
        |  sum(n_chars)::BIGINT AS total_chars,
        |  ((sum(n_chars) * 1000000) // count(*))::BIGINT AS mean_e6,
        |  (((count(*) * sum(n_chars * n_chars) - sum(n_chars) * sum(n_chars))
        |     * 1000) // (count(*) * count(*)))::BIGINT AS var_e3,
        |  min(n_chars) AS min_chars, max(n_chars) AS max_chars
        |FROM documents WHERE doc_id % 10 >= 7
        |GROUP BY lang, source ORDER BY lang, source""".stripMargin,
    // the same ceil-rank binned estimator over the full table: p-quantile
    // = lower edge of the smallest bin whose cumulative count reaches
    // ceil(p*n) — cum*2 >= n, cum*10 >= 9n, cum*100 >= 99n
    "q139_quantile_store" ->
      """WITH h AS (SELECT lang, n_chars // 16 AS bin, count(*)::BIGINT AS cnt
        |  FROM documents GROUP BY lang, bin),
        |c AS (SELECT lang, bin, cnt,
        |    sum(cnt) OVER (PARTITION BY lang ORDER BY bin
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS cum,
        |    sum(cnt) OVER (PARTITION BY lang)::BIGINT AS n
        |  FROM h)
        |SELECT lang, max(n) AS n_docs,
        |  (min(CASE WHEN cum * 2 >= n THEN bin END) * 16)::BIGINT AS p50_est,
        |  (min(CASE WHEN cum * 10 >= n * 9 THEN bin END) * 16)::BIGINT AS p90_est,
        |  (min(CASE WHEN cum * 100 >= n * 99 THEN bin END) * 16)::BIGINT AS p99_est
        |FROM c GROUP BY lang ORDER BY lang""".stripMargin
  )
}
