package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * PERSISTED BENCHMARK-DECONTAMINATION STORE — the decontamination
 * capability (q63 exact n-grams, q97 MinHash bands, q114 winnow
 * fingerprints) re-expressed as the store lifecycle the rest of the
 * family uses. The operational asymmetry decontamination actually has:
 * benchmark suites change RARELY (a new eval ships → absorb its
 * fingerprints once), while corpus batches arrive continuously — so the
 * right persistent artifact is the benchmark fingerprint set, judged
 * against by every incoming batch without re-fingerprinting a single
 * benchmark document.
 *
 * Store = q114's MOSS winnow fingerprints (Rabin-Karp 8-grams, min per
 * 4-window — position-local, so robust to edits around a contaminated
 * span) of the benchmark slice, keyed (bench_id, fp). Build takes
 * tranche A (bench doc_id % 2 = 0), absorb adds tranche B — the
 * new-benchmark-ships verb. The judge fingerprints ONLY the incoming
 * docs and equi-joins the BROADCAST store: unlike q114's corpus-side
 * inverted index (which needs the df-band cost cap because it joins
 * corpus×corpus), the store join is corpus×bench with the bench side
 * |bench fps|-bounded and shipped to every executor — no shuffle of the
 * corpus fingerprint stream, no global df statistic to maintain
 * incrementally (exactly the term that does NOT decompose under corpus
 * growth).
 *
 * Contamination verdict: CONTAINMENT per benchmark item — a doc is
 * flagged when it shares at least HALF of some benchmark doc's distinct
 * fingerprints ("this doc contains that eval item"). A raw
 * shared-count threshold does not survive without the corpus-side df
 * statistic: measured on this corpus (31-word generator vocabulary,
 * dense organic fingerprint collisions), ≥ 2 shared fps flags 481 of
 * 494 docs at sf0.001 — useless — while the 0.5-containment rule flags
 * exactly the 6 planted copies (shared fraction 1.0) plus 2 organic
 * near-copies, against an organic median fraction of 0.029
 * (TUNE_r15). The per-bench-doc denominators come from one
 * |store|-bounded aggregation at judge time, so they are always
 * consistent with every absorbed tranche — nothing beyond (bench_id,
 * fp) rows is persisted.
 *
 * The planted contaminations (doc_id % 97 = 1 carries the text of
 * doc_id − 1, a benchmark doc — TextPipeline's q114 device, identical
 * CTE in the oracle) guarantee hits at every SF; the DuckDB oracle
 * replays fingerprinting, the bench set, and the judge from scratch.
 */
object DecontamIndex {

  private val store = new StoreMeta.Store("decontam_idx", fingerprint,
    StoreMeta.pristine)

  private[graft] def root(dir: String): String = store.root(dir)

  /** q114's planted source: docs with doc_id % 97 = 1 carry the text of
    * doc (doc_id − 1) — a benchmark (% 97 = 0) doc — so contaminated
    * verdicts are exercised deterministically in both engines. */
  private[queries] def plantedSrc(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.t(s, dir, "documents").select(col("doc_id"), col("text"))
    base
      .join(base.selectExpr("doc_id + 1 AS p_id", "text AS p_text"),
        col("p_id") === col("doc_id") && col("doc_id") % 97 === 1, "left")
      .selectExpr("doc_id",
        "CASE WHEN doc_id % 97 = 1 AND p_text IS NOT NULL THEN p_text" +
          " ELSE text END AS text")
  }

  /** Per-doc DISTINCT winnow fingerprints over the normalized text —
    * the same codegen'd chain as q114. */
  private def fpsOf(s: SparkSession, df: DataFrame): DataFrame = {
    graft.functions.WinnowFingerprints.register(s)
    df.selectExpr("doc_id", "lower(regexp_replace(text, '[^a-z0-9]', '')) AS tx")
      .where("length(tx) >= 11")
      .selectExpr("doc_id",
        "explode(array_distinct(winnow_fingerprints(tx, 8, 4))) AS fp")
  }

  // benchmark tranches: planting never touches % 97 = 0 docs, so the
  // raw table is the benchmark source
  private def benchTranche(s: SparkSession, dir: String, even: Boolean): DataFrame =
    Tables.t(s, dir, "documents")
      .where(s"doc_id % 97 = 0 AND doc_id % 2 = ${if (even) 0 else 1}")
      .select(col("doc_id"), col("text"))

  private def fingerprint(s: SparkSession, dir: String): String =
    Tables.memoFingerprint(s, dir, "decontam.base")(
      StoreMeta.fingerprintOf(benchTranche(s, dir, even = true), "text"))

  /** Build from benchmark tranche A; meta (tranche fingerprint) LAST. */
  def build(s: SparkSession, dir: String): String = {
    val path = root(dir)
    fpsOf(s, benchTranche(s, dir, even = true))
      .selectExpr("doc_id AS bench_id", "fp")
      .write.mode("overwrite").parquet(s"$path/fps")
    store.built(s, dir)
    path
  }

  def isCurrent(s: SparkSession, dir: String): Boolean = store.isCurrent(s, dir)

  def buildIfStale(s: SparkSession, dir: String): String =
    store.buildIfStale(s, dir)(build(s, dir))

  /** A new benchmark suite ships: absorb its fingerprints as a layer,
    * after the kernel's stale meta write. */
  def absorb(s: SparkSession, dir: String): Unit =
    store.absorb(s, dir)(fpsOf(s, benchTranche(s, dir, even = false))
      .selectExpr("doc_id AS bench_id", "fp")
      .write.mode("append").parquet(s"${root(dir)}/fps"))

  /** Delete the meta record so the next buildIfStale rebuilds — callers
    * that mutate the benchmark corpus out-of-band use it instead of
    * reaching into the directory. */
  private[graft] def invalidate(s: SparkSession, dir: String): Unit =
    store.invalidate(s, dir)

  /** COMPACT the layered store: absorb is append-only, so every shipped
    * benchmark suite stacks another file layer under fps/ — compaction
    * rewrites the table as one merged, coalesced layer under the
    * kernel's staged compact, reclaiming the listing + open cost. Rows
    * are copied, not recomputed, so it is reader-invisible by
    * construction — q161 oracles exactly that (judge-after-compact
    * shares q153's oracle verbatim). */
  def compact(s: SparkSession, dir: String): Unit =
    store.compact(s, dir, "", Seq("fps"))(staging =>
      s.read.parquet(s"${root(dir)}/fps").coalesce(4)
        .write.mode("overwrite").parquet(s"$staging/fps"))

  /** Judge a batch of documents against the store: fingerprint the
    * BATCH only, broadcast-join the persisted benchmark fingerprints,
    * flag docs CONTAINING some benchmark doc (shared distinct fps ≥
    * half that bench doc's fp set). No benchmark doc is ever re-read,
    * let alone re-fingerprinted; the per-bench denominators are one
    * bounded aggregation over the broadcast store. */
  def judgeDocs(s: SparkSession, dir: String, batch: DataFrame): DataFrame = {
    val store = s.read.parquet(s"${root(dir)}/fps")
    val bsz = store.groupBy(col("bench_id"))
      .agg(countDistinct(col("fp")).as("n_fps"))
    fpsOf(s, batch)
      .join(broadcast(store), Seq("fp"))
      .groupBy(col("doc_id"), col("bench_id"))
      .agg(countDistinct(col("fp")).as("shared"))
      .join(broadcast(bsz), Seq("bench_id"))
      .where(col("shared") * 2 >= col("n_fps"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bench_hits"),
        min(col("bench_id")).as("bench_match"))
      .orderBy(col("doc_id"))
  }

  /** STREAMING DECONTAMINATION GATE — the deployment argument of this
    * store is "gate the crawl feed before it lands", so the judge needs
    * a streaming form (q91/q151's pattern). The crawl arrives as a file
    * stream; each micro-batch is fingerprinted and judged against the
    * PERSISTED benchmark store inside foreachBatch and the verdicts
    * append to a result table. foreachBatch rather than a single
    * streaming plan because the judge needs two aggregations (per
    * (doc, bench) shared counts, then the per-doc fold) and Structured
    * Streaming allows one stateful aggregation per query — and since
    * every doc lives in exactly one micro-batch and the verdict is
    * per-doc independent given the (static) store, batch-wise judging
    * equals whole-corpus judging EXACTLY: q164 shares q153's oracle
    * verbatim. The planting join is a stateless stream-static join
    * (plantedSrc's device in stream form). */
  private def streamGate(s: SparkSession, dir: String): DataFrame = {
    buildIfStale(s, dir)
    absorb(s, dir)
    // pre-stream registration (Registration.ensureAllNative's note):
    // the in-batch judge needs winnow_fingerprints bound before .start()
    graft.functions.Registration.ensureAllNative(s)
    val out = StoreMeta.root("decontam_gate", dir)
    val ckpt = StoreMeta.root("decontam_gate_ckpt", dir)
    for (p <- Seq(out, ckpt)) StoreMeta.delete(s, p)
    val raw = s.read.parquet(s"$dir/documents.parquet") // schema probe
    val srcTexts = Tables.t(s, dir, "documents")
      .select(col("doc_id").as("p_id"), col("text").as("p_text"))
    val feed = s.readStream.schema(raw.schema).parquet(s"$dir/documents*.parquet")
      .where("doc_id % 97 != 0")
      .join(srcTexts,
        col("p_id") === col("doc_id") - 1 && col("doc_id") % 97 === 1, "left")
      .selectExpr("doc_id",
        "CASE WHEN doc_id % 97 = 1 AND p_text IS NOT NULL THEN p_text" +
          " ELSE text END AS text")
    StoreMeta.drainStream(feed, ckpt)(batch =>
      judgeDocs(s, dir, batch).write.mode("append").parquet(out))
    s.read.parquet(out).orderBy(col("doc_id"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // build tranche A, absorb tranche B, judge the (planted) corpus —
    // the full lifecycle; the oracle replays it with one bench set,
    // which is exactly what build ∪ absorb must equal
    "q153_decontam_store" -> ((s, dir) => {
      buildIfStale(s, dir)
      absorb(s, dir)
      judgeDocs(s, dir, plantedSrc(s, dir).where("doc_id % 97 != 0"))
    }),
    // DECONTAMINATED TRAINING MIX — the composition claim: the store
    // family's mix pipeline (q73/q134's gates, cap, splits, BPE counts)
    // with the benchmark-decontamination verdicts as a membership gate.
    // Membership = all non-benchmark docs MINUS the store's flagged set
    // (an id anti-join — the corpus never re-fingerprints for the mix);
    // stats gate from a live full-table aggregation. The oracle replays
    // fingerprinting, flagging, and the whole q73 chain from scratch —
    // proof that "train on what the benchmark store clears" lands on
    // identical bytes cross-engine.
    // build → absorb → COMPACT → judge: the maintenance verb is
    // reader-invisible, proven by sharing q153's oracle verbatim (the
    // q143 invisible-compaction contract applied to this store)
    "q161_decontam_compacted" -> ((s, dir) => {
      buildIfStale(s, dir)
      absorb(s, dir)
      compact(s, dir)
      judgeDocs(s, dir, plantedSrc(s, dir).where("doc_id % 97 != 0"))
    }),
    // the crawl-feed gate: the same judge, streaming cadence — q153's
    // oracle verbatim (batch-wise judging is exact, see streamGate)
    "q164_stream_decontam_gate" -> ((s, dir) => streamGate(s, dir)),
    "q157_decontam_mix" -> ((s, dir) => {
      buildIfStale(s, dir)
      absorb(s, dir)
      val flagged = judgeDocs(s, dir,
        plantedSrc(s, dir).where("doc_id % 97 != 0")).select(col("doc_id"))
      val docs = Tables.t(s, dir, "documents")
      val keepers = docs.where("doc_id % 97 != 0").select(col("doc_id"))
        .join(flagged, Seq("doc_id"), "left_anti")
      val stats = docs.groupBy(col("lang"), col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("total_chars"))
      StoreMix.mixFrom(s, dir, keepers, stats)
    })
  )

  private def judgeOracle: String =
    s"""WITH ${TextPipeline.duckWinnowExCtes()},
       |bench AS (SELECT doc_id AS bench_id, fp FROM ex WHERE doc_id % 97 = 0),
       |bsz AS (SELECT bench_id, count(DISTINCT fp) AS n_fps
       |  FROM bench GROUP BY bench_id),
       |ov AS (SELECT c.doc_id, b.bench_id, count(DISTINCT c.fp) AS shared
       |  FROM ex c JOIN bench b ON b.fp = c.fp
       |  WHERE c.doc_id % 97 != 0 GROUP BY c.doc_id, b.bench_id),
       |hit AS (SELECT ov.doc_id, ov.bench_id
       |  FROM ov JOIN bsz USING (bench_id)
       |  WHERE shared * 2 >= n_fps)
       |SELECT doc_id, count(*)::BIGINT AS n_bench_hits,
       |  min(bench_id) AS bench_match
       |FROM hit GROUP BY doc_id ORDER BY doc_id""".stripMargin

  val oracles: Map[String, String] = Map(
    // q161 is q153 with a compact between absorb and judge — compaction
    // is reader-invisible, so the oracle is IDENTICAL by design
    "q161_decontam_compacted" -> judgeOracle,
    "q164_stream_decontam_gate" -> judgeOracle,
    "q153_decontam_store" -> judgeOracle,

    // the q73/q134 mix chain with the decontamination gate replacing the
    // dedup membership: every constant (quality 6100, repetition 0.10,
    // cap 5, 2x-mean length gate, 90/5/5 split, >= 2 shared fps) matches
    // the Spark side textually
    "q157_decontam_mix" ->
      s"""WITH RECURSIVE ${TextPipeline.duckBpeCtes},
         |${TextPipeline.duckQualityCtes},
         |${TextPipeline.duckRepCtes},
         |${TextPipeline.duckWinnowExCtes()},
         |bench AS (SELECT doc_id AS bench_id, fp FROM ex WHERE doc_id % 97 = 0),
         |bsz AS (SELECT bench_id, count(DISTINCT fp) AS n_fps
         |  FROM bench GROUP BY bench_id),
         |ov AS (SELECT c.doc_id, b.bench_id, count(DISTINCT c.fp) AS shared
         |  FROM ex c JOIN bench b ON b.fp = c.fp
         |  WHERE c.doc_id % 97 != 0 GROUP BY c.doc_id, b.bench_id),
         |flagged AS (SELECT DISTINCT ov.doc_id
         |  FROM ov JOIN bsz USING (bench_id)
         |  WHERE shared * 2 >= n_fps),
         |stats AS (SELECT lang, source, count(*)::BIGINT AS n_docs,
         |    sum(n_chars)::BIGINT AS total_chars
         |  FROM documents GROUP BY lang, source),
         |kept AS (SELECT d.doc_id, d.lang, d.source
         |  FROM documents d
         |  JOIN qual USING (doc_id)
         |  JOIN stats st ON st.lang = d.lang AND st.source = d.source
         |  LEFT JOIN top2 USING (doc_id) LEFT JOIN dup3 USING (doc_id)
         |  LEFT JOIN flagged f ON f.doc_id = d.doc_id
         |  WHERE d.doc_id % 97 != 0 AND f.doc_id IS NULL
         |    AND qual.quality_e4 >= 6100 AND NOT ${TextPipeline.duckRepPred}
         |    AND d.n_chars * st.n_docs <= 2 * st.total_chars),
         |kh AS (SELECT lang, source, doc_id,
         |    ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT AS hv
         |  FROM kept),
         |kr AS (SELECT lang, source, doc_id, hv,
         |    row_number() OVER (PARTITION BY lang, source ORDER BY hv, doc_id) AS rn
         |  FROM kh)
         |SELECT doc_id, lang, source,
         |  CASE WHEN hv % 100 < 90 THEN 'train'
         |       WHEN hv % 100 < 95 THEN 'val' ELSE 'test' END AS split,
         |  coalesce(cnt.n, 0) AS n_tokens
         |FROM kr LEFT JOIN cnt USING (doc_id)
         |WHERE rn <= 5
         |ORDER BY doc_id""".stripMargin
  )
}
