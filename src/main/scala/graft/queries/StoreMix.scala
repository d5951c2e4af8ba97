package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * STORE-COMPOSED TRAINING MIX — the full operational loop the two
 * incremental stores exist for, run end-to-end as ONE oracled query
 * (q134): judge the delta against the persisted dedup store, absorb its
 * survivors, absorb the delta's stats partials, then build the training
 * mix by READING both stores instead of recomputing what they hold:
 *
 *  1. dedup membership comes from [[DedupIndex.keeperIds]] — the store's
 *     exact table IS the deduped corpus after absorb (corpus keepers ∪
 *     batch survivors), so the q73-style pipeline drops its md5-groupBy
 *     dedup stage entirely: a #docs-sized id semi-join replaces a
 *     corpus-wide text hash + shuffle;
 *  2. the length-outlier gate reads [[StatsStore.storedStats]] — after
 *     absorbing the delta the store alone covers corpus ∪ delta, so the
 *     per-(lang, source) means come from a #groups-sized broadcast table,
 *     not a second corpus aggregation. The gate is integer-exact:
 *     keep docs with n_chars × n_docs ≤ 2 × total_chars (i.e. at most
 *     2× the group mean — drops the long tail that wrecks batch shaping);
 *  3. the q73 quality/repetition gates and the per-(lang, source) cap
 *     run unchanged over the survivors (in-row, one scan, bounded
 *     [[graft.plans.TopKPerKey]] cap).
 *
 * The DuckDB oracle recomputes the WHOLE history from scratch — batch
 * verdicts, absorbed membership, full-table stats, gates, cap — so a
 * hash-green q134 is the cross-engine proof that the stores COMPOSE: the
 * incrementally-maintained state feeding a downstream pipeline lands on
 * the same bytes as a from-scratch recompute ([[graft.IncrementalOpsSpec]]
 * additionally pins the equality against the store-free Spark pipeline).
 *
 * Scale posture: the only corpus-scale work is the judge's delta-driven
 * equi-joins (q84's contract) plus ONE gated scan of the documents table;
 * the store reads are #docs-sized ids and a #groups-sized broadcast.
 * Nothing re-shingles, re-hashes, or re-aggregates the absorbed corpus.
 */
object StoreMix {

  /** The mix pipeline reading the ALREADY-ABSORBED stores — step 3 alone.
    * Requires both stores to cover corpus ∪ delta. */
  private[graft] def mixFromStores(s: SparkSession, dir: String): DataFrame =
    mixFrom(s, dir, DedupIndex.keeperIds(s, dir, variant),
      StatsStore.storedStats(s, dir, variant)
        .select(col("lang"), col("source"), col("n_docs"), col("total_chars")))

  /** The gate/cap/split pipeline over an injected dedup membership and
    * stats table — [[mixFromStores]] passes the store reads;
    * IncrementalOpsSpec passes live from-scratch computations of the same
    * state to pin absorb-then-read ≡ recompute (the Spark-side half of
    * the q134 claim; the oracle is the cross-engine half). */
  private[graft] def mixFrom(s: SparkSession, dir: String,
      keepers: DataFrame, stats: DataFrame): DataFrame = {
    graft.functions.BpeEncode.register(s)
    val docs = Tables.t(s, dir, "documents")
    // respread (the planned-scan-tasks guard): the repetition+quality
    // gate kernels are the pipeline's per-row CPU and ran as ONE task on
    // the one-row-group testdata scan (TUNE_r22.txt: a 784 ms
    // single-task job inside q158's lap); guard-false at cluster scale
    val kept = TextPipeline.withRepetitionChars(
        graft.SparkEntry.respread(
          docs.select(col("doc_id"), col("lang"), col("source"),
            col("n_chars"), col("text"))),
        withQuality = true)
      .join(keepers, Seq("doc_id"), "left_semi")
      .join(broadcast(stats), Seq("lang", "source"))
      .where(s"quality_e4 >= 6100 AND NOT ${TextPipeline.repetitivePred}" +
        " AND n_chars * n_docs <= 2 * total_chars")
    val capped = graft.plans.TopKPerKey.topK(
      kept.selectExpr("lang", "source", "doc_id",
        "-cast(conv(substring(md5(cast(doc_id AS string)), 1, 8), 16, 10) AS double) AS neg_h"),
      Seq("lang", "source"), "neg_h", "doc_id", 5, "neg_h", 4)
      .select(col("lang"), col("source"), col("doc_id"))
    docs.select(col("doc_id"), col("text"))
      .join(broadcast(capped), Seq("doc_id"))
      .selectExpr("doc_id", "lang", "source",
        "cast(conv(substring(md5(cast(doc_id AS string)), 1, 8), 16, 10) AS bigint) % 100 AS bucket",
        "size(bpe_encode(coalesce(text, ''))) AS n_tokens")
      .selectExpr("doc_id", "lang", "source",
        "CASE WHEN bucket < 90 THEN 'train' WHEN bucket < 95 THEN 'val'" +
          " ELSE 'test' END AS split",
        "n_tokens")
      .orderBy(col("doc_id"))
  }

  /** q134's own store instances — the q84/q107 contracts need the
    * PRISTINE default stores, and an absorb here must not force their
    * next lap into a rebuild (see StoreMeta.root's variant note). */
  private val variant = "mix"

  /** The full loop: (re)build pristine stores, judge + absorb the delta
    * into both, then run [[mixFromStores]]. Each lifecycle step is the
    * public store API — nothing here bypasses the operational surface. */
  def storeMix(s: SparkSession, dir: String): DataFrame = {
    DedupIndex.buildIfStale(s, dir, variant)
    DedupIndex.absorb(s, dir, variant)
    StatsStore.buildIfStale(s, dir, variant)
    StatsStore.absorb(s, dir, variant)
    mixFromStores(s, dir)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q134_store_mix" -> ((s, dir) => storeMix(s, dir))
  )

  // The oracle rebuilds the whole history store-free: q84's verdict chain
  // (planted corpus∪delta source, shared shingle/band CTEs) gives the
  // absorbed membership; full-table grouping gives the absorbed stats;
  // then q73's gate/cap/split/token CTEs run over that membership with
  // the stats gate added. Every constant (0.5 jaccard, 6100 quality,
  // 0.10 repetition, cap 5, 2x-mean length gate, 90/5/5 split) matches
  // the Spark side textually.
  val oracles: Map[String, String] = Map(
    "q134_store_mix" ->
      s"""WITH RECURSIVE ${TextPipeline.duckBpeCtes},
         |${TextPipeline.duckQualityCtes},
         |${TextPipeline.duckRepCtes},
         |src AS (
         |  SELECT doc_id, text FROM documents WHERE doc_id % 10 < 7
         |  UNION ALL
         |  SELECT d0.doc_id, coalesce(o.text, d0.text) AS text
         |  FROM documents d0 LEFT JOIN documents o
         |    ON o.doc_id = d0.doc_id - 7 AND d0.doc_id % 10 = 7
         |  WHERE d0.doc_id % 10 >= 7),
         |docs AS (${TextPipeline.duckShingleDocsFrom("src")}),
         |${TextPipeline.duckBandsCtes},
         |cand AS (SELECT DISTINCT x.doc_id AS d_id, y.doc_id AS c_id
         |  FROM bands x JOIN bands y ON x.b = y.b AND x.k0 = y.k0
         |    AND x.k1 = y.k1 AND x.k2 = y.k2
         |  WHERE x.doc_id % 10 >= 7 AND y.doc_id % 10 < 7),
         |near AS (SELECT d_id, count(*)::BIGINT AS n_near
         |  FROM cand
         |  JOIN docs da ON da.doc_id = d_id
         |  JOIN docs db ON db.doc_id = c_id
         |  WHERE round(len(list_intersect(da.sh, db.sh))::DOUBLE
         |      / len(list_distinct(list_concat(da.sh, db.sh))), 4) >= 0.5
         |  GROUP BY d_id),
         |ex AS (SELECT md5(text) AS fp, min(doc_id) AS keeper
         |  FROM src WHERE doc_id % 10 < 7 GROUP BY fp),
         |dd AS (SELECT doc_id, md5(text) AS fp
         |  FROM src WHERE doc_id % 10 >= 7),
         |uq AS (SELECT dd.doc_id, dd.fp FROM dd
         |  LEFT JOIN ex USING (fp)
         |  LEFT JOIN near ON near.d_id = dd.doc_id
         |  WHERE ex.keeper IS NULL AND coalesce(near.n_near, 0) = 0),
         |keepers AS (
         |  SELECT keeper AS doc_id FROM ex
         |  UNION ALL
         |  SELECT min(doc_id) AS doc_id FROM uq GROUP BY fp),
         |stats AS (SELECT lang, source, count(*)::BIGINT AS n_docs,
         |    sum(n_chars)::BIGINT AS total_chars
         |  FROM documents GROUP BY lang, source),
         |kept AS (SELECT d.doc_id, d.lang, d.source
         |  FROM documents d
         |  JOIN keepers USING (doc_id)
         |  JOIN qual USING (doc_id)
         |  JOIN stats st ON st.lang = d.lang AND st.source = d.source
         |  LEFT JOIN top2 USING (doc_id) LEFT JOIN dup3 USING (doc_id)
         |  WHERE qual.quality_e4 >= 6100 AND NOT ${TextPipeline.duckRepPred}
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
