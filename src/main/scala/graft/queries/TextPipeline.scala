package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Training-data pipeline operators over `documents` and `embeddings`:
 * exact dedup, MinHash-LSH near-dup, SimHash fingerprinting,
 * sorted-neighborhood n-gram Jaccard, language id, quality scoring, token
 * stats, document fingerprints, cosine similarity search and near-dup.
 *
 * Cross-engine design: every hash is md5 (identical hex in Spark and
 * DuckDB), MinHash signatures are lexicographic minima of md5 strings (no
 * engine-specific integer hashing), and cosine similarity is written as the
 * same explicit double-precision expression on both sides so threshold
 * predicates see bitwise-identical values. All per-document work uses
 * codegen'd higher-order functions (transform/aggregate/filter) — zero
 * UDFs, zero shuffles until the pair-building joins.
 *
 * Scale: candidate generation is always blocked (LSH bands, sign buckets,
 * sorted neighborhood) — nothing here is O(n^2) in document count.
 */
object TextPipeline {

  import Tables.t

  // --- shared SQL fragments (Spark side) ---

  private val toks = "split(text, ' ')"

  /** Distinct word-3-gram shingles over a PRE-MATERIALIZED token array
    * column `tk`; empty array for docs under 3 tokens. The two-step
    * projection matters: with `split(text)` inlined here, every
    * `element_at` inside the per-shingle lambda re-runs the split — 3 x
    * |shingles| regex splits per document, measured 4.5 s for 5k docs at
    * sf0.1 vs ~0.3 s with the array materialized once per row.
    *
    * r21: the projection is the native [[graft.functions.Shingles3]]
    * kernel. This HOF form remains the DEFINING semantics (it is what
    * the oracles replay, and ShinglesKernelSpec pins the two equal,
    * nulls/duplicates/short-docs included); the kernel removes the
    * per-shingle interpreted lambda + concat tree + array_distinct
    * second pass that every dedup/similarity query was paying. */
  private[graft] val shinglesHof =
    """CASE WHEN size(tk) >= 3 THEN
      |  array_distinct(transform(sequence(1, size(tk) - 2),
      |    i -> concat(element_at(tk, i), ' ', element_at(tk, i + 1), ' ',
      |                element_at(tk, i + 2))))
      |ELSE cast(array() AS array<string>) END""".stripMargin

  private val tokenHashes =
    """transform(array_distinct(split(text, ' ')),
      |  tk -> cast(conv(substring(md5(tk), 1, 8), 16, 10) AS bigint))""".stripMargin

  /** PII patterns, written in the Java-regex ∩ RE2 compatible subset
    * (character classes, bounded repetition, `\b`, no lookaround) so the
    * SAME pattern string drives Spark's codegen'd `regexp_replace`/
    * `regexp_count` and the DuckDB oracle's RE2 engine — one source of
    * truth, leftmost-first semantics in both. Redaction order is part of
    * the contract (emails, then IPs, then phones, each counted on the
    * text as it stands when that pass runs). */
  private[queries] val emailPat = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private[queries] val ipv4Pat = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  private[queries] val phonePat = "\\+?\\d[\\d -]{7,}\\d"

  /** Native codegen'd cosine (graft.functions.CosineSimilarity) — same
    * summation order as the HOF form and the DuckDB oracle, bit-identical
    * results, but a fused compiled loop instead of interpreted lambdas. */
  private val cosineExpr = "cosine_similarity(ae, be)"

  /** The "has shingles" condition is expressed on the token count BEFORE
    * the shingle projection: a `where(size(sh) > 0)` after it gets
    * predicate-pushed below the Project with the whole shingle expression
    * inlined — recomputing `split()` per element inside the filter
    * (measured 4.7 s -> 0.6 s for 5k docs at sf0.1). */
  private def docShingles(s: SparkSession, dir: String): DataFrame =
    shinglesOf(t(s, dir, "documents"))

  /** The same distinct-shingle projection over an arbitrary documents
    * slice (doc_id, text, ...) — shared with the incremental-dedup index,
    * which fingerprints corpus and delta sides separately. */
  private[graft] def shinglesOf(docs: DataFrame): DataFrame = {
    graft.functions.Shingles3.register(docs.sparkSession)
    docs
      .selectExpr("doc_id", s"$toks AS tk")
      .where("size(tk) >= 3")
      .selectExpr("doc_id", "shingles3(tk) AS sh")
  }

  /** Per-bit majority vote over md5-derived token hashes, computed by the
    * native codegen'd graft.functions.SimHash (the HOF form is interpreted
    * and ~30x slower; identical integer semantics, same DuckDB oracle). */
  private def docSimhash(s: SparkSession, dir: String): DataFrame = {
    graft.functions.SimHash.register(s)
    t(s, dir, "documents")
      .selectExpr("doc_id", s"$tokenHashes AS hs")
      .selectExpr("doc_id", "simhash(hs) AS simhash")
  }

  /** Scale-safe global row_number — promoted to [[graft.plans.RangedRank]]
    * (reusable operator, property-tested against the window form). */
  private def rankBy(s: SparkSession, df: DataFrame, ord: String*): DataFrame =
    graft.plans.RangedRank.rankBy(s, df, ord: _*)

  private[queries] def embDoubles(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "embeddings")
      .selectExpr("vec_id", "label", "transform(embedding, x -> cast(x AS double)) AS e",
        "cast(embedding[0] > 0 AS int) * 4 + cast(embedding[1] > 0 AS int) * 2 " +
          "+ cast(embedding[2] > 0 AS int) AS bucket")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Exact dedup: hash-groupBy on content, keep the smallest doc_id.
    // Map-side partial agg means only one (hash, min, count) row per
    // partition per cluster crosses the wire at 100 TB.
    "q20_exact_dedup" -> ((s, dir) => {
      t(s, dir, "documents")
        .groupBy(md5(col("text")).as("content_hash"))
        .agg(min(col("doc_id")).as("keeper"), count(lit(1)).as("n_copies"))
        .select(col("keeper"), col("n_copies"))
        .orderBy(col("keeper"))
    }),

    // NORMALIZED dedup: exact dedup is case/whitespace/punctuation
    // brittle — a crawl re-fetch that upper-cases a header or doubles
    // spaces defeats md5(text). The normalization chain (lowercase,
    // non-alphanumerics to space, collapse runs, trim) is applied IN-ROW
    // before the same hash-groupBy as q20, so the operator costs exactly
    // one extra projection — no new exchange, map-side partial agg
    // unchanged. The corpus is word-soup with no planted case noise, so
    // noisy copies are PLANTED deterministically (doc_id % 9 = 4 gains a
    // shifted-id copy with upper case, tripled spaces, punctuation and
    // padding — the same both-engines planting device as q84): every
    // planted pair MUST collapse to one group, and any group the chain
    // fails to collapse diverges from the oracle's hash.
    "q105_norm_dedup" -> ((s, dir) => {
      val base = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val noisy = base.where("doc_id % 9 = 4")
        .selectExpr("doc_id + 10000000 AS doc_id",
          "concat('  ', upper(replace(text, ' ', '   ')), ' .!? ') AS text")
      base.unionByName(noisy)
        .selectExpr("doc_id",
          "md5(trim(regexp_replace(regexp_replace(lower(text), " +
            "'[^a-z0-9 ]', ' '), ' +', ' '))) AS norm_fp")
        .groupBy(col("norm_fp"))
        .agg(min(col("doc_id")).as("keeper"), count(lit(1)).as("n_docs"))
        .where(col("n_docs") > 1)
        .select(col("norm_fp"), col("keeper"), col("n_docs"))
        .orderBy(col("keeper"))
    }),

    // TRUE BPE token counting: the same regex pre-tokenization as before
    // (letter runs, digit runs, single marks), now followed by ranked
    // pair merges from a broadcast merges table — the native codegen'd
    // [[graft.functions.BpeEncode]], the real tokenizer mechanics packing
    // and token budgets are computed with. The DuckDB oracle re-derives
    // the merges as a recursive-CTE replace chain GENERATED from the same
    // Scala table (one source of truth), over DISTINCT pre-tokens (the
    // encode is a pure word function) — so the subword counts are
    // hash-checked cross-engine, not trusted.
    "q48_bpe_tokens" -> ((s, dir) => {
      graft.functions.BpeEncode.register(s)
      // coalesce: a NULL text encodes as 0 tokens on BOTH engines — the
      // oracle's LEFT JOIN + coalesce(n, 0) counts a pre-token-less doc as
      // 0, and size(bpe_encode(NULL)) would be NULL here (skipped by
      // avg/max), silently diverging on any corpus with null text.
      t(s, dir, "documents")
        .selectExpr("source", "size(bpe_encode(coalesce(text, ''))) AS n_bpe")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_bpe")).as("total_bpe_tokens"),
          round(avg(col("n_bpe")), 4).as("avg_bpe_tokens"),
          max(col("n_bpe")).as("max_bpe_tokens"))
        .orderBy(col("source"))
    }),

    // TOKEN IDS — the form a training pipeline actually feeds a model:
    // q48's subword strings mapped through a vocab (token -> id) by the
    // native codegen'd [[graft.functions.BpeEncodeIds]], array<int> per
    // document. Summarized per doc as (count, sum, min, max) of the id
    // sequence — four independent checksums over the ids that any
    // reordering, dropped token, or wrong mapping perturbs — because the
    // driver compare hashes scalar cells. The DuckDB oracle re-derives
    // the ids from the SAME generated vocab table (merge outputs) with
    // `unicode(token)` as the codepoint fallback — byte-for-byte the
    // expression's mapping. min/max coalesce to -1 on BOTH sides so a
    // pre-token-less doc never emits engine-dependent NULL handling.
    "q77_bpe_ids" -> ((s, dir) => {
      graft.functions.BpeEncode.registerIds(s)
      t(s, dir, "documents")
        .selectExpr("doc_id", "bpe_encode_ids(coalesce(text, '')) AS ids")
        .selectExpr("doc_id", "size(ids) AS n_ids",
          "aggregate(ids, cast(0 AS bigint), (a, x) -> a + x) AS id_sum",
          "coalesce(array_min(ids), -1) AS id_min",
          "coalesce(array_max(ids), -1) AS id_max")
        .orderBy(col("doc_id"))
    }),

    // Token statistics per source (token counting over whitespace).
    "q21_token_stats" -> ((s, dir) => {
      t(s, dir, "documents")
        .selectExpr("source", s"size($toks) AS n_tokens",
          s"aggregate(transform($toks, x -> length(x)), 0, (a, x) -> a + x) AS token_chars")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("total_tokens"),
          round(avg(col("n_tokens")), 4).as("avg_tokens"),
          max(col("n_tokens")).as("max_tokens"),
          round(sum(col("token_chars")).cast("double") / sum(col("n_tokens")), 4)
            .as("avg_token_len"))
        .orderBy(col("source"))
    }),

    // Language id: marker-token counts with a deterministic priority chain.
    // replace()-based counting has identical scan semantics in both engines.
    "q22_lang_id" -> ((s, dir) => {
      def cnt(w: String) =
        s"(length(concat(' ', text, ' ')) - length(replace(concat(' ', text, ' '), ' $w ', ' '))) / ${w.length + 1}"
      t(s, dir, "documents")
        .selectExpr("doc_id", "lang",
          s"${cnt("the")} AS c_en", s"${cnt("le")} AS c_fr", s"${cnt("el")} AS c_es",
          s"${cnt("der")} AS c_de", s"${cnt("的")} AS c_zh")
        .selectExpr("doc_id", "lang",
          """CASE WHEN c_en >= greatest(c_fr, c_es, c_de, c_zh) AND c_en > 0 THEN 'en'
            |     WHEN c_fr >= greatest(c_es, c_de, c_zh) AND c_fr > 0 THEN 'fr'
            |     WHEN c_es >= greatest(c_de, c_zh) AND c_es > 0 THEN 'es'
            |     WHEN c_de >= c_zh AND c_de > 0 THEN 'de'
            |     WHEN c_zh > 0 THEN 'zh'
            |     ELSE 'und' END AS pred_lang""".stripMargin)
        .selectExpr("doc_id", "pred_lang",
          "CASE WHEN pred_lang = lang THEN 1 ELSE 0 END AS is_correct")
        .orderBy(col("doc_id"))
    }),

    // Quality score: uniqueness, stopword ratio, length prior. The
    // composite score is exact integer math scaled by 1e4 (half-up via
    // (2a+b) div 2b): the double form `round(0.4*u + 0.3*(1-s) + ..., 4)`
    // lands on .xxxx5 shortest-repr boundaries that Spark and DuckDB
    // round in opposite directions (caught at sf0.1).
    "q23_quality_score" -> ((s, dir) =>
      docQuality(s, dir).orderBy(col("doc_id"))),

    // Content fingerprint over normalized text (dedup key robust to
    // whitespace/punctuation differences).
    "q24_fingerprint" -> ((s, dir) => {
      t(s, dir, "documents")
        .selectExpr("doc_id",
          "md5(regexp_replace(text, '[^a-z0-9]', '')) AS fingerprint",
          "length(regexp_replace(text, '[^a-z0-9]', '')) AS n_chars_norm")
        .orderBy(col("doc_id"))
    }),

    // MinHash + LSH near-duplicate pairs, verified with exact shingle
    // Jaccard >= 0.5. Candidate generation is the banded self-join (shuffle
    // keyed on (band, hash)), never an all-pairs product.
    "q25_minhash_neardup" -> ((s, dir) =>
      minhashNearDupPairs(s, dir).orderBy(col("a_id"), col("b_id"))),

    // Near-dup CLUSTERING — pairs become dedup DECISIONS: transitive
    // closure over the q25 near-dup pair set (a ~ b, b ~ c puts a and c in
    // one cluster even when a !~ c directly), each document labeled with
    // its component's min doc_id and whether it IS that canonical
    // representative (is_canonical = 0 rows are the drop list). The
    // closure is the large-star/small-star iteration
    // ([[graft.plans.ConnectedComponents]]) — O(log n) key-partitioned
    // rounds, no driver-side pair set — because at 100 TB dup clusters
    // are huge and a union-find over collected pairs cannot be assumed to
    // fit anywhere. Docs in no pair are their own singleton cluster (left
    // join + coalesce). Fully DuckDB-oracled via a recursive-CTE closure
    // over the identical pair set.
    "q66_dedup_clusters" -> ((s, dir) => {
      graft.plans.ConnectedComponents.ensureReliableCheckpointDir(s)
      val pairs = minhashNearDupPairs(s, dir)
      val cc = graft.plans.ConnectedComponents.components(
        pairs.select(col("a_id").as("u"), col("b_id").as("v")))
      t(s, dir, "documents").select(col("doc_id"))
        .join(cc.withColumnRenamed("node", "doc_id"), Seq("doc_id"), "left")
        .selectExpr("doc_id", "coalesce(cluster, doc_id) AS cluster_id",
          "cast(coalesce(cluster, doc_id) = doc_id AS int) AS is_canonical")
        .orderBy(col("doc_id"))
    }),

    // QUALITY-AWARE canonical selection — q66's clusters with the keeper
    // chosen by MERIT instead of accident: q66 keeps each component's
    // minimum doc_id, which preserves whichever copy happened to get the
    // small id (possibly the truncated/boilerplate one) and drops the
    // clean one. Here the canonical member is arg-max of the q23 quality
    // score (tie-break: min doc_id — deterministic, and degrades to q66's
    // rule when a cluster's members tie). The arg-max is a per-cluster
    // AGGREGATION (max_by over a (quality, -doc_id) struct — one map-side-
    // partial shuffle keyed by cluster), never a window over the corpus.
    // keep_reason makes the decision auditable downstream: 'singleton'
    // (nothing to compare), 'best_quality' (won its cluster), or
    // 'lower_quality' (the drop list, with the cluster id to find the
    // kept copy). Fully DuckDB-oracled: same recursive-CTE closure as
    // q66 plus the q23 quality CTE and a window arg-max.
    // Scale shape: only docs in the PAIR CLOSURE need an arg-max — the
    // inner join against cc bounds the quality frame and the per-cluster
    // aggregation by the pair set (never the corpus), so the resulting
    // (cluster_id -> canonical) table is bounded and BROADCASTS back.
    // Singletons ride the existing left-join + coalesce: a doc with no
    // canon row is its own keeper. (The r12 shape computed the arg-max
    // over ALL documents, making `canon` corpus-sized and the final join
    // a full corpus-by-corpus shuffle — two avoidable exchanges at
    // 100 TB, plus a skew magnet on any giant dup cluster's key.)
    "q68_quality_canonical" -> ((s, dir) => {
      graft.plans.ConnectedComponents.ensureReliableCheckpointDir(s)
      val pairs = minhashNearDupPairs(s, dir)
      val cc = graft.plans.ConnectedComponents.components(
        pairs.select(col("a_id").as("u"), col("b_id").as("v")))
        .withColumnRenamed("node", "doc_id")
      val closureQ = docQuality(s, dir).join(cc, Seq("doc_id"))
      val canon = closureQ.groupBy(col("cluster").as("cluster_id"))
        .agg(max_by(col("doc_id"),
          struct(col("quality_e4"), (-col("doc_id")).as("neg_id"))).as("canonical_id"))
      t(s, dir, "documents").select(col("doc_id"))
        .join(cc, Seq("doc_id"), "left")
        .selectExpr("doc_id", "coalesce(cluster, doc_id) AS cluster_id")
        .join(broadcast(canon), Seq("cluster_id"), "left")
        .selectExpr("doc_id", "cluster_id",
          "cast(canonical_id IS NULL OR doc_id = canonical_id AS int) AS is_canonical",
          """CASE WHEN canonical_id IS NULL THEN 'singleton'
            |     WHEN doc_id = canonical_id THEN 'best_quality'
            |     ELSE 'lower_quality' END AS keep_reason""".stripMargin)
        .orderBy(col("doc_id"))
    }),

    // UNIFIED dedup closure — ONE authoritative drop list over the UNION
    // of every pairwise evidence source: q25's MinHash/Jaccard pairs,
    // q32's simhash-Hamming pairs, and q29's embedding-cosine pairs
    // (doc_id and vec_id share the id space — the embedding row IS the
    // document's vector). Running the closures separately (q66 on n-gram
    // evidence, q67 on cosine evidence) misses transitive links that
    // CROSS evidence types: a ~ b caught only by MinHash and b ~ c caught
    // only by cosine chain into one cluster here, where the split
    // closures would keep both a and c. The union is three bounded
    // candidate generators feeding one ConnectedComponents run — no new
    // O(n^2) surface — and the DuckDB oracle closes the identical unioned
    // pair set with the same recursive CTE, so the merged decisions stay
    // hash-checked.
    "q69_unified_dedup" -> ((s, dir) => {
      graft.plans.ConnectedComponents.ensureReliableCheckpointDir(s)
      val ngram = minhashNearDupPairs(s, dir)
        .select(col("a_id").as("u"), col("b_id").as("v"))
      val simhash = simhashHammingPairs(s, dir)
        .select(col("a_id").as("u"), col("b_id").as("v"))
      val cosine = cosineNearDupPairs(s, dir)
        .select(col("a_id").as("u"), col("b_id").as("v"))
      val cc = graft.plans.ConnectedComponents.components(
        ngram.union(simhash).union(cosine))
      t(s, dir, "documents").select(col("doc_id"))
        .join(cc.withColumnRenamed("node", "doc_id"), Seq("doc_id"), "left")
        .selectExpr("doc_id", "coalesce(cluster, doc_id) AS cluster_id",
          "cast(coalesce(cluster, doc_id) = doc_id AS int) AS is_canonical")
        .orderBy(col("doc_id"))
    }),

    // GOPHER-STYLE repetition signals (Rae et al. 2021 §A1.1, adapted):
    // the quality view q23 doesn't cover — templated/boilerplate docs
    // repeat the same n-grams, which length/stopword ratios can't see.
    // Per document: top2_frac = the largest character coverage of any one
    // word-2-gram (occurrences x gram length, over n_chars), dup3_frac =
    // character coverage of all word-3-grams occurring more than once.
    // Both counts are in-row integer facts (the native codegen'd
    // RepetitionChars via withRepetitionChars — a pure scan+project, zero
    // joins, zero shuffles, plan-pinned) until one final division, so the
    // DuckDB oracle reproduces the ratios bitwise; the `repetitive` flag
    // compares in the multiply form (see repetitivePred) against fixed
    // 0.10 thresholds chosen from the corpus distribution (median top2
    // 0.068, max 0.33). Fracs guard n_chars = 0 explicitly — Spark's
    // NULL and DuckDB's NaN would otherwise diverge on empty text.
    "q70_repetition_flags" -> ((s, dir) => {
      withRepetitionChars(
        t(s, dir, "documents").select(col("doc_id"), col("n_chars"), col("text")))
        .selectExpr("doc_id",
          "CASE WHEN n_chars > 0" +
            " THEN round(coalesce(top2_chars, 0) / n_chars, 4)" +
            " ELSE 0.0 END AS top2_frac",
          "CASE WHEN n_chars > 0" +
            " THEN round(coalesce(dup3_chars, 0) / n_chars, 4)" +
            " ELSE 0.0 END AS dup3_frac",
          s"cast($repetitivePred AS int) AS repetitive")
        .orderBy(col("doc_id"))
    }),

    // PER-DOMAIN CAP — keep at most 5 documents per (lang, source),
    // chosen by a DETERMINISTIC md5 rank (the same engine-neutral hash
    // family as the q65 splits): the standard guard against any one
    // domain dominating a training mix, reproducible across runs and
    // engines because the "random" order is a pure function of doc_id.
    // The rank is the bounded TopKPerKey aggregation on the composite
    // (lang, source) key — map-side partials carry at most k rows per
    // (partition, domain), where the window form would shuffle and sort
    // EVERY document per domain. Negated hash because the aggregator
    // ranks score-descending; ties (32-bit hash collisions) break on
    // doc_id ascending in both engines.
    "q71_domain_cap" -> ((s, dir) => {
      val ranked = t(s, dir, "documents").selectExpr("lang", "source", "doc_id",
        "-cast(conv(substring(md5(cast(doc_id AS string)), 1, 8), 16, 10) AS double) AS neg_h")
      graft.plans.TopKPerKey
        .topK(ranked, Seq("lang", "source"), "neg_h", "doc_id", 5, "neg_h", 4)
        .selectExpr("lang", "source", "doc_id", "rn")
        .orderBy(col("lang"), col("source"), col("rn"))
    }),

    // TEMPERATURE RESAMPLING weights — the standard multilingual
    // alpha-sampling (alpha = 1/2, i.e. T = 2): per-language sampling
    // weight w_l proportional to sqrt(n_l), and the per-document boost
    // w_l / p_l that upsamples low-resource languages. Exponent 1/2
    // specifically because IEEE sqrt is correctly rounded in BOTH engines
    // where pow(x, 0.3) is a libm-dependent last-ulp gamble; the
    // cross-language normalizer sums FLOOR-SCALED INTEGER sqrts
    // (floor(sqrt(n) * 1e6)) so the sum is order-independent — a plain
    // double sum would expose Spark's nondeterministic aggregation order
    // against DuckDB's. Both outputs are INTEGER-SCALED (x1e6, half-up
    // via the (2a+b) div 2b idiom quality_e4 uses): `round(s6/s6_total,
    // 6)` emitted raw double quotients, the same .xxx5 shortest-repr
    // boundary class where Spark (HALF_UP on the decimal repr) and
    // DuckDB (binary-value rounding) are MEASURED to disagree (see the
    // q23 comment). boost_e6 derives from weight_e6 (not the unscaled
    // quotient) so the bigint products stay under 2^63 out to ~4.6e12
    // corpus docs — far beyond a 100 TB corpus. The bounded weight table
    // broadcast-joins back to documents: the corpus never shuffles.
    "q72_temperature_weights" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val perLang = docs.groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"))
        .selectExpr("lang", "n_docs",
          "cast(floor(sqrt(cast(n_docs AS double)) * 1e6) AS bigint) AS s6")
      val total = perLang.agg(sum(col("s6")).as("s6_total"),
        sum(col("n_docs")).as("n_total"))
      val weights = perLang.join(broadcast(total))
        .selectExpr("lang", "n_docs", "n_total",
          "(2 * s6 * 1000000 + s6_total) div (2 * s6_total) AS weight_e6")
        .selectExpr("lang", "n_docs", "weight_e6",
          "(2 * weight_e6 * n_total + n_docs) div (2 * n_docs) AS boost_e6")
      docs.select(col("doc_id"), col("lang"))
        .join(broadcast(weights), Seq("lang"))
        .select(col("doc_id"), col("lang"), col("n_docs"), col("weight_e6"),
          col("boost_e6"))
        .orderBy(col("doc_id"))
    }),

    // END-TO-END TRAINING-MIX PIPELINE — the composition a real data-prep
    // run executes, as ONE declarative plan Catalyst optimizes whole:
    // (1) exact dedup (min-id copy per distinct md5(text) survives),
    // (2) quality gate (q23 score >= 6100, from the corpus distribution)
    //     and repetition gate (q70's thresholds),
    // (3) per-(lang, source) cap at 5 by deterministic md5 rank (q71's
    //     bounded TopKPerKey — survivors only, so a domain full of
    //     near-spam doesn't waste its cap on dropped docs),
    // (4) deterministic train/val/test assignment (q65's md5 buckets),
    // (5) TRUE BPE token count (q48's codegen'd encoder) for the KEPT set
    //     only — the expensive stage runs on the capped survivor set, not
    //     the corpus.
    // Every stage is a fragment already oracled on its own (q20/q23/q70/
    // q71/q65/q48); the composed oracle chains the same DuckDB CTEs, so
    // the interactions — gates feeding the cap, the cap feeding the token
    // count — are hash-checked too, not assumed from stage-wise green.
    // Scale shape: BOTH gates compute in-row on the scan (no gate joins
    // — see withRepetitionChars), so the corpus shuffles exactly twice
    // (the dedup groupBy and its keeper semi-join) before the bounded cap
    // aggregation; the final text join BROADCASTS the capped id set
    // (bounded by 5 x |domains|), so the corpus never shuffles for it.
    // Body lives in [[mixPipeline]] — this entry runs it at the ORACLED
    // defaults; deployments tune the thresholds through that builder (and
    // the `mix_pipeline` alias from Python).
    "q73_mix_pipeline" -> ((s, dir) => mixPipeline(s, dir)),

    // TOKEN-BUDGET SAMPLING — q72's weights say how much of each language
    // to take; this MATERIALIZES such a take: per language, documents in
    // deterministic md5-hash order are kept while the inclusive running
    // token total stays within a fixed budget (3000 whitespace tokens) —
    // the "sample this many tokens per language" primitive of mixture
    // construction, reproducible across runs and engines.
    //
    // Scale shape: `sum() over (partition by lang order by hash)` would
    // put each language's ENTIRE corpus slice in one window task — with a
    // handful of languages over 100 TB, that is corpus/5 per task. So the
    // running sum is the GLOBAL RangedPrefixSum over the (lang, h,
    // doc_id) order (lang blocks are contiguous: range-partitioned
    // cumsum, bounded totals collect), and the per-language running total
    // is the global one minus the language's start offset — an exclusive
    // prefix over the #languages-row totals table, computed by a window
    // over THAT bounded aggregate (bounded by language count, never
    // corpus) and broadcast back.
    "q75_token_budget" -> ((s, dir) => {
      val budget = 3000L
      val docs = Caches.persist(t(s, dir, "documents").selectExpr(
        "doc_id", "lang", s"size($toks) AS n_tokens",
        "cast(conv(substring(md5(cast(doc_id AS string)), 1, 8), 16, 10) AS bigint)" +
          " AS h"))
      val g = graft.plans.RangedPrefixSum.prefixSumBy(
        s, docs, "n_tokens", "gcum", "lang", "h", "doc_id")
      val offsets = docs.groupBy(col("lang"))
        .agg(sum(col("n_tokens")).as("t"))
        .withColumn("off",
          coalesce(sum(col("t")).over(Window.orderBy(col("lang"))
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .select(col("lang"), col("off"))
      g.join(broadcast(offsets), Seq("lang"))
        .selectExpr("doc_id", "lang", "n_tokens", "gcum - off AS cum_tokens")
        .where(s"cum_tokens <= $budget")
        .orderBy(col("lang"), col("cum_tokens"))
    }),

    // TEMPERATURE-WEIGHTED TOKEN TAKE — q72 x q75 composed into the
    // actual mixture-construction primitive a training-data run executes:
    // a TOTAL token budget B is split per language by the alpha=1/2
    // sampling weights (budget_l = round(weight_l * B), exact bigint
    // half-up — the same s6/s6_total fraction q72 scales to weight_e6),
    // then each language's documents are taken in deterministic md5-hash
    // order while the inclusive running token total stays within ITS
    // budget. Low-resource languages get more than their proportional
    // share of tokens (sqrt weighting), which is the point.
    //
    // Scale shape is exactly q75's: ONE global RangedPrefixSum over the
    // (lang, h, doc_id) order; the per-language start offsets AND budgets
    // are both #languages-row tables, joined to each other and broadcast
    // back in a single bounded join — the corpus never shuffles for
    // either, and no per-language corpus-slice window task exists.
    // Body lives in [[weightedTake]] — this entry runs it at the ORACLED
    // total budget; deployments choose theirs through that builder (and
    // the `weighted_take` alias from Python).
    "q76_weighted_take" -> ((s, dir) => weightedTake(s, dir)),

    // FULL MIXTURE MATERIALIZATION — the q73 pipeline's survivors fed
    // into the q76 weighted take, composed as ONE plan (weights over the
    // SURVIVOR language counts, budget in TRUE BPE tokens): dedup -> in-
    // row gates -> bounded domain cap -> split -> alpha-weighted
    // per-language token budgets -> deterministic hash-order take. The
    // oracle chains q73's CTEs verbatim into q76's take CTEs, so the
    // composition seams (gates shifting language counts shifting budgets)
    // are hash-checked, not assumed from the fragments' stage-wise green.
    // Body lives in [[mixTake]] — this entry runs the ORACLED defaults;
    // deployments tune all four knobs there (and
    // the `mix_take` alias from Python).
    "q78_mix_take" -> ((s, dir) => mixTake(s, dir)),

    // PII REDACTION — the scrub pass every training-data pipeline runs
    // before anything else sees the text: emails, IPv4 addresses, and
    // phone numbers replaced with typed placeholder tokens, with per-
    // category match counts for audit. The synthetic corpus contains no
    // PII at all (zero '@', zero digits in any text), which would make
    // the scrubber a hash-green NO-OP — so the query first plants a
    // deterministic doc_id-derived contact line IDENTICALLY in both
    // engines (pure string concat, no randomness) and then verifies the
    // scrubber finds and removes exactly that. What's under test
    // cross-engine is the operator itself: the shared regex patterns
    // ([[emailPat]]/[[ipv4Pat]]/[[phonePat]]), the redaction order, and
    // the counts. Pure scan+project — zero joins, zero shuffles,
    // codegen'd regexp exprs in-row (plan-pinned like q70); residual_pii
    // re-scans the clean text for all three patterns and must be 0.
    "q79_pii_redact" -> ((s, dir) => {
      val planted = t(s, dir, "documents").selectExpr("doc_id",
        "concat(text, ' contact user', cast(doc_id AS string)," +
          " '@mail.example.com or +1 555-01'," +
          " lpad(cast(doc_id % 100 AS string), 2, '0')," +
          " ' host 10.0.', cast(doc_id % 250 AS string), '.17') AS text")
      scrubChain(planted, Seq(
        ("emails", emailPat, "<EMAIL>"),
        ("ips", ipv4Pat, "<IP>"),
        ("phones", phonePat, "<PHONE>")))
        .orderBy(col("doc_id"))
    }),

    // DUPLICATED-SHINGLE SPAN FRACTION — the document-level form of the
    // substring-duplication diagnostic from Lee et al. 2021 ("Deduplicating
    // Training Data Makes Language Models Better", §4): for each document,
    // what fraction of its distinct word-3-gram shingles also appear in at
    // least one OTHER document. Exact dedup (q20) sees identical docs and
    // MinHash (q25) sees high-Jaccard pairs; this measures partial overlap
    // mass per document — the boilerplate/quotation signal that decides
    // span-level (not doc-level) dedup budgets.
    //
    // Scale shape — NO shingle-keyed join back. Shingles are distinct
    // within a doc, so n_dup = n_shingles − (# of this doc's shingles with
    // df = 1); and a df = 1 shingle belongs to exactly ONE document, which
    // the frequency aggregation can carry for free as min(doc_id). That
    // turns the naive explode → count → join-back → re-group (two corpus-
    // shingle-sized exchanges plus a skew-prone hot-key join) into:
    // in-row size(sh) for n_shingles, ONE shingle-keyed groupBy
    // (map-side partial), ONE doc-keyed count over its df = 1 rows
    // (≤ one row per distinct shingle in, ≤ one per doc out), and a final
    // doc-keyed join of the corpus against that compact per-doc table.
    // Hot common shingles stop mattering entirely: they collapse in the
    // partial aggregation and never hit a join key. The fraction is
    // emitted integer-scaled (e6, bigint floor-div) to stay out of the
    // cross-engine double-rounding divergence class q23 documents.
    "q80_dup_shingle_frac" -> ((s, dir) => {
      val docs = Caches.persist(docShingles(s, dir))
      val uniqPerDoc = docs.selectExpr("doc_id", "explode(sh) AS shingle")
        .groupBy(col("shingle"))
        .agg(count(lit(1)).as("df"), min(col("doc_id")).as("owner"))
        .where(col("df") === 1)
        .groupBy(col("owner"))
        .agg(count(lit(1)).as("n_uniq"))
      docs.selectExpr("doc_id", "size(sh) AS n_shingles")
        .join(uniqPerDoc, col("doc_id") === col("owner"), "left")
        .selectExpr("doc_id", "cast(n_shingles AS bigint) AS n_shingles",
          "cast(n_shingles - coalesce(n_uniq, 0L) AS bigint) AS n_dup")
        .selectExpr("doc_id", "n_shingles", "n_dup",
          "(n_dup * 1000000L) div n_shingles AS dup_frac_e6")
        .orderBy(col("doc_id"))
    }),

    // CROSS-DOCUMENT DUPLICATED-CHUNK REMOVAL — the boilerplate scrub of
    // Lee et al. 2021 §3 / CCNet: segment every document into fixed
    // 8-token chunks, drop each chunk whose exact text occurs in >= 2
    // DISTINCT documents, and reassemble the survivors in order. q63
    // FLAGS contaminated docs and q80 MEASURES overlap mass; this is the
    // op that actually rewrites the corpus (so emptied docs must survive
    // as empty strings, not vanish — keep_reason for the mix gates).
    //
    // Scale shape: chunking is in-row (one posexplode of the corpus);
    // document frequency is ONE chunk-keyed groupBy (count distinct
    // doc_id — two-phase partial agg); the dup set is FILTERED to
    // df >= 2 before the anti-join, so the join's build side is only the
    // actual boilerplate chunks, not the corpus chunk set. A chunk can
    // repeat within one document (unlike q80's distinct shingles), so the
    // df=1 ownership trick does not apply — the anti-join is the honest
    // form, linear in corpus chunks, hot boilerplate keys handled by AQE
    // skew split. Reassembly sorts each doc's own surviving chunk list —
    // bounded per row, no window.
    //
    // Only FULL 8-token chunks participate in the dup set (Lee et al.
    // dedup fixed-length windows): a sub-8-token tail fragment — often a
    // single common word — duplicating across documents is noise, not
    // boilerplate, and tails are kept unconditionally. A tail can never
    // string-equal a full chunk (different token counts), so the
    // anti-join needs no length predicate.
    "q81_chunk_dedup" -> ((s, dir) => {
      val chunks = Caches.persist(
        t(s, dir, "documents")
          .selectExpr("doc_id", "split(text, ' ') AS tk")
          .selectExpr("doc_id",
            "transform(sequence(0, cast(ceil(size(tk) / 8.0) AS int) - 1), " +
              "i -> struct(cast(i AS bigint) AS pos, " +
              "array_join(slice(tk, i * 8 + 1, 8), ' ') AS chunk, " +
              "i * 8 + 8 <= size(tk) AS is_full)) AS cs")
          .selectExpr("doc_id", "inline(cs)"))
      val dup = chunks.where(col("is_full"))
        .groupBy(col("chunk"))
        .agg(countDistinct(col("doc_id")).as("df"))
        .where(col("df") >= 2)
        .select(col("chunk"))
      val kept = chunks.join(dup, Seq("chunk"), "left_anti")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_kept"),
          collect_list(struct(col("pos"), col("chunk"))).as("pcs"))
        .selectExpr("doc_id", "n_kept",
          "array_join(transform(array_sort(pcs), x -> x.chunk), ' ') AS kept_text")
      t(s, dir, "documents")
        .selectExpr("doc_id", "cast(ceil(size(split(text, ' ')) / 8.0) AS bigint) AS n_chunks")
        .join(kept, Seq("doc_id"), "left")
        .selectExpr("doc_id", "n_chunks",
          "cast(n_chunks - coalesce(n_kept, 0L) AS bigint) AS n_removed",
          "coalesce(kept_text, '') AS clean_text")
        .orderBy(col("doc_id"))
    }),

    // COMMON-CHUNK DIAGNOSTIC — the "find the boilerplate" pass that
    // precedes q81's removal: the 20 most widespread FULL 8-token chunks
    // by distinct-document frequency, with total occurrence counts
    // (tails excluded for the same reason q81 excludes them from its dup
    // set). Deterministic order (df desc, chunk asc); same chunking as
    // q81. The corpus collapses in ONE chunk-keyed aggregation; top-20
    // plans as TakeOrderedAndProject, never a global sort of the chunk
    // table.
    "q82_common_chunks" -> ((s, dir) => {
      t(s, dir, "documents")
        .selectExpr("doc_id", "split(text, ' ') AS tk")
        .selectExpr("doc_id",
          "explode(filter(transform(sequence(0, cast(ceil(size(tk) / 8.0) AS int) - 1), " +
            "i -> CASE WHEN i * 8 + 8 <= size(tk) " +
            "THEN array_join(slice(tk, i * 8 + 1, 8), ' ') END), " +
            "c -> c IS NOT NULL)) AS chunk")
        .groupBy(col("chunk"))
        .agg(countDistinct(col("doc_id")).as("df"),
          count(lit(1)).as("n_occurrences"))
        .where(col("df") >= 2)
        .orderBy(col("df").desc, col("chunk"))
        .limit(20)
    }),

    // ALIGNMENT-FREE DUPLICATED-SPAN SCRUB — the sliding-window form of
    // q81. Fixed 8-token chunking only catches boilerplate that happens
    // to land on chunk boundaries: the same 10-token banner pasted at
    // offset 3 in one doc and offset 5 in another never produces two
    // equal chunks, so q81 keeps both copies. Here EVERY 8-token window
    // (stride 1) is a candidate span — that is the practical
    // approximation of Lee et al. 2021's ExactSubstr suffix-array dedup
    // (any shared substring of >= k tokens contains a shared k-token
    // window, so sliding-window coverage == substring coverage at
    // granularity k) without a distributed suffix array. A token is
    // SCRUBBED when any cross-document duplicated span covers its
    // position; survivors reassemble in order.
    //
    // Scale shape: spans are in-row (one explode, |tokens| rows — 8x
    // q81's chunk count but the same linear class as the shingle ops);
    // span document-frequency is ONE gram-keyed groupBy; the dup set is
    // df >= 2-filtered BEFORE the coverage join, so only true boilerplate
    // spans fan out into (doc, position) coverage rows (bounded by 8x
    // their occurrence count); the distinct + anti-join are both
    // (doc_id, pos) equi-hash ops. Reassembly sorts each doc's own
    // surviving token list in-row — no corpus-global window. Scrubbing
    // every occurrence (not all-but-one) is deliberate: position-coverage
    // keeps the operator embarrassingly shuffle-parallel, and for
    // boilerplate (df >= 2 across docs) removing all copies is the
    // CCNet-style choice; docs scrubbed to nothing survive as '' (q81's
    // keep_reason contract).
    "q167_span_scrub" -> ((s, dir) => {
      val tk = Caches.persist(
        t(s, dir, "documents").selectExpr("doc_id", "split(text, ' ') AS tk"))
      val occ = Caches.persist(tk.selectExpr("doc_id",
          "explode(CASE WHEN size(tk) >= 8 THEN transform(sequence(1, size(tk) - 7), " +
            "i -> struct(cast(i AS bigint) AS pos, array_join(slice(tk, i, 8), ' ') AS gram)) " +
            "ELSE cast(array() AS array<struct<pos: bigint, gram: string>>) END) AS o")
        .selectExpr("doc_id", "o.pos AS pos", "o.gram AS gram"))
      val dup = occ.groupBy(col("gram"))
        .agg(countDistinct(col("doc_id")).as("df"))
        .where(col("df") >= 2)
        .select(col("gram"))
      val covered = occ.join(dup, Seq("gram"))
        .selectExpr("doc_id", "explode(sequence(pos, pos + 7)) AS pos")
        .distinct()
      val toksPos = tk.selectExpr("doc_id", "posexplode(tk) AS (p0, tok)")
        .selectExpr("doc_id", "cast(p0 + 1 AS bigint) AS pos", "tok")
      val kept = toksPos.join(covered, Seq("doc_id", "pos"), "left_anti")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_kept"),
          collect_list(struct(col("pos"), col("tok"))).as("pts"))
        .selectExpr("doc_id", "n_kept",
          "array_join(transform(array_sort(pts), x -> x.tok), ' ') AS clean_text")
      tk.selectExpr("doc_id", "cast(size(tk) AS bigint) AS n_tokens")
        .join(kept, Seq("doc_id"), "left")
        .selectExpr("doc_id", "n_tokens",
          "cast(n_tokens - coalesce(n_kept, 0L) AS bigint) AS n_scrubbed",
          "coalesce(clean_text, '') AS clean_text")
        .orderBy(col("doc_id"))
    }),

    // VOCABULARY COVERAGE — tokenizer-training prep: the global word
    // frequency table, truncated to the top V = 25 words (rank by count
    // desc, word asc — fully deterministic), each with its cumulative
    // share of ALL corpus tokens (integer-scaled e6). The corpus
    // collapses in ONE word-keyed groupBy (map-side partial: vocabulary
    // rows cross the wire, not tokens); top-V is TakeOrderedAndProject
    // (no global sort of the corpus); the rank/cumsum window runs AFTER
    // the limit, over exactly V rows — a bounded single-partition window,
    // not a corpus-global one. The token total is a 1-row broadcast.
    "q83_vocab_coverage" -> ((s, dir) => {
      val freq = Caches.persist(
        t(s, dir, "documents")
          .selectExpr("explode(split(text, ' ')) AS word")
          .groupBy(col("word")).agg(count(lit(1)).as("cnt")))
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
    }),

    // TF-IDF top terms per document — distinctive-term extraction, the
    // feature a quality/topic classifier trains on. idf is the LINEAR
    // form N/df (documented choice, not log): score = tf * (N/df) is two
    // correctly-rounded IEEE ops on exact integer inputs, so both engines
    // produce bit-identical doubles — a log-idf would hang the oracle on
    // libm's last-ulp differences. Scale shape: tf is ONE partial-
    // aggregated (doc, term) groupBy (the corpus' only exchange); the
    // vocabulary df table is BOUNDED (distinct terms), its ids come from
    // RangedRank (no single-task corpus window) and both df and the
    // term-string recovery JOIN BROADCAST; top-3-per-doc is the bounded
    // TopKPerKey aggregation. tf itself is not re-joined into the output
    // — score encodes it (tf = score * df / N), so the only corpus-wide
    // exchanges are the tf groupBy and the top-k partial.
    "q93_tfidf_terms" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val tf = Caches.persist(
        docs.selectExpr("doc_id", "explode(split(text, ' ')) AS term")
          .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf")))
      val vocab = tf.groupBy("term").agg(count(lit(1)).as("df"))
      val vocabIds = Caches.persist(
        graft.plans.RangedRank.rankBy(s, vocab, "term")
          .withColumnRenamed("rn", "term_id"))
      val n = docs.agg(count(lit(1)).cast("double").as("n_docs"))
      val scored = tf.join(broadcast(vocabIds), "term")
        .crossJoin(broadcast(n))
        .selectExpr("doc_id", "term_id", "tf * (n_docs / df) AS score")
      graft.plans.TopKPerKey.topK(scored, "doc_id", "score", "term_id", 3, "score")
        .join(broadcast(vocabIds.select(col("term_id"), col("term"), col("df"))),
          "term_id")
        .select(col("doc_id"), col("term"), col("df"), col("score"), col("rn"))
        .orderBy(col("doc_id"), col("rn"))
    }),

    // Label-centroid geometry — mean-pooled class centroids and their
    // pairwise cosines, the diagnostic behind "are my topic labels
    // separable in embedding space" (and the seed step of a semantic-
    // mixture balancer). Determinism across engines is engineered, not
    // hoped: each float is scaled to an integer (floor(x*1e6 + 0.5) —
    // exact in both engines), per-(label, position) sums are EXACT
    // integer aggregation (order-independent, the q72 trick), and the
    // cosine runs over those sums in fixed index order — since cosine is
    // scale-invariant, sum and mean give the same angle, so the count
    // division (a float op that would reorder rounding) never happens.
    // Scale shape: one posexplode scan + one partial-aggregated groupBy
    // keyed (label, pos) — output bounded at |labels| x dim — and the
    // pairwise stage is a |labels|^2 product of a broadcast-sized table.
    "q96_label_centroids" -> ((s, dir) => {
      graft.functions.CosineSimilarity.register(s)
      val cents = t(s, dir, "embeddings")
        .selectExpr("label",
          "transform(embedding, x -> cast(floor(cast(x AS double) * 1000000.0 + 0.5) AS bigint)) AS se")
        .select(col("label"), posexplode(col("se")).as(Seq("pos", "v")))
        .groupBy(col("label"), col("pos"))
        .agg(sum(col("v")).as("sv"))
        .groupBy(col("label"))
        .agg(array_sort(collect_list(struct(col("pos"), col("sv")))).as("ps"))
        .selectExpr("label", "transform(ps, p -> cast(p.sv AS double)) AS c")
      val a = cents.select(col("label").as("label_a"), col("c").as("ae"))
      val b = cents.select(col("label").as("label_b"), col("c").as("be"))
      a.crossJoin(broadcast(b)).where(col("label_a") < col("label_b"))
        .selectExpr("label_a", "label_b",
          "round(cosine_similarity(ae, be), 4) AS cos")
        .orderBy(col("label_a"), col("label_b"))
    }),

    // Cross-corpus FUZZY decontamination — q63 flags exact shingle
    // overlap with the benchmark slice; real eval leakage is usually a
    // lightly-edited copy that exact overlap underestimates. This is the
    // MinHash-LSH candidate join in its TWO-CORPUS form: train-side band
    // keys probe the EVAL side's bands, so unlike q25's self-join the
    // corpus never joins itself — the eval band table is bounded (eval
    // sets are small by construction) and BROADCASTS, making candidate
    // generation a map-side probe over the train scan. Candidates verify
    // with exact shingle Jaccard (same rounded-before-threshold contract
    // as q25), and each contaminated train doc reports its single best
    // eval match through the bounded k=1 TopKPerKey aggregation (ties:
    // min eval_id) — the drop list a decontamination pass executes.
    "q97_cross_decontam" -> ((s, dir) => {
      val all = Caches.persist(docShingles(s, dir))
      val bandsAll = Caches.persist(minhashBands(all))
      val trainBands = bandsAll.filter(col("doc_id") % 20 =!= 0)
        .withColumnRenamed("doc_id", "train_id")
      val evalBands = bandsAll.filter(col("doc_id") % 20 === 0)
        .withColumnRenamed("doc_id", "eval_id")
      val cand = trainBands
        .join(broadcast(evalBands), Seq("b", "k0", "k1", "k2"))
        .select(col("train_id"), col("eval_id")).distinct()
      val hits = jaccardOf(cand, all, all, "train_id", "eval_id")
        .filter(col("jaccard") >= 0.5)
      graft.plans.TopKPerKey.topK(hits, "train_id", "jaccard", "eval_id", 1, "jaccard")
        .select(col("train_id"), col("eval_id"), col("jaccard"))
        .orderBy(col("train_id"))
    }),

    // Deterministic stratified document sample — per-language keep
    // fractions (down-sample the dominant language, keep the rest whole),
    // decided by the SAME md5 bucket mechanism as the q65 splits: a doc
    // is kept iff its hash bucket falls under its language's e4 fraction.
    // Pure scan + in-row predicate — no join, no aggregation, no shuffle
    // besides the presentation sort (plan-pinned) — and re-running on a
    // grown corpus keeps every previously-kept doc (hash-stable), the
    // property that makes incremental pipeline re-runs reproducible.
    "q98_stratified_sample" -> ((s, dir) => {
      t(s, dir, "documents")
        .selectExpr("doc_id", "lang",
          "cast(conv(substring(md5(cast(doc_id AS string)), 1, 8), 16, 10) AS bigint) % 10000 AS bucket")
        .where("bucket < CASE WHEN lang = 'en' THEN 2500 ELSE 7500 END")
        .orderBy(col("doc_id"))
    }),

    // BM25 retrieval (k1=1.2, b=0.75) for a FIXED query — the ranked
    // lexical search a corpus-exploration / eval-retrieval pass runs.
    // For a fixed small term set no inverted index is needed: per-term
    // tf and doc length are IN-ROW expressions over one corpus scan, the
    // corpus-level stats (N, Σdl, per-term df) are ONE single-row
    // aggregate broadcast back, and the answer is a global top-10
    // (TakeOrderedAndProject — per-partition heaps, no full sort). So:
    // two scans, zero corpus shuffles, no explode — where a naive
    // BM25 materializes the full (doc, term) posting table. The score is
    // EXACT e4 integer arithmetic end-to-end (linear N/df idf, same
    // documented choice as q93; k1 enters as 12/10, b as 2500/7500 e4)
    // — per-term contributions are integers, so the cross-term sum is
    // order-independent and the oracle hashes bit-identically.
    "q99_bm25_search" -> ((s, dir) => {
      val terms = Seq("spark", "merge", "window")
      val base = t(s, dir, "documents").selectExpr(
        Seq("doc_id", "cast(size(split(text, ' ')) AS bigint) AS dl") ++
          terms.zipWithIndex.map { case (tm, i) =>
            s"cast(size(filter(split(text, ' '), x -> x = '$tm')) AS bigint) AS tf$i"
          }: _*)
      val statCols = Seq(count(lit(1)).as("n"), sum(col("dl")).as("sum_dl")) ++
        terms.indices.map(i =>
          sum(when(col(s"tf$i") > 0, 1L).otherwise(0L)).as(s"df$i"))
      val stats = base.agg(statCols.head, statCols.tail: _*)
      base.crossJoin(broadcast(stats))
        .withColumn("norm_e4",
          expr("2500 + (7500 * dl * 10000) div (sum_dl * 10000 div n)"))
        .withColumn("score_e4", expr(terms.indices.map(i =>
          s"(CASE WHEN tf$i > 0 THEN (tf$i * 22000 * n * 10000) div " +
            s"((tf$i * 10000 + (12 * norm_e4) div 10) * df$i) ELSE 0 END)")
          .mkString(" + ")))
        .where(col("score_e4") > 0)
        .select(col("doc_id"), col("dl"), col("score_e4"))
        .orderBy(col("score_e4").desc, col("doc_id")).limit(10)
    }),

    // Asymmetric shingle CONTAINMENT — the dedup signal Jaccard misses:
    // a short doc quoted wholesale inside a much longer one scores high
    // |A∩B|/|A| but low Jaccard, so q25's near-dup pass never sees it.
    // Candidate generation is a df-capped inverted index (the prefix-
    // filtering idea): only shingles with 2 <= df <= 20 block, so
    // boilerplate shingles (high df) never explode the self-join and
    // unique shingles (df=1) generate nothing — per-shingle fanout is
    // bounded by df^2 <= 400 regardless of corpus size, and the df cap
    // is what keeps this O(n) at 100 TB. Verification computes the exact
    // containment over the FULL shingle sets of each candidate pair
    // (both directions kept — containment is directional), rounded
    // before the 0.8 threshold, q25's same tie-safety contract.
    "q102_containment" -> ((s, dir) =>
      containmentOf(docShingles(s, dir)).orderBy(col("a"), col("b"))),

    // Overlapping sliding-window chunking — the RAG/pretraining layout
    // where consecutive 2048-token chunks share a 1024-token overlap so
    // no span is ever split without context. Window = 2 x stride exactly,
    // so the chunks covering global token position p are p div 1024 and
    // p div 1024 - 1 — strictly non-negative arithmetic (no negative
    // div/floor divergence). Per doc: global offset from the SAME
    // RangedPrefixSum as q64 (range-partitioned running sum, no global
    // window), then one bounded explode (n/stride + 2 chunk rows per
    // doc) and one chunk-keyed groupBy — the corpus' only exchanges are
    // the prefix-sum range partition and that groupBy, both key-
    // partitioned at any scale.
    "q103_overlap_chunks" -> ((s, dir) => {
      graft.functions.BpeEncode.register(s)
      val stride = 1024
      val toksPerDoc = t(s, dir, "documents")
        .selectExpr("doc_id",
          "cast(size(bpe_encode(coalesce(text, ''))) AS bigint) AS n_tokens")
      graft.plans.RangedPrefixSum.prefixSumBy(s, toksPerDoc, "n_tokens", "fin", "doc_id")
        .where(col("n_tokens") > 0)
        .selectExpr("doc_id", "n_tokens", "fin - n_tokens AS so")
        .selectExpr("doc_id", "n_tokens", "so",
          s"explode(sequence(greatest(cast(0 AS bigint), so div $stride - 1)," +
            s" (so + n_tokens - 1) div $stride)) AS chunk_id")
        .selectExpr("doc_id", "chunk_id",
          s"least(so + n_tokens, (chunk_id + 2) * $stride)" +
            s" - greatest(so, chunk_id * $stride) AS overlap_tokens")
        .groupBy(col("chunk_id"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("overlap_tokens")).as("chunk_tokens"),
          min(col("doc_id")).as("first_doc"),
          max(col("doc_id")).as("last_doc"))
        .orderBy(col("chunk_id"))
    }),

    // SPARSE all-pairs cosine similarity (APSS, the Bayardo et al. 2007
    // problem) over shingle-level tf-idf vectors — the lexical
    // similarity search that complements the dense-embedding q28/q29:
    // pairs scoring high here share distinctive VOCABULARY even when no
    // embedding exists. Weights are binary-tf x integer idf (idf_e4 =
    // min(N·1e4 div df, 1e6) — the cap is the standard rare-term damper
    // AND what keeps w² sums inside int64 at any N). Candidate
    // generation reuses q102's df-capped inverted index (2 ≤ df ≤ 20
    // blocks; per-shingle fanout ≤ df² ≤ 400 — never O(n²)); the exact
    // dot product then runs pair-driven over the FULL weight vectors of
    // candidates only (two candidate-bounded joins keyed (doc, shingle)),
    // and norms are one per-doc aggregation. All integer sums, one
    // sqrt/divide at the end, rounded before the threshold — hash-
    // identical cross-engine.
    "q109_sparse_cosine" -> ((s, dir) =>
      sparseCosineOf(docShingles(s, dir),
        t(s, dir, "documents").agg(count(lit(1)).as("n")))
        .orderBy(col("a"), col("b"))),

    // NEAREST-CENTROID CLASSIFICATION + confusion matrix — q96 asks "are
    // the label centroids separable"; this asks the operational question
    // "how often does nearest-centroid assignment get the label right,
    // and which labels confuse". Centroids are INTEGER-MEAN vectors
    // (per-position scaled sums floor-div the label count — floor via
    // exact double division, identical on both engines, and the mean
    // keeps every Σcm² inside int64 at any corpus size where Σcv² would
    // overflow); vec×centroid dots are exact integer sums, one
    // sqrt/divide at the end (the q109 finalization), argmax by
    // (cosine desc, label) rank. Scale shape: one posexplode pass, a
    // |labels|×dim centroid table BROADCAST into the dot join, and the
    // per-vec rank window partitioned by vec_id.
    "q127_centroid_classify" -> ((s, dir) => {
      val se = Caches.persist(t(s, dir, "embeddings")
        .selectExpr("vec_id", "label",
          "transform(embedding, x -> cast(floor(cast(x AS double) * 1000000.0 + 0.5)" +
            " AS bigint)) AS se"))
      val px = Caches.persist(se
        .select(col("vec_id"), col("label"), posexplode(col("se")).as(Seq("pos", "v"))))
      val nl = se.groupBy(col("label")).agg(count(lit(1)).as("n"))
      val cm = Caches.persist(px.groupBy(col("label"), col("pos"))
        .agg(sum(col("v")).as("cv"))
        .join(broadcast(nl), "label")
        .selectExpr("label AS c_label", "pos",
          "cast(floor(cast(cv AS double) / n) AS bigint) AS cm"))
      val cn = cm.groupBy(col("c_label")).agg(sum(expr("cm * cm")).as("cn"))
      val vn = px.groupBy(col("vec_id")).agg(sum(expr("v * v")).as("vn"))
      val sc = px.select(col("vec_id"), col("pos"), col("v"))
        .join(broadcast(cm), Seq("pos"))
        .groupBy(col("vec_id"), col("c_label"))
        .agg(sum(expr("v * cm")).as("dot"))
        .join(vn, "vec_id")
        .join(broadcast(cn), "c_label")
        .selectExpr("vec_id", "c_label",
          "round(cast(dot AS double) / (sqrt(cast(vn AS double))" +
            " * sqrt(cast(cn AS double))), 4) AS cos")
      val w = Window.partitionBy(col("vec_id"))
        .orderBy(col("cos").desc, col("c_label"))
      sc.withColumn("rn", row_number().over(w)).where(col("rn") === 1)
        .join(se.select(col("vec_id"), col("label").as("true_label")), "vec_id")
        .groupBy(col("true_label"), col("c_label").as("pred_label"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("true_label"), col("pred_label"))
    }),

    // WINNOWING-based fuzzy decontamination — the third decontamination
    // modality: q63 flags exact n-gram overlap with a benchmark and q97
    // MinHash-bands cross-corpus near-dups; winnowing fingerprints
    // (Schleimer et al. 2003, the MOSS algorithm) catch verbatim SPANS
    // inside otherwise-different documents — the "benchmark question
    // pasted into a web page" contamination shape, robust to surrounding
    // edits because the min-in-window selection is position-local. The
    // benchmark slice is doc_id % 97 = 0; corpus docs with doc_id % 97 =
    // 1 are PLANTED as copies of their bench neighbor (the q84 device) so
    // all three verdict paths are exercised cross-engine at every SF.
    // Scale: fingerprints are df-banded (2..20) before the inverted join
    // — boilerplate 8-gram hashes never fan out (the q102/q109 rule) —
    // and the join is bench-driven (1/97 of the corpus).
    "q114_winnow_decontam" -> ((s, dir) => {
      graft.functions.WinnowFingerprints.register(s)
      val base = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val src = base
        .join(base.selectExpr("doc_id + 1 AS p_id", "text AS p_text"),
          col("p_id") === col("doc_id") && col("doc_id") % 97 === 1, "left")
        .selectExpr("doc_id",
          "CASE WHEN doc_id % 97 = 1 AND p_text IS NOT NULL THEN p_text" +
            " ELSE text END AS text")
      val ex = Caches.persist(src
        .selectExpr("doc_id", "lower(regexp_replace(text, '[^a-z0-9]', '')) AS tx")
        .where("length(tx) >= 11")
        .selectExpr("doc_id",
          "explode(array_distinct(winnow_fingerprints(tx, 8, 4))) AS fp"))
      val band = ex.groupBy(col("fp")).agg(count(lit(1)).as("df"))
        .where(col("df").between(2, 20)).select(col("fp"))
      val exB = Caches.persist(ex.join(band, "fp"))
      val bench = exB.where("doc_id % 97 = 0")
        .selectExpr("doc_id AS bench_id", "fp")
      exB.where("doc_id % 97 != 0")
        .join(bench, "fp")
        .groupBy(col("doc_id"))
        .agg(countDistinct(col("fp")).as("n_shared_fp"),
          min(col("bench_id")).as("bench_match"))
        .where(col("n_shared_fp") >= 2)
        .orderBy(col("doc_id"))
    }),

    // 2-D SKYLINE (Pareto frontier) of quality vs length: keep a doc iff
    // its quality STRICTLY beats every strictly-shorter doc's — "is this
    // document better than anything cheaper" is the curation question
    // behind per-budget selection. The textbook skyline is O(n²)
    // domination tests or a global sort; the scale-right decomposition
    // here is (1) collapse the corpus to one (length → max quality) row
    // per DISTINCT length — a partial-aggregated groupBy whose output is
    // bounded by the length domain, not the corpus — then (2) a running
    // max over that BOUNDED table (single-task window over hundreds of
    // rows, by construction not a corpus window), broadcast back for an
    // in-row keep test. The corpus is scanned once and shuffled only by
    // the bounded groupBy.
    "q110_skyline" -> ((s, dir) => {
      val q = Caches.persist(docQuality(s, dir)
        .select(col("doc_id"), col("n_tokens"), col("quality_e4")))
      val perLen = q.groupBy(col("n_tokens")).agg(max(col("quality_e4")).as("len_max"))
      val wl = Window.orderBy(col("n_tokens"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val frontier = perLen.withColumn("shorter_max",
        coalesce(max(col("len_max")).over(wl), lit(-1L)))
      q.join(broadcast(frontier.select(col("n_tokens"), col("shorter_max"))),
          Seq("n_tokens"))
        .where(col("quality_e4") > col("shorter_max"))
        .select(col("doc_id"), col("n_tokens"), col("quality_e4"))
        .orderBy(col("n_tokens"), col("doc_id"))
    }),

    // Per-language QUANTILE NORMALIZATION of the quality score — raw
    // quality distributions differ by language, so a single global
    // threshold over- or under-prunes some languages; decile ranks within
    // language are the comparable currency. ntile runs in a language-
    // PARTITIONED window (key-partitioned state, no global sort) with a
    // fully deterministic order (quality, doc_id); the output is the
    // bounded |lang| × 10 decile table whose counts and boundaries pin
    // the entire assignment.
    "q111_quantile_norm" -> ((s, dir) => {
      val w = Window.partitionBy(col("lang"))
        .orderBy(col("quality_e4"), col("doc_id"))
      docQuality(s, dir, withLang = true)
        .select(col("lang"), col("doc_id"), col("quality_e4"))
        .withColumn("decile", ntile(10).over(w).cast("long"))
        .groupBy(col("lang"), col("decile"))
        .agg(count(lit(1)).as("n_docs"),
          min(col("quality_e4")).as("min_q"),
          max(col("quality_e4")).as("max_q"),
          sum(col("quality_e4")).as("sum_q"))
        .orderBy(col("lang"), col("decile"))
    }),

    // Winnowing document fingerprints: character 8-gram Rabin-Karp
    // rolling hashes (Horner, mod 1e9+7 — pure integer math, identical in
    // both engines), then min-in-window-of-4 selection — fused into the
    // native codegen'd winnow_fingerprints expression (the HOF form paid
    // one interpreted substring per character per position: 22 s -> sub-
    // second at sf0.1). Filter on length(t) (= enough hashes for one
    // window) so pushdown stays cheap.
    "q51_rolling_fingerprint" -> ((s, dir) => {
      graft.functions.WinnowFingerprints.register(s)
      t(s, dir, "documents")
        .selectExpr("doc_id", "lower(regexp_replace(text, '[^a-z0-9]', '')) AS t")
        .where("length(t) >= 11")
        .selectExpr("doc_id", "winnow_fingerprints(t, 8, 4) AS wins")
        .selectExpr("doc_id",
          "size(array_distinct(wins)) AS n_fingerprints",
          "array_min(wins) AS min_fp")
        .orderBy(col("doc_id"))
    }),

    // Custom Generator (UDTF): shingle_gen emits word-3-gram rows
    // directly from GenerateExec — no intermediate array materialization.
    // Distinct-shingle stats per source.
    "q50_shingle_gen" -> ((s, dir) => {
      graft.functions.ShingleGenerator.register(s)
      t(s, dir, "documents")
        .selectExpr("source", "shingle_gen(text, 3)")
        .groupBy(col("source"))
        .agg(countDistinct(col("shingle")).as("n_distinct_shingles"),
          count(lit(1)).as("n_shingles"))
        .orderBy(col("source"))
    }),

    // SimHash document fingerprints (32-bit, token-level).
    "q26_simhash" -> ((s, dir) => {
      docSimhash(s, dir).select(col("doc_id"), col("simhash")).orderBy(col("doc_id"))
    }),

    // N-gram Jaccard via sorted-neighborhood blocking: order by simhash,
    // compare each doc to its next 2 neighbors. O(n) pairs. The global
    // rank is range-partitioned (rankBy) — no single-task sort — and
    // cross-partition adjacency needs no special casing because the rank
    // is globally dense and the pairing joins the full ranked table.
    // The neighbor pairing is an equi-join on shifted rank — a non-equi
    // `y.rn - x.rn IN (1,2)` condition would plan as an O(n^2)
    // nested-loop join.
    "q27_ngram_jaccard" -> ((s, dir) => {
      // probe side plus two shifted build sides
      val ranked = Caches.persist(rankBy(s, docSimhash(s, dir), "simhash", "doc_id"))
      val shifted = ranked.select(col("doc_id").as("b_id"), (col("rn") - 1).as("rn"))
        .union(ranked.select(col("doc_id").as("b_id"), (col("rn") - 2).as("rn")))
      val pairs = ranked.join(shifted, Seq("rn"))
        .select(col("doc_id").as("a_id"), col("b_id"))
      val docs = Caches.persist(docShingles(s, dir))
      graft.functions.SetCounts.register(s)
      pairs
        .join(docs.as("da"), col("a_id") === col("da.doc_id"))
        .join(docs.as("db"), col("b_id") === col("db.doc_id"))
        .select(col("a_id"), col("b_id"),
          // count-only set kernels: same quotient as size(array_intersect)/
          // size(array_union) without materializing either array per pair
          round(expr("cast(intersect_count(da.sh, db.sh) AS double)" +
            " / union_count(da.sh, db.sh)"), 4).as("jaccard"))
        .orderBy(col("a_id"), col("b_id"))
    }),

    // SimHash near-dup candidates: adjacent docs in simhash order whose
    // fingerprints differ in <= 12 of 32 bits. Exercises the native
    // codegen'd HammingDistance expression (graft.functions) inside
    // whole-stage codegen — no UDF in the loop.
    "q32_simhash_hamming" -> ((s, dir) =>
      simhashHammingPairs(s, dir).orderBy(col("a_id"), col("b_id"))),

    // Similarity search baseline: brute-force cosine top-10 for the 5
    // probe vectors. One broadcast of 5 rows against a single scan; the
    // ranking is a bounded top-k AGGREGATION (TopKPerKey), not a window —
    // map-side partials keep <= k candidates per (partition, probe), so
    // the exchange never funnels the full scored set into 5 sort tasks.
    "q28_cosine_topk" -> ((s, dir) => {
      graft.functions.CosineSimilarity.register(s)
      val emb = embDoubles(s, dir)
      val probes = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("e").as("ae"))
      val scored = broadcast(probes).join(emb.select(col("vec_id"), col("e").as("be")),
          expr("vec_id != q_id"))
        .selectExpr("q_id", "vec_id AS neighbor_id", s"$cosineExpr AS cos")
      graft.plans.TopKPerKey.topK(scored, "q_id", "cos", "neighbor_id", 10, "cosine")
        .orderBy(col("q_id"), col("rn"))
    }),

    // Embedding near-dup: sign-bit blocking (8 buckets from the leading 3
    // dims) then exact cosine >= 0.3 inside each bucket. The bucket join is
    // the scale path — pairs only form within a bucket.
    "q29_cosine_neardup" -> ((s, dir) =>
      cosineNearDupPairs(s, dir)
        .select(col("a_id"), col("b_id"), round(col("cos"), 4).as("cosine"))
        .orderBy(col("a_id"), col("b_id"))),

    // EMBEDDING-space dedup decisions — the q66 story for the q29 pair
    // set: transitive closure over the cosine near-dup pairs labels every
    // vector with its component's min vec_id and canonical flag, so
    // semantic dedup (same content, different words — invisible to every
    // n-gram method) ends in a drop list too, not just pairs. Same
    // [[graft.plans.ConnectedComponents]] iteration, same recursive-CTE
    // oracle shape as q66, fully hash-checked.
    "q67_embed_dedup_clusters" -> ((s, dir) => {
      graft.plans.ConnectedComponents.ensureReliableCheckpointDir(s)
      val pairs = cosineNearDupPairs(s, dir)
      val cc = graft.plans.ConnectedComponents.components(
        pairs.select(col("a_id").as("u"), col("b_id").as("v")))
      t(s, dir, "embeddings").select(col("vec_id"))
        .join(cc.withColumnRenamed("node", "vec_id"), Seq("vec_id"), "left")
        .selectExpr("vec_id", "coalesce(cluster, vec_id) AS cluster_id",
          "cast(coalesce(cluster, vec_id) = vec_id AS int) AS is_canonical")
        .orderBy(col("vec_id"))
    }),

    // ANN with FIXED integer hyperplanes — the end-to-end ORACLED variant
    // of AnnLsh: same bucket-then-rank shape (sign-LSH candidate prune,
    // bucket-equality join, bounded top-k), but the four hyperplanes are
    // small-integer literals instead of seeded gaussians, so bucketing and
    // ranking are exactly expressible in cross-engine SQL and the DuckDB
    // oracle hash-checks the whole pipeline (AnnLsh/AnnIvf stay rows-only
    // because their planes/centroids are engine-seeded).
    "q54_ann_fixed" -> ((s, dir) => {
      graft.functions.CosineSimilarity.register(s)
      val emb = embDoubles(s, dir).selectExpr("vec_id", "e", s"$fixedBucket AS b54")
      val probes = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("e").as("ae"), col("b54"))
      val cands = broadcast(probes)
        .join(emb.select(col("vec_id"), col("e").as("be"), col("b54")), Seq("b54"))
        .filter(col("vec_id") =!= col("q_id"))
        .selectExpr("q_id", "vec_id AS neighbor_id", s"$cosineExpr AS cos")
      graft.plans.TopKPerKey.topK(cands, "q_id", "cos", "neighbor_id", 10, "cosine")
        .orderBy(col("q_id"), col("rn"))
    }),

    // Benchmark-CONTAMINATION check (decontamination): docs with
    // doc_id < 25 stand in for an eval benchmark; every other document is
    // scored by the fraction of its distinct 3-token shingles that appear
    // anywhere in the benchmark — the standard n-gram-overlap test a
    // training-data pipeline runs before a corpus ships. Scale shape: the
    // benchmark shingle set is DISTINCT then BROADCAST (benchmarks are
    // tiny next to a 100 TB corpus), the corpus pays one shingle explode
    // and a map-side broadcast left join (corpus rows never shuffle for
    // the membership test), and the per-doc ratio is a single groupBy on
    // doc_id with map-side partial counts.
    "q63_contamination" -> ((s, dir) => {
      val docs = Caches.persist(docShingles(s, dir))
      val bench = docs.filter(col("doc_id") < 25)
        .select(explode(col("sh")).as("sgl")).distinct()
        .withColumn("hit", lit(1))
      docs.filter(col("doc_id") >= 25)
        .select(col("doc_id"), explode(col("sh")).as("sgl"))
        .join(broadcast(bench), Seq("sgl"), "left")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_shingles"),
          sum(coalesce(col("hit"), lit(0))).as("n_hits"))
        .select(col("doc_id"), col("n_shingles"), col("n_hits"),
          round(col("n_hits").cast("double") / col("n_shingles"), 4)
            .as("contamination"))
        .orderBy(col("doc_id"))
    }),

    // CONCAT-AND-CHUNK packing layout — the standard pretraining data
    // prep: documents are tokenized, concatenated in doc_id order, and
    // cut into fixed 2048-token windows; each doc's global token offset
    // determines which chunks it lands in. Token counts are TRUE BPE
    // subword counts (bpe_encode — packing against whitespace counts
    // misbudgets every window once subword tokenization is real). The
    // global running sum is [[graft.plans.RangedPrefixSum]] —
    // range-partition + local cumsum + bounded per-partition offset
    // collect — NOT an unpartitioned window (which funnels the whole
    // corpus through one task; at 100 TB the offset pass must stay
    // embarrassingly parallel). Fully oracled against DuckDB's
    // window-function form over the same recursive-CTE BPE counts.
    "q64_concat_chunks" -> ((s, dir) => {
      graft.functions.BpeEncode.register(s)
      val window = 2048
      // coalesce(text, ''): NULL text = 0 tokens, same as the oracle's
      // LEFT JOIN + coalesce — see q48's note.
      val toksPerDoc = t(s, dir, "documents")
        .selectExpr("doc_id",
          "cast(size(bpe_encode(coalesce(text, ''))) AS bigint) AS n_tokens")
      // n_tokens = 0 guard (a doc with no pre-tokens — e.g. all spaces —
      // genuinely encodes to zero BPE tokens): an empty doc spans NO
      // chunks, and the unguarded (fin - 1) with fin = 0 would also
      // diverge between Spark's `div` (truncates toward zero) and
      // DuckDB's `//` (floors) on the negative numerator.
      graft.plans.RangedPrefixSum.prefixSumBy(s, toksPerDoc, "n_tokens", "fin", "doc_id")
        .selectExpr("doc_id", "n_tokens",
          "fin - n_tokens AS start_offset",
          s"(fin - n_tokens) div $window AS chunk_first",
          "CASE WHEN n_tokens = 0 THEN cast(0 AS bigint) ELSE " +
            s"(fin - 1) div $window - (fin - n_tokens) div $window + 1 END AS n_chunks")
        .orderBy(col("doc_id"))
    }),

    // Deterministic train/val/test SPLIT ASSIGNMENT — the reproducibility
    // primitive every training-data pipeline needs: each doc hashes to a
    // bucket in [0, 100) via md5 of its id (engine-portable, seed-free,
    // stable under corpus growth — a doc keeps its split when new docs
    // arrive, unlike any rand()/sample() scheme), 90/5/5 train/val/test.
    // Pure map over the corpus: no shuffle, no state, embarrassingly
    // parallel at 100 TB; the summary groupBy carries 3 rows.
    "q65_split_assign" -> ((s, dir) => {
      t(s, dir, "documents")
        .selectExpr("doc_id",
          "cast(conv(substring(md5(cast(doc_id AS string)), 1, 8), 16, 10) AS bigint)" +
            " % 100 AS bucket")
        .selectExpr("doc_id", "bucket",
          "CASE WHEN bucket < 90 THEN 'train' WHEN bucket < 95 THEN 'val'" +
            " ELSE 'test' END AS split")
        .orderBy(col("doc_id"))
    }),

    // Int8-QUANTIZED similarity search: QuantizeVec maps each vector to a
    // TRUE array<tinyint> (symmetric per-vector scale) and the ranking
    // runs CosineSimilarityI8 directly on the bytes — cosine is
    // scale-invariant, so the per-vector scales cancel and no
    // dequantization ever happens. At 100 TB this is the IO story for
    // similarity search: one byte per element through every shuffle and
    // join build side (8x narrower than the double arrays, 4x than
    // float32), for a ranking-quality trade that is MEASURED, not guessed
    // (ModulesSpec: quantized-vs-exact recall@10). Deterministic end to
    // end (floor + greatest, integer sums exact in both engines), so
    // unlike the seeded-plane ANN queries this one is fully DuckDB-oracled.
    "q61_quantized_topk" -> ((s, dir) => {
      graft.functions.QuantizeVec.register(s)
      graft.functions.CosineSimilarityI8.register(s)
      val emb = embDoubles(s, dir).selectExpr("vec_id", "quantize_vec(e) AS qe")
      val probes = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("qe").as("ae"))
      val scored = broadcast(probes).join(emb.select(col("vec_id"), col("qe").as("be")),
          expr("vec_id != q_id"))
        .selectExpr("q_id", "vec_id AS neighbor_id", "cosine_similarity_i8(ae, be) AS cos")
      graft.plans.TopKPerKey.topK(scored, "q_id", "cos", "neighbor_id", 10, "cosine")
        .orderBy(col("q_id"), col("rn"))
    }),
  )

  /** MinHash-LSH near-duplicate pairs (a_id < b_id, exact shingle Jaccard
    * >= 0.5) — the shared pair set behind q25 (the pairs themselves) and
    * q66 (their transitive closure into dedup clusters).
    *
    * Signature via explode + 12 min-aggregations. The aggregate is a
    * deliberate optimization barrier: a pure projection chain here gets
    * CollapseProject'ed, inlining the shingle+md5 pipeline into every
    * one of the 12 signature / 4 band reference sites (~144x
    * re-evaluation — measured 105 s at sf0.01 vs ~2 s this way).
    * Each shingle pays ONE md5 and two hex->int conversions; the 12
    * hash functions are Kirsch-Mitzenmacher double hashing
    * (h_j = h1 + j*h2 mod 2^32) — integer math both engines compute
    * identically, and the signatures shuffle as bigints with map-side
    * partial min. Band key = the raw 3-minhash tuple — no re-hashing
    * needed; the candidate self-join is hash-partitioned on
    * (band index, k0, k1, k2), never an all-pairs product. */
  /** MinHash signature bands (12 hashes = 4 bands × 3 rows; h_j =
    * (h1 + j·h2) mod 2³², minima over the doc's shingle md5s) for a
    * (doc_id, sh) DataFrame. Shared by the near-dup self-join and the
    * incremental-dedup index, which persists exactly these band keys.
    *
    * Computed IN-ROW (array HOFs over the shingle array) rather than
    * explode + groupBy(doc_id): the minima never need to cross rows, so
    * the aggregation form pays a corpus-wide exchange — partial-combined
    * to ~one row per doc per partition, but still a full shuffle stage —
    * to compute what every row holds locally. Identical values by
    * construction (same per-shingle (h1 + j·h2) mod 2³² minima; the
    * streaming judge q91 runs this exact form and is spec-pinned
    * bit-equal to the store built from it). The per-row signature is the
    * native codegen'd [[graft.functions.MinhashSignature]] — one md5 per
    * shingle, 12 running minima in registers, one compiled loop — rather
    * than the interpreted 13-pass HOF chain (MinhashSigSpec pins the two
    * forms equal on the real corpus). */
  private[queries] def minhashBands(docs: DataFrame): DataFrame = {
    graft.functions.MinhashSignature.register(docs.sparkSession)
    val bandArr = (0 until 4).map(b =>
      s"struct($b AS b, ms[${3 * b}] AS k0, ms[${3 * b + 1}] AS k1, ms[${3 * b + 2}] AS k2)")
      .mkString("array(", ", ", ")")
    docs.selectExpr("doc_id", "minhash_sig(sh) AS ms")
      .selectExpr("doc_id", s"explode($bandArr) AS band")
      .selectExpr("doc_id", "band.b AS b",
        "band.k0 AS k0", "band.k1 AS k1", "band.k2 AS k2")
  }

  /** Same double-alias jaccard as the DuckDB oracle: the candidate pair
    * set joined back to both sides' shingle arrays, rounded to 4 places
    * BEFORE thresholding so both engines cut on the same digits. */
  private[queries] def jaccardOf(cand: DataFrame, left: DataFrame, right: DataFrame,
      leftId: String, rightId: String): DataFrame = {
    // count-only set kernels (graft.functions.SetCounts): bit-identical
    // quotient to size(array_intersect)/size(array_union), no per-pair
    // intersection/union array materialized just to read its length
    graft.functions.SetCounts.register(cand.sparkSession)
    cand
      .join(left.as("da"), col(leftId) === col("da.doc_id"))
      .join(right.as("db"), col(rightId) === col("db.doc_id"))
      .select(col(leftId), col(rightId),
        round(expr("cast(intersect_count(da.sh, db.sh) AS double)" +
          " / union_count(da.sh, db.sh)"), 4).as("jaccard"))
  }

  /** Directional shingle-containment pairs over a (doc_id, sh) table —
    * the q102 core, parameterized so specs can drive handcrafted corpora.
    * Candidates block on shingles with df in [dfMin, dfMax] (df-capped
    * inverted index: boilerplate never fans out, unique shingles generate
    * nothing); each ordered candidate pair verifies exact
    * |Sa ∩ Sb| / |Sa| over the full sets, rounded before the threshold. */
  /** q109's APSS core over an arbitrary (doc_id, sh) table. `nDocs` is a
    * 1-row (n BIGINT) frame (kept as a frame, not a collected long, so
    * the corpus count never becomes a driver action here).
    *
    * `minShared` is the MIN-OVERLAP candidate rule (record-linkage
    * blocking's standard second stage): a pair is verified only when it
    * shares at least `minShared` df-banded shingles. On corpora whose
    * vocabulary is small relative to size, single-shingle collisions
    * alone approach all-pairs (measured at sf0.1: 1.12M of 12.5M possible
    * pairs collide on ≥1 banded shingle, but only 10k on ≥3 — and the
    * cosine-0.5 survivors share dozens), so the overlap count is what
    * keeps verification candidate-bounded. The rule is part of the
    * operator's candidate CONTRACT (the oracle applies it identically);
    * its recall loss is confined to pairs with ≤ 2 distinctive shingles
    * in common — below any plausible 0.5-cosine for documents with ≥ 5
    * tokens. */
  def sparseCosineOf(shDocs: DataFrame, nDocs: DataFrame, dfMin: Long = 2,
      dfMax: Long = 20, threshold: Double = 0.5, minShared: Long = 3): DataFrame = {
    // respread (the planned-scan-tasks guard): the one-row-group testdata
    // scan gives the persisted shingle frame ONE partition, and the
    // candidate self-join + pair-verify stages — this operator's CPU —
    // inherit that single-task parallelism from the cache (TUNE_r22.txt:
    // a 2.1 s one-task job in a 3.9 s q102 lap). Guard-false at
    // cluster scale, so no shuffle is paid there. Applied HERE and not
    // in docShingles: the light shingle consumers (q63/q80) measured
    // the shuffle as pure overhead (+0.3-0.45 s) with nothing
    // downstream to parallelize. respread hashes the leading column,
    // and shinglesOf leads with the row key doc_id.
    val sh = Caches.persist(graft.SparkEntry.respread(shDocs))
    val ex = Caches.persist(
      sh.select(col("doc_id"), explode(col("sh")).as("shingle")))
    val dfT = Caches.persist(ex.groupBy(col("shingle")).agg(count(lit(1)).as("df")))
    val w = Caches.persist(ex.join(dfT, "shingle").crossJoin(broadcast(nDocs))
      .selectExpr("doc_id", "shingle", "least((n * 10000L) div df, 1000000L) AS w"))
    val norms = Caches.persist(
      w.groupBy(col("doc_id")).agg(sum(expr("w * w")).as("nrm")))
    val rare = dfT.where(col("df").between(dfMin, dfMax)).select(col("shingle"))
    val exR = Caches.persist(ex.join(rare, "shingle"))
    val cand = exR.select(col("shingle"), col("doc_id").as("a"))
      .join(exR.select(col("shingle"), col("doc_id").as("b")), "shingle")
      .where(col("a") < col("b"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("n_shared"))
      .where(col("n_shared") >= minShared)
      .select(col("a"), col("b"))
    val dot = cand
      .join(w.selectExpr("doc_id AS a", "shingle", "w AS wa"), Seq("a"))
      .join(w.selectExpr("doc_id AS b", "shingle", "w AS wb"), Seq("b", "shingle"))
      .groupBy(col("a"), col("b")).agg(sum(expr("wa * wb")).as("dot"))
    dot
      .join(norms.selectExpr("doc_id AS a", "nrm AS na"), Seq("a"))
      .join(norms.selectExpr("doc_id AS b", "nrm AS nb"), Seq("b"))
      .selectExpr("a", "b",
        "round(cast(dot AS double) / (sqrt(cast(na AS double))" +
          " * sqrt(cast(nb AS double))), 4) AS cosine")
      .where(col("cosine") >= threshold)
  }

  def containmentOf(shDocs: DataFrame, dfMin: Long = 2, dfMax: Long = 20,
      threshold: Double = 0.8, minShared: Long = 3): DataFrame = {
    // respread: same rationale (and measurement) and the same doc_id
    // leading key as sparseCosineOf
    val sh = Caches.persist(graft.SparkEntry.respread(shDocs))
    val ex = Caches.persist(
      sh.select(col("doc_id"), explode(col("sh")).as("shingle")))
    val rare = ex.groupBy(col("shingle")).agg(count(lit(1)).as("df"))
      .where(col("df").between(dfMin, dfMax))
      .select(col("shingle"))
    val exR = Caches.persist(ex.join(rare, "shingle"))
    // min-overlap candidate rule (same rationale as sparseCosineOf —
    // single-shingle collisions approach all-pairs on small-vocabulary
    // corpora): verify only pairs sharing >= minShared banded shingles.
    // Recall loss is confined to subjects with < ceil(minShared/0.8)
    // distinct shingles, i.e. sub-6-token documents.
    val cand = exR.select(col("shingle"), col("doc_id").as("a"))
      .join(exR.select(col("shingle"), col("doc_id").as("b")), "shingle")
      .where(col("a") =!= col("b"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("n_shared"))
      .where(col("n_shared") >= minShared)
      .select(col("a"), col("b"))
    graft.functions.SetCounts.register(shDocs.sparkSession)
    cand
      .join(sh.select(col("doc_id").as("a"), col("sh").as("sa")), "a")
      .join(sh.select(col("doc_id").as("b"), col("sh").as("sb")), "b")
      .selectExpr("a", "b",
        // intersect_count: the count-only kernel (no intersection array
        // materialized per pair); same distinct/null semantics as the
        // builtin, so the rounded quotient is bit-identical
        "round(cast(intersect_count(sa, sb) AS double)" +
          " / cast(size(sa) AS double), 4) AS containment")
      .where(col("containment") >= threshold)
  }

  private def minhashNearDupPairs(s: SparkSession, dir: String): DataFrame = {
    // persisted: referenced by both self-join sides and both jaccard
    // sides; size is bounded (one shingle array per doc). Released by
    // the consumer via Caches.releaseAll after the terminal action.
    // respread: the band self-join and jaccard verify read this cache —
    // without it they inherit the scan's one partition (see
    // sparseCosineOf; q66/q69 measured 0.91x/0.95x with it). Hashed on
    // the leading column, docShingles' row key doc_id.
    val docs = Caches.persist(graft.SparkEntry.respread(docShingles(s, dir)))
    val bandsP = Caches.persist(minhashBands(docs)) // both sides of the candidate self-join
    val cand = bandsP.withColumnRenamed("doc_id", "a_id")
      .join(bandsP.withColumnRenamed("doc_id", "b_id"), Seq("b", "k0", "k1", "k2"))
      .filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"))
      .distinct()
    jaccardOf(cand, docs, docs, "a_id", "b_id")
      .filter(col("jaccard") >= 0.5)
  }

  /** The parameterized redaction chain over a (doc_id, text) DataFrame:
    * each (name, pattern, replacement) applied IN ORDER, its matches
    * counted on the text as it stands when that pass runs (order is part
    * of the contract — an IP inside an already-redacted email is not
    * re-counted), then a residual re-scan of the clean text across ALL
    * patterns. Pure scan+project — every regexp is a codegen'd builtin;
    * zero joins, zero shuffles. q79 is this chain with the email/ip/phone
    * defaults and the deterministic plant; deployments call it with their
    * own pattern set via [[graft.PipelineBridge.scrub]] (Python `scrub`). */
  private[graft] def scrubChain(docs: DataFrame,
      specs: Seq[(String, String, String)]): DataFrame = {
    require(specs.nonEmpty, "scrubChain needs at least one pattern")
    val redacted = specs.zipWithIndex.foldLeft(docs.withColumn("t0", col("text"))) {
      case (df, ((name, pat, repl), i)) =>
        df.withColumn(s"n_$name", regexp_count(col(s"t$i"), lit(pat)).cast("long"))
          .withColumn(s"t${i + 1}", regexp_replace(col(s"t$i"), pat, repl))
    }
    val cleanCol = s"t${specs.size}"
    val residual = specs.map { case (_, pat, _) =>
      regexp_count(col(cleanCol), lit(pat))
    }.reduce(_ + _).cast("long")
    redacted
      .withColumn("residual_pii", residual)
      .select(col("doc_id") +: specs.map { case (name, _, _) => col(s"n_$name") }
        :+ col("residual_pii") :+ col(cleanCol).as("clean_text"): _*)
  }

  /** Adds per-doc Gopher-style repetition character counts to `df` (which
    * must carry `text`): top2_chars = the largest (occurrences x gram
    * length) of any word-2-gram, dup3_chars = the summed coverage of
    * word-3-grams occurring more than once. Shared by q70 (the flags) and
    * q73 (the composed mix pipeline).
    *
    * The counting is IN-ROW — the native codegen'd
    * [[graft.functions.RepetitionChars]] — because the computation never
    * crosses documents: the obvious explode + groupBy(doc_id, gram) shape
    * shuffles every distinct (doc, gram) pair, i.e. re-shuffles the
    * tokenized corpus, to compute something each row already had locally
    * (at 100 TB, two corpus-sized exchanges vs zero). The SQL-composable
    * in-row form (aggregate over array_sort) is an interpreted fold that
    * predicate pushdown re-inlines per column reference — measured 6+ s
    * for 5k docs inside the q73 gate filter vs ~0.1 s fused. All-integer
    * until the caller's final division, so the DuckDB oracle (unnest +
    * GROUP BY — engines need only agree on VALUES, not plans) reproduces
    * the ratios bitwise. */
  private[queries] def withRepetitionChars(df: DataFrame,
      withQuality: Boolean = false): DataFrame = {
    graft.functions.RepetitionChars.register(df.sparkSession)
    // q23's quality score from the same token array — the q73 gates then
    // need NO joins at all, one scan computes both
    val quality =
      """(2 * (4000 * size(array_distinct(__tk))
        |      + 3000 * (size(__tk) - size(filter(__tk, x -> x IN ('the', 'a'))))
        |      + 30 * least(size(__tk), 100) * size(__tk)) + size(__tk))
        |  div (2 * size(__tk)) AS quality_e4""".stripMargin
    df.selectExpr("*", "repetition_chars(text) AS __rc")
      .selectExpr(Seq("*", "__rc[0] AS top2_chars", "__rc[1] AS dup3_chars") ++
        (if (withQuality) Seq(s"$toks AS __tk") else Nil): _*)
      .selectExpr(Seq("*") ++ (if (withQuality) Seq(quality) else Nil): _*)
      .drop("__rc", "__tk")
  }

  /** The repetition gate over [[withRepetitionChars]] output (needs
    * `n_chars`, `top2_chars`, `dup3_chars` in scope) —
    * UNROUNDED ratios against fixed thresholds from the corpus
    * distribution (median top2 0.068, max 0.33), identical text in the
    * q70/q73 oracles so both engines compare the same doubles. */
  /** Multiply form, NOT `chars / n_chars > 0.10`: at n_chars = 0 (empty
    * text) the division is NULL in Spark but NaN in DuckDB — the gate
    * would then DROP the doc here (NOT NULL = NULL) and KEEP it in the
    * oracle. `chars > 0.10 * n_chars` is 0 > 0 = false in both. */
  private[queries] def repetitivePredAt(threshold: Double): String =
    s"(coalesce(top2_chars, 0) > $threshold * n_chars" +
      s" OR coalesce(dup3_chars, 0) > $threshold * n_chars)"

  /** [[repetitivePredAt]] at the oracled 0.10 threshold (from the corpus
    * distribution: median top2 0.068, max 0.33) — the text q70/q73/q74
    * and their DuckDB twins compare against. */
  private[queries] val repetitivePred = repetitivePredAt(0.10)

  /** The q73 end-to-end training-mix pipeline with the gate thresholds as
    * PARAMETERS — the deployment surface (Python calls it directly as the
    * `mix_pipeline` alias of graft_iforest.pipeline, as for the ANN knobs).
    * Defaults are exactly the oracled constants, so the `q73_mix_pipeline`
    * entry delegates here and the hash-checked query surface is unchanged.
    *
    * @param minQualityE4 keep docs with quality_e4 >= this (oracled 6100)
    * @param repThreshold drop docs whose top-2-gram or dup-3-gram char
    *                     coverage exceeds this fraction (oracled 0.10)
    * @param capK         max docs kept per (lang, source) domain (oracled 5)
    */
  def mixPipeline(s: SparkSession, dir: String,
      minQualityE4: Long = 6100L, repThreshold: Double = 0.10,
      capK: Int = 5): DataFrame =
    mixKept(s, dir, minQualityE4, repThreshold, capK).orderBy(col("doc_id"))

  /** [[mixPipeline]] without the presentation sort — the composition
    * surface ([[mixTake]] range-repartitions it immediately; an orderBy
    * here would buy nothing and cost an exchange). */
  private def mixKept(s: SparkSession, dir: String,
      minQualityE4: Long, repThreshold: Double, capK: Int): DataFrame = {
    require(capK >= 1, s"mixPipeline: capK must be >= 1, got $capK")
    graft.functions.BpeEncode.register(s)
    val docs = t(s, dir, "documents")
    val keepers = docs.groupBy(md5(col("text")).as("h"))
      .agg(min(col("doc_id")).as("doc_id"))
      .select("doc_id")
    // both gates compute IN-ROW on the dedup survivors — one scan, no
    // gate joins; the semi-join against the keeper set is the only
    // exchange stage 1+2 pay. No respread here (unlike StoreMix.mixFrom):
    // the gate kernels over the one-row-group scan cost about what the
    // extra shuffle does. At sf0.1 the hashed respread read 0.94-1.03x
    // the round-robin one over three A/Bs; dropping it read 0.88-1.07x
    // (median 0.94x) over four, in 8 tasks instead of 12 (TUNE_r28.txt)
    val kept = withRepetitionChars(
        docs.select(col("doc_id"), col("lang"), col("source"),
          col("n_chars"), col("text")),
        withQuality = true)
      .join(keepers, Seq("doc_id"), "left_semi")
      .where(s"quality_e4 >= $minQualityE4 AND NOT ${repetitivePredAt(repThreshold)}")
    val capped = graft.plans.TopKPerKey.topK(
      kept.selectExpr("lang", "source", "doc_id",
        "-cast(conv(substring(md5(cast(doc_id AS string)), 1, 8), 16, 10) AS double) AS neg_h"),
      Seq("lang", "source"), "neg_h", "doc_id", capK, "neg_h", 4)
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
  }

  /** The q76 temperature-weighted token take with the TOTAL budget as a
    * parameter (per-language budget_l = half-up weight_l x totalBudget) —
    * the other half of the deployment surface [[mixPipeline]] opens.
    * Default is the oracled 15,000, so the `q76_weighted_take` entry
    * delegates here unchanged. */
  def weightedTake(s: SparkSession, dir: String,
      totalBudget: Long = 15000L): DataFrame = {
    require(totalBudget >= 1L,
      s"weightedTake: totalBudget must be >= 1, got $totalBudget")
    val docs = Caches.persist(t(s, dir, "documents").selectExpr(
      "doc_id", "lang", s"size($toks) AS n_tokens",
      "cast(conv(substring(md5(cast(doc_id AS string)), 1, 8), 16, 10) AS bigint)" +
        " AS h"))
    val perLang = docs.groupBy(col("lang")).agg(count(lit(1)).as("n_docs"))
      .selectExpr("lang",
        "cast(floor(sqrt(cast(n_docs AS double)) * 1e6) AS bigint) AS s6")
    val total = perLang.agg(sum(col("s6")).as("s6_total"))
    val budgets = perLang.join(broadcast(total))
      .selectExpr("lang",
        s"(2 * s6 * $totalBudget + s6_total) div (2 * s6_total) AS budget")
    val g = graft.plans.RangedPrefixSum.prefixSumBy(
      s, docs, "n_tokens", "gcum", "lang", "h", "doc_id")
    val offsets = docs.groupBy(col("lang"))
      .agg(sum(col("n_tokens")).as("t"))
      .withColumn("off",
        coalesce(sum(col("t")).over(Window.orderBy(col("lang"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("lang"), col("off"))
    g.join(broadcast(offsets.join(budgets, Seq("lang"))), Seq("lang"))
      .selectExpr("doc_id", "lang", "n_tokens", "gcum - off AS cum_tokens",
        "budget")
      .where("cum_tokens <= budget")
      .orderBy(col("lang"), col("cum_tokens"))
  }

  /** The q78 FULL MIXTURE MATERIALIZATION — [[mixKept]]'s cleaned, gated,
    * capped survivor set (q73) fed into the temperature-weighted budgeted
    * take (q76), as one plan: the end state a training-data run ships.
    * Two composition points differ deliberately from running the
    * fragments side by side:
    *   - the alpha=1/2 weights are computed over the SURVIVORS' language
    *     counts, not the raw corpus — the mixture being sampled is the
    *     cleaned one, and a language whose docs were mostly gated away
    *     should not keep its pre-gate budget share;
    *   - the budget is denominated in TRUE BPE tokens (the n_tokens the
    *     pipeline already computed for survivors), not whitespace tokens
    *     — budgets mean model-input tokens.
    * Scale shape: [[mixKept]]'s two corpus shuffles, then everything is
    * bounded — the survivor set re-uses its BPE counts (no re-encode),
    * ONE global RangedPrefixSum over the (lang, h, doc_id) order, and the
    * #languages-row offsets+budgets table reaches it through a single
    * broadcast join (plan-pinned: no corpus sort-merge join, no
    * per-language corpus-slice window task). */
  def mixTake(s: SparkSession, dir: String,
      minQualityE4: Long = 6100L, repThreshold: Double = 0.10,
      capK: Int = 5, totalBudget: Long = 15000L): DataFrame = {
    require(totalBudget >= 1L,
      s"mixTake: totalBudget must be >= 1, got $totalBudget")
    val kept = Caches.persist(
      mixKept(s, dir, minQualityE4, repThreshold, capK).selectExpr(
        "doc_id", "lang", "source", "split", "n_tokens",
        "cast(conv(substring(md5(cast(doc_id AS string)), 1, 8), 16, 10) AS bigint)" +
          " AS h"))
    val perLang = kept.groupBy(col("lang")).agg(count(lit(1)).as("n_docs"))
      .selectExpr("lang",
        "cast(floor(sqrt(cast(n_docs AS double)) * 1e6) AS bigint) AS s6")
    val total = perLang.agg(sum(col("s6")).as("s6_total"))
    val budgets = perLang.join(broadcast(total))
      .selectExpr("lang",
        s"(2 * s6 * $totalBudget + s6_total) div (2 * s6_total) AS budget")
    val g = graft.plans.RangedPrefixSum.prefixSumBy(
      s, kept, "n_tokens", "gcum", "lang", "h", "doc_id")
    val offsets = kept.groupBy(col("lang"))
      .agg(sum(col("n_tokens")).as("t"))
      .withColumn("off",
        coalesce(sum(col("t")).over(Window.orderBy(col("lang"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("lang"), col("off"))
    g.join(broadcast(offsets.join(budgets, Seq("lang"))), Seq("lang"))
      .selectExpr("doc_id", "lang", "source", "split", "n_tokens",
        "gcum - off AS cum_tokens", "budget")
      .where("cum_tokens <= budget")
      .orderBy(col("lang"), col("cum_tokens"))
  }

  /** The q23 quality frame (doc_id, n_tokens, uniq_ratio, stop_ratio,
    * quality_e4) — shared by q23 (the scores) and q68 (arg-max canonical
    * selection). The composite score is exact integer math scaled by 1e4
    * (half-up via (2a+b) div 2b): the double form `round(0.4*u +
    * 0.3*(1-s) + ..., 4)` lands on .xxxx5 shortest-repr boundaries that
    * Spark and DuckDB round in opposite directions (caught at sf0.1). */
  private[queries] def docQuality(s: SparkSession, dir: String,
      withLang: Boolean = false): DataFrame = {
    val keep = if (withLang) Seq("doc_id", "lang") else Seq("doc_id")
    t(s, dir, "documents")
      .selectExpr(keep ++ Seq(
        s"size($toks) AS n",
        s"size(array_distinct($toks)) AS d",
        s"size(filter($toks, x -> x IN ('the', 'a'))) AS st"): _*)
      .selectExpr(keep ++ Seq("n AS n_tokens",
        "round(cast(d AS double) / n, 4) AS uniq_ratio",
        "round(cast(st AS double) / n, 4) AS stop_ratio",
        // quality*1e4 = (4000d + 3000(n-st))/n + 30*least(n,100), half-up
        "(2 * (4000 * d + 3000 * (n - st) + 30 * least(n, 100) * n) + n) div (2 * n)" +
          " AS quality_e4"): _*)
  }

  /** SimHash near-dup candidate pairs (adjacent docs in simhash order,
    * <= 12 of 32 bits apart) — shared by q32 (the pairs) and q69 (the
    * unified closure). Exercises the native codegen'd HammingDistance
    * expression inside whole-stage codegen; the global rank is
    * range-partitioned (rankBy), never a single-task window. */
  private def simhashHammingPairs(s: SparkSession, dir: String): DataFrame = {
    graft.functions.HammingDistance.register(s)
    val ranked = rankBy(s, docSimhash(s, dir), "simhash", "doc_id")
    val next = ranked.select(col("doc_id").as("b_id"), col("simhash").as("b_simhash"),
      (col("rn") - 1).as("rn"))
    ranked.join(next, Seq("rn"))
      .selectExpr("doc_id AS a_id", "b_id",
        "hamming_distance(simhash, b_simhash) AS hamming")
      .filter(col("hamming") <= 12)
  }

  /** Sign-bucket-blocked cosine near-dup pairs (a_id < b_id, exact cosine
    * >= 0.3 on the UN-rounded value) — shared by q29 (the pairs) and q67
    * (their transitive closure). The bucket equi-join is the scale path:
    * pairs only form within a bucket, never across the corpus. */
  private def cosineNearDupPairs(s: SparkSession, dir: String): DataFrame = {
    graft.functions.CosineSimilarity.register(s)
    val emb = embDoubles(s, dir)
    emb.select(col("vec_id").as("a_id"), col("e").as("ae"), col("bucket")).as("a")
      .join(emb.select(col("vec_id").as("b_id"), col("e").as("be"), col("bucket")).as("b"),
        expr("a.bucket = b.bucket AND a_id < b_id"))
      .selectExpr("a_id", "b_id", s"$cosineExpr AS cos")
      .filter(col("cos") >= 0.3)
  }

  /** 16-bucket sign-LSH from four FIXED small-integer hyperplanes (each a
    * 3-sparse +-1/2 vector). Double arithmetic with the same association
    * order as the DuckDB oracle, so bucket ids are bit-identical. Spark
    * array indexing is 0-based (DuckDB's is 1-based — the oracle shifts). */
  private[queries] val fixedBucket =
    "cast(2*e[0] - e[4] + e[8] >= 0 AS int) * 8 + " +
      "cast(e[1] + e[5] - 2*e[9] >= 0 AS int) * 4 + " +
      "cast(e[2] - e[6] + e[10] >= 0 AS int) * 2 + " +
      "cast(-e[3] + e[7] + 2*e[11] >= 0 AS int)"

  // --- DuckDB oracles (same math, same operation order) ---

  private val duckToks = "string_split(text, ' ')"
  /** q23's quality score as named CTEs (`qual` is the consumable) —
    * shared by q23 and the q73 pipeline's quality gate. */
  private[queries] val duckQualityCtes =
    s"""qt AS (SELECT doc_id, len($duckToks) AS n,
       |    len(list_distinct($duckToks)) AS d,
       |    len(list_filter($duckToks, x -> x IN ('the', 'a'))) AS st
       |  FROM documents),
       |qual AS (SELECT doc_id, n AS n_tokens,
       |    round(d::DOUBLE / n, 4) AS uniq_ratio,
       |    round(st::DOUBLE / n, 4) AS stop_ratio,
       |    CAST((2 * (4000 * d + 3000 * (n - st) + 30 * least(n, 100) * n) + n)
       |      // (2 * n) AS BIGINT) AS quality_e4
       |  FROM qt)""".stripMargin
  /** q70's repetition character counts as named CTEs (`top2`, `dup3`) —
    * counts the same grams as [[graft.functions.RepetitionChars]] (via
    * unnest + GROUP BY; engines agree on values, not plans); shared by
    * q70 and the q73 pipeline's repetition gate. */
  private[queries] val duckRepCtes =
    s"""rtk AS (SELECT doc_id, $duckToks AS tk FROM documents),
       |g2 AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(tk) - 1),
       |    i -> tk[i] || ' ' || tk[i+1])) AS g
       |  FROM rtk WHERE len(tk) >= 2),
       |c2 AS (SELECT doc_id, g, count(*) AS c FROM g2 GROUP BY doc_id, g),
       |top2 AS (SELECT doc_id, max(c * len(g)) AS top2_chars FROM c2 GROUP BY doc_id),
       |g3 AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(tk) - 2),
       |    i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS g
       |  FROM rtk WHERE len(tk) >= 3),
       |c3 AS (SELECT doc_id, g, count(*) AS c FROM g3 GROUP BY doc_id, g),
       |dup3 AS (SELECT doc_id,
       |    sum(CASE WHEN c > 1 THEN c * len(g) ELSE 0 END) AS dup3_chars
       |  FROM c3 GROUP BY doc_id)""".stripMargin
  /** [[repetitivePred]]'s DuckDB twin — textually identical arithmetic on
    * the same integer inputs, so both engines compare the same doubles;
    * expects `top2_chars`/`dup3_chars` (left-joined, nullable) and a
    * documents alias `d` in scope. */
  private[queries] val duckRepPred =
    "(coalesce(top2_chars, 0) > 0.10 * d.n_chars" +
      " OR coalesce(dup3_chars, 0) > 0.10 * d.n_chars)"
  /** The distinct-shingle projection over an arbitrary (doc_id, text)
    * relation — mirrors [[shinglesOf]]; q84's oracle runs it over its
    * planted corpus∪delta CTE instead of the raw table. */
  private[queries] def duckShingleDocsFrom(table: String): String =
    s"""SELECT doc_id, list_distinct(list_transform(generate_series(1, len($duckToks) - 2),
       |    i -> $duckToks[i] || ' ' || $duckToks[i+1] || ' ' || $duckToks[i+2])) AS sh
       |  FROM $table WHERE len($duckToks) >= 3""".stripMargin

  private val duckShingleDocs = duckShingleDocsFrom("documents")
  private val duckSimhashDocs =
    s"""SELECT doc_id, cast(list_sum(list_transform(generate_series(0, 31), j ->
       |    CASE WHEN list_sum(list_transform(hs, h -> ((h >> j) & 1) * 2 - 1)) > 0
       |         THEN (cast(1 AS bigint) << j) ELSE 0 END)) AS bigint) AS simhash
       |  FROM (SELECT doc_id, list_transform(list_distinct($duckToks),
       |          tk -> cast('0x' || substr(md5(tk), 1, 8) AS bigint)) AS hs
       |        FROM documents)""".stripMargin
  /** Same double-precision cosine as the Spark side, aliases inlined. */
  private[queries] def duckCos(a: String, b: String): String =
    s"""list_sum(list_transform(generate_series(1, len($a.e)), i -> $a.e[i] * $b.e[i]))
       | / (sqrt(list_sum(list_transform($a.e, x -> x * x)))
       |    * sqrt(list_sum(list_transform($b.e, x -> x * x))))""".stripMargin
  private val duckSigList =
    "list_value(" + (0 until 12).map(j => s"m$j").mkString(", ") + ")"
  /** The shared MinHash-LSH pair CTE chain (mirrors [[minhashNearDupPairs]]
    * clause for clause) — `pairs` is (a_id, b_id, jaccard), pre-threshold;
    * q25 selects it directly, q66 closes it transitively. */
  /** The minhash signature → band-key CTE chain over a `docs (doc_id, sh)`
    * CTE — mirrors [[minhashBands]]; shared by the self-join pair chain
    * and the incremental-dedup (q84) oracle. */
  private[queries] lazy val duckBandsCtes =
    s"""hashed AS (SELECT doc_id,
       |    ('0x' || substr(md5(sg), 1, 8))::BIGINT AS h1,
       |    ('0x' || substr(md5(sg), 9, 8))::BIGINT AS h2
       |  FROM docs, unnest(sh) AS u(sg)),
       |sigs AS (SELECT doc_id,
       |  ${(0 until 12).map(j =>
             s"min((h1 + $j * h2) % 4294967296) AS m$j").mkString(",\n  ")}
       |  FROM hashed GROUP BY doc_id),
       |bands AS (SELECT doc_id, b,
       |    $duckSigList[3*b + 1] AS k0, $duckSigList[3*b + 2] AS k1,
       |    $duckSigList[3*b + 3] AS k2
       |  FROM sigs, generate_series(0, 3) AS g(b))""".stripMargin

  /** q114's planted source + winnow-fingerprint chain (src → n → r → w
    * → ex: per-doc distinct MOSS fingerprints, Rabin-Karp 8-grams, min
    * over 4-windows) — shared with [[DecontamIndex]]'s q153/q157/q158
    * oracles, which judge the same fingerprints against a PERSISTED
    * benchmark store instead of the in-query df-banded join. The `p`
    * prefix renames every CTE (q158 composes this chain with q134's,
    * which also defines `src`). */
  private[queries] def duckWinnowExCtes(p: String = ""): String =
    s"""${p}src AS (
      |  SELECT d.doc_id,
      |    CASE WHEN d.doc_id % 97 = 1 AND o.text IS NOT NULL THEN o.text
      |         ELSE d.text END AS text
      |  FROM documents d LEFT JOIN documents o
      |    ON o.doc_id = d.doc_id - 1 AND d.doc_id % 97 = 1),
      |${p}n AS (SELECT doc_id,
      |    lower(regexp_replace(text, '[^a-z0-9]', '', 'g')) AS t
      |  FROM ${p}src),
      |${p}r AS (SELECT doc_id, list_transform(generate_series(1, length(t) - 7), i ->
      |    list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(generate_series(0, 7),
      |      j -> CAST(ascii(substr(t, i + j, 1)) AS BIGINT))),
      |      (acc, c) -> (acc * 257 + c) % 1000000007)) AS rh
      |  FROM ${p}n WHERE length(t) >= 11),
      |${p}w AS (SELECT doc_id, list_distinct(list_transform(generate_series(1, len(rh) - 3),
      |    i -> list_min(rh[i:i+3]))) AS wins
      |  FROM ${p}r),
      |${p}ex AS (SELECT doc_id, unnest(wins) AS fp FROM ${p}w)""".stripMargin

  private lazy val duckNearDupCtes =
    s"""docs AS ($duckShingleDocs),
       |$duckBandsCtes,
       |cand AS (SELECT DISTINCT x.doc_id AS a_id, y.doc_id AS b_id
       |  FROM bands x JOIN bands y ON x.b = y.b AND x.k0 = y.k0 AND x.k1 = y.k1
       |    AND x.k2 = y.k2 AND x.doc_id < y.doc_id),
       |pairs AS (SELECT a_id, b_id,
       |    round(len(list_intersect(da.sh, db.sh))::DOUBLE
       |      / len(list_distinct(list_concat(da.sh, db.sh))), 4) AS jaccard
       |  FROM cand JOIN docs da ON da.doc_id = a_id JOIN docs db ON db.doc_id = b_id)"""
      .stripMargin
  /** The BPE oracle CTE chain, generated from the SAME Scala merges table
    * as the [[graft.functions.BpeEncode]] expression
    * ([[graft.functions.BpeTokenizer.duckChainSql]]) so the engines
    * cannot drift. Mirrors the expression operation for operation:
    * regex pre-tokens; per-codepoint space-joined seed; one chain pass =
    * every merge in rank order as a leftmost all-occurrence `replace`;
    * passes iterate (recursive CTE, UNION ALL — strictly shrinking
    * strings terminate it) to the fixpoint row, the one the chain leaves
    * unchanged. Merging runs over DISTINCT pre-tokens only (a pure word
    * function — the same economy the expression's memo exploits) and
    * joins counts back per doc; `cnt` is (doc_id, n) for docs with >= 1
    * pre-token — consumers LEFT JOIN + coalesce 0 for the rest. */
  private[queries] lazy val duckBpeCtes = {
    val chain = graft.functions.BpeTokenizer.duckChainSql("s")
    s"""pre AS (SELECT doc_id, source,
       |    unnest(regexp_extract_all(text,
       |      '${graft.functions.BpeTokenizer.preTokenRegex}')) AS w
       |  FROM documents),
       |seed AS (SELECT DISTINCT w FROM pre),
       |bpe AS (
       |  SELECT w, ' ' || regexp_replace(w, '(.)', '\\1 ', 'g') AS s FROM seed
       |  UNION ALL
       |  SELECT w, $chain FROM bpe WHERE $chain <> s),
       |enct AS (SELECT w, string_split(trim(s), ' ') AS toks
       |  FROM bpe WHERE $chain = s),
       |enc AS (SELECT w, len(toks) AS n FROM enct),
       |cnt AS (SELECT doc_id, cast(sum(n) AS BIGINT) AS n
       |  FROM pre JOIN enc USING (w) GROUP BY doc_id)""".stripMargin
  }

  private val duckEmb =
    """SELECT vec_id, label, list_transform(embedding, x -> x::DOUBLE) AS e,
      |  (embedding[1] > 0)::INT * 4 + (embedding[2] > 0)::INT * 2
      |    + (embedding[3] > 0)::INT AS bucket
      |FROM embeddings""".stripMargin

  val oracles: Map[String, String] = Map(
    "q20_exact_dedup" ->
      """SELECT min(doc_id) AS keeper, count(*) AS n_copies
        |FROM documents GROUP BY md5(text) ORDER BY keeper""".stripMargin,

    // same planting, same normalization chain ('g' flag: DuckDB
    // regexp_replace is first-match unless global)
    "q105_norm_dedup" ->
      """WITH src AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 10000000,
        |    '  ' || upper(replace(text, ' ', '   ')) || ' .!? '
        |  FROM documents WHERE doc_id % 9 = 4),
        |n AS (SELECT doc_id,
        |    md5(trim(regexp_replace(regexp_replace(lower(text),
        |      '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))) AS norm_fp
        |  FROM src)
        |SELECT norm_fp, min(doc_id) AS keeper, count(*) AS n_docs
        |FROM n GROUP BY norm_fp HAVING count(*) > 1
        |ORDER BY keeper""".stripMargin,

    "q48_bpe_tokens" ->
      s"""WITH RECURSIVE $duckBpeCtes,
         |d AS (SELECT d.source, coalesce(c.n, 0) AS n_bpe
         |  FROM documents d LEFT JOIN cnt c ON c.doc_id = d.doc_id)
         |SELECT source, count(*) AS n_docs,
         |  cast(sum(n_bpe) AS BIGINT) AS total_bpe_tokens,
         |  round(avg(n_bpe), 4) AS avg_bpe_tokens,
         |  max(n_bpe) AS max_bpe_tokens
         |FROM d GROUP BY source ORDER BY source""".stripMargin,

    // the same merge chain, token STRINGS mapped through the generated
    // vocab VALUES table with unicode() as the codepoint fallback —
    // byte-for-byte the BpeEncodeIds mapping
    "q77_bpe_ids" ->
      s"""WITH RECURSIVE $duckBpeCtes,
         |${graft.functions.BpeTokenizer.duckVocabSql},
         |tok AS (SELECT doc_id, unnest(toks) AS t
         |  FROM pre JOIN enct USING (w)),
         |ids AS (SELECT doc_id, coalesce(v.id, unicode(t)) AS id
         |  FROM tok LEFT JOIN vocab v ON v.token = t),
         |g AS (SELECT doc_id, count(*)::INT AS n_ids,
         |    sum(id)::BIGINT AS id_sum,
         |    min(id)::INT AS id_min, max(id)::INT AS id_max
         |  FROM ids GROUP BY doc_id)
         |SELECT d.doc_id, coalesce(g.n_ids, 0) AS n_ids,
         |  coalesce(g.id_sum, 0)::BIGINT AS id_sum,
         |  coalesce(g.id_min, -1) AS id_min, coalesce(g.id_max, -1) AS id_max
         |FROM documents d LEFT JOIN g USING (doc_id)
         |ORDER BY d.doc_id""".stripMargin,

    "q21_token_stats" ->
      s"""WITH d AS (SELECT source, len($duckToks) AS n_tokens,
         |  cast(list_sum(list_transform($duckToks, x -> length(x))) AS bigint) AS token_chars
         |  FROM documents)
         |SELECT source, count(*) AS n_docs,
         |  cast(sum(n_tokens) AS bigint) AS total_tokens,
         |  round(avg(n_tokens), 4) AS avg_tokens,
         |  max(n_tokens) AS max_tokens,
         |  round(sum(token_chars)::DOUBLE / sum(n_tokens), 4) AS avg_token_len
         |FROM d GROUP BY source ORDER BY source""".stripMargin,

    "q22_lang_id" -> {
      def cnt(w: String) =
        s"(length(' ' || text || ' ') - length(replace(' ' || text || ' ', ' $w ', ' '))) / ${w.length + 1}"
      s"""WITH c AS (SELECT doc_id, lang,
         |  ${cnt("the")} AS c_en, ${cnt("le")} AS c_fr, ${cnt("el")} AS c_es,
         |  ${cnt("der")} AS c_de, ${cnt("的")} AS c_zh
         |  FROM documents),
         |p AS (SELECT doc_id, lang,
         |  CASE WHEN c_en >= greatest(c_fr, c_es, c_de, c_zh) AND c_en > 0 THEN 'en'
         |       WHEN c_fr >= greatest(c_es, c_de, c_zh) AND c_fr > 0 THEN 'fr'
         |       WHEN c_es >= greatest(c_de, c_zh) AND c_es > 0 THEN 'es'
         |       WHEN c_de >= c_zh AND c_de > 0 THEN 'de'
         |       WHEN c_zh > 0 THEN 'zh'
         |       ELSE 'und' END AS pred_lang
         |  FROM c)
         |SELECT doc_id, pred_lang,
         |  CASE WHEN pred_lang = lang THEN 1 ELSE 0 END AS is_correct
         |FROM p ORDER BY doc_id""".stripMargin
    },

    "q23_quality_score" ->
      s"""WITH $duckQualityCtes
         |SELECT doc_id, n_tokens, uniq_ratio, stop_ratio, quality_e4
         |FROM qual ORDER BY doc_id""".stripMargin,

    "q24_fingerprint" ->
      """SELECT doc_id,
        |  md5(regexp_replace(text, '[^a-z0-9]', '', 'g')) AS fingerprint,
        |  length(regexp_replace(text, '[^a-z0-9]', '', 'g')) AS n_chars_norm
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q25_minhash_neardup" ->
      s"""WITH $duckNearDupCtes
         |SELECT a_id, b_id, jaccard FROM pairs WHERE jaccard >= 0.5
         |ORDER BY a_id, b_id""".stripMargin,

    // Transitive closure of the SAME pair set as q25: bidirected edges,
    // recursive reachability (UNION dedup terminates cycles), component id
    // = min over node + everything reachable. Documents in no pair fall
    // through the LEFT JOIN as their own singleton cluster — identical
    // semantics to the Spark side's large-star/small-star + coalesce.
    "q66_dedup_clusters" ->
      s"""WITH RECURSIVE $duckNearDupCtes,
         |nd AS (SELECT a_id, b_id FROM pairs WHERE jaccard >= 0.5),
         |edges AS (SELECT a_id AS u, b_id AS v FROM nd
         |          UNION SELECT b_id, a_id FROM nd),
         |reach AS (
         |  SELECT u AS node, v AS r FROM edges
         |  UNION
         |  SELECT c.node, e.v FROM reach c JOIN edges e ON e.u = c.r),
         |cmap AS (SELECT node, least(node, min(r)) AS cluster_id
         |  FROM reach GROUP BY node)
         |SELECT d.doc_id,
         |  coalesce(c.cluster_id, d.doc_id) AS cluster_id,
         |  CASE WHEN coalesce(c.cluster_id, d.doc_id) = d.doc_id
         |       THEN 1 ELSE 0 END AS is_canonical
         |FROM documents d LEFT JOIN cmap c ON c.node = d.doc_id
         |ORDER BY d.doc_id""".stripMargin,

    // q66's closure plus the q23 quality CTE: the canonical member is the
    // window arg-max (quality DESC, doc_id ASC) per cluster — equivalent
    // to the Spark side's max_by over the (quality, -doc_id) struct.
    "q68_quality_canonical" ->
      s"""WITH RECURSIVE $duckNearDupCtes,
         |nd AS (SELECT a_id, b_id FROM pairs WHERE jaccard >= 0.5),
         |edges AS (SELECT a_id AS u, b_id AS v FROM nd
         |          UNION SELECT b_id, a_id FROM nd),
         |reach AS (
         |  SELECT u AS node, v AS r FROM edges
         |  UNION
         |  SELECT c.node, e.v FROM reach c JOIN edges e ON e.u = c.r),
         |cmap AS (SELECT node, least(node, min(r)) AS cluster_id
         |  FROM reach GROUP BY node),
         |$duckQualityCtes,
         |m AS (SELECT d.doc_id, coalesce(c.cluster_id, d.doc_id) AS cluster_id,
         |    q.quality_e4
         |  FROM documents d LEFT JOIN cmap c ON c.node = d.doc_id
         |  JOIN qual q ON q.doc_id = d.doc_id),
         |r AS (SELECT doc_id, cluster_id,
         |    row_number() OVER (PARTITION BY cluster_id
         |      ORDER BY quality_e4 DESC, doc_id) AS rk,
         |    count(*) OVER (PARTITION BY cluster_id) AS nm
         |  FROM m)
         |SELECT doc_id, cluster_id,
         |  CASE WHEN rk = 1 THEN 1 ELSE 0 END AS is_canonical,
         |  CASE WHEN rk = 1 AND nm = 1 THEN 'singleton'
         |       WHEN rk = 1 THEN 'best_quality'
         |       ELSE 'lower_quality' END AS keep_reason
         |FROM r ORDER BY doc_id""".stripMargin,

    // One closure over the UNION of the q25 (MinHash), q32 (simhash
    // Hamming), and q29 (cosine) pair sets — each pair CTE mirrors its
    // query's oracle clause for clause; the union makes cross-evidence
    // chains transitive.
    "q69_unified_dedup" ->
      s"""WITH RECURSIVE $duckNearDupCtes,
         |nd AS (SELECT a_id, b_id FROM pairs WHERE jaccard >= 0.5),
         |sranked AS (SELECT doc_id, simhash,
         |    row_number() OVER (ORDER BY simhash, doc_id) AS rn
         |  FROM ($duckSimhashDocs)),
         |sp AS (SELECT x.doc_id AS a_id, y.doc_id AS b_id
         |  FROM sranked x JOIN sranked y ON y.rn = x.rn + 1
         |  WHERE bit_count(xor(x.simhash, y.simhash)) <= 12),
         |emb AS ($duckEmb),
         |cp AS (SELECT a.vec_id AS a_id, b.vec_id AS b_id
         |  FROM emb a JOIN emb b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
         |  WHERE ${duckCos("a", "b")} >= 0.3),
         |alledges AS (SELECT a_id AS u, b_id AS v FROM nd
         |  UNION SELECT a_id, b_id FROM sp
         |  UNION SELECT a_id, b_id FROM cp),
         |edges AS (SELECT u, v FROM alledges UNION SELECT v, u FROM alledges),
         |reach AS (
         |  SELECT u AS node, v AS r FROM edges
         |  UNION
         |  SELECT c.node, e.v FROM reach c JOIN edges e ON e.u = c.r),
         |cmap AS (SELECT node, least(node, min(r)) AS cluster_id
         |  FROM reach GROUP BY node)
         |SELECT d.doc_id,
         |  coalesce(c.cluster_id, d.doc_id) AS cluster_id,
         |  CASE WHEN coalesce(c.cluster_id, d.doc_id) = d.doc_id
         |       THEN 1 ELSE 0 END AS is_canonical
         |FROM documents d LEFT JOIN cmap c ON c.node = d.doc_id
         |ORDER BY d.doc_id""".stripMargin,

    "q70_repetition_flags" ->
      s"""WITH $duckRepCtes
         |SELECT d.doc_id,
         |  CASE WHEN d.n_chars > 0
         |    THEN round(coalesce(top2_chars, 0) / d.n_chars, 4)
         |    ELSE 0.0 END AS top2_frac,
         |  CASE WHEN d.n_chars > 0
         |    THEN round(coalesce(dup3_chars, 0) / d.n_chars, 4)
         |    ELSE 0.0 END AS dup3_frac,
         |  CASE WHEN $duckRepPred THEN 1 ELSE 0 END AS repetitive
         |FROM documents d
         |LEFT JOIN top2 USING (doc_id) LEFT JOIN dup3 USING (doc_id)
         |ORDER BY d.doc_id""".stripMargin,

    "q71_domain_cap" ->
      """WITH h AS (SELECT lang, source, doc_id,
        |    ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT AS hv
        |  FROM documents),
        |r AS (SELECT lang, source, doc_id,
        |    row_number() OVER (PARTITION BY lang, source ORDER BY hv, doc_id) AS rn
        |  FROM h)
        |SELECT lang, source, doc_id, rn FROM r WHERE rn <= 5
        |ORDER BY lang, source, rn""".stripMargin,

    "q72_temperature_weights" ->
      """WITH pl AS (SELECT lang, count(*)::BIGINT AS n_docs,
        |    CAST(floor(sqrt(count(*)::DOUBLE) * 1e6) AS BIGINT) AS s6
        |  FROM documents GROUP BY lang),
        |tot AS (SELECT sum(s6)::BIGINT AS s6_total, sum(n_docs)::BIGINT AS n_total
        |  FROM pl),
        |w0 AS (SELECT lang, n_docs, n_total,
        |    CAST((2 * s6 * 1000000 + s6_total) // (2 * s6_total) AS BIGINT) AS weight_e6
        |  FROM pl, tot),
        |w AS (SELECT lang, n_docs, weight_e6,
        |    CAST((2 * weight_e6 * n_total + n_docs) // (2 * n_docs) AS BIGINT) AS boost_e6
        |  FROM w0)
        |SELECT d.doc_id, d.lang, w.n_docs, w.weight_e6, w.boost_e6
        |FROM documents d JOIN w USING (lang)
        |ORDER BY d.doc_id""".stripMargin,

    "q73_mix_pipeline" ->
      s"""WITH RECURSIVE $duckBpeCtes,
         |$duckQualityCtes,
         |$duckRepCtes,
         |keepers AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
         |kept AS (SELECT d.doc_id, d.lang, d.source
         |  FROM documents d
         |  JOIN keepers USING (doc_id)
         |  JOIN qual USING (doc_id)
         |  LEFT JOIN top2 USING (doc_id) LEFT JOIN dup3 USING (doc_id)
         |  WHERE qual.quality_e4 >= 6100 AND NOT $duckRepPred),
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
         |ORDER BY doc_id""".stripMargin,

    "q75_token_budget" ->
      s"""WITH h AS (SELECT doc_id, lang, len($duckToks) AS n_tokens,
         |    ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT AS hv
         |  FROM documents),
         |c AS (SELECT doc_id, lang, n_tokens,
         |    sum(n_tokens) OVER (PARTITION BY lang ORDER BY hv, doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS cum_tokens
         |  FROM h)
         |SELECT doc_id, lang, n_tokens, cum_tokens FROM c
         |WHERE cum_tokens <= 3000
         |ORDER BY lang, cum_tokens""".stripMargin,

    // q72's weight CTE feeding q75's cumulative-take CTE — the budgets
    // join replaces the flat 3000
    "q76_weighted_take" ->
      s"""WITH pl AS (SELECT lang, count(*)::BIGINT AS n_docs,
         |    CAST(floor(sqrt(count(*)::DOUBLE) * 1e6) AS BIGINT) AS s6
         |  FROM documents GROUP BY lang),
         |tot AS (SELECT sum(s6)::BIGINT AS s6_total FROM pl),
         |b AS (SELECT lang,
         |    CAST((2 * s6 * 15000 + s6_total) // (2 * s6_total) AS BIGINT) AS budget
         |  FROM pl, tot),
         |h AS (SELECT doc_id, lang, len($duckToks) AS n_tokens,
         |    ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT AS hv
         |  FROM documents),
         |c AS (SELECT doc_id, lang, n_tokens,
         |    sum(n_tokens) OVER (PARTITION BY lang ORDER BY hv, doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS cum_tokens
         |  FROM h)
         |SELECT c.doc_id, c.lang, c.n_tokens, c.cum_tokens, b.budget
         |FROM c JOIN b USING (lang)
         |WHERE cum_tokens <= budget
         |ORDER BY lang, cum_tokens""".stripMargin,

    // q73's survivor CTEs (verbatim) feeding q76's budget/take CTEs —
    // with the weights over SURVIVOR language counts and the running sum
    // over the survivors' BPE token counts
    "q78_mix_take" ->
      s"""WITH RECURSIVE $duckBpeCtes,
         |$duckQualityCtes,
         |$duckRepCtes,
         |keepers AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
         |kept AS (SELECT d.doc_id, d.lang, d.source
         |  FROM documents d
         |  JOIN keepers USING (doc_id)
         |  JOIN qual USING (doc_id)
         |  LEFT JOIN top2 USING (doc_id) LEFT JOIN dup3 USING (doc_id)
         |  WHERE qual.quality_e4 >= 6100 AND NOT $duckRepPred),
         |kh AS (SELECT lang, source, doc_id,
         |    ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT AS hv
         |  FROM kept),
         |kr AS (SELECT lang, source, doc_id, hv,
         |    row_number() OVER (PARTITION BY lang, source ORDER BY hv, doc_id) AS rn
         |  FROM kh),
         |surv AS (SELECT doc_id, lang, source,
         |    CASE WHEN hv % 100 < 90 THEN 'train'
         |         WHEN hv % 100 < 95 THEN 'val' ELSE 'test' END AS split,
         |    coalesce(cnt.n, 0) AS n_tokens, hv
         |  FROM kr LEFT JOIN cnt USING (doc_id)
         |  WHERE rn <= 5),
         |pl AS (SELECT lang, count(*)::BIGINT AS n_docs,
         |    CAST(floor(sqrt(count(*)::DOUBLE) * 1e6) AS BIGINT) AS s6
         |  FROM surv GROUP BY lang),
         |tot AS (SELECT sum(s6)::BIGINT AS s6_total FROM pl),
         |b AS (SELECT lang,
         |    CAST((2 * s6 * 15000 + s6_total) // (2 * s6_total) AS BIGINT) AS budget
         |  FROM pl, tot),
         |c AS (SELECT doc_id, lang, source, split, n_tokens,
         |    sum(n_tokens) OVER (PARTITION BY lang ORDER BY hv, doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS cum_tokens
         |  FROM surv)
         |SELECT c.doc_id, c.lang, c.source, c.split, c.n_tokens, c.cum_tokens,
         |  b.budget
         |FROM c JOIN b USING (lang)
         |WHERE cum_tokens <= budget
         |ORDER BY lang, cum_tokens""".stripMargin,

    // The same plant → count → replace → count chain; DuckDB's RE2 and
    // Spark's Java regex agree on these patterns by construction (shared
    // Java∩RE2 subset, leftmost-first in both — see the pattern scaladoc).
    // regexp_replace needs the 'g' flag (DuckDB replaces first-only by
    // default; Spark replaces all).
    "q79_pii_redact" ->
      s"""WITH planted AS (SELECT doc_id,
         |    text || ' contact user' || doc_id::VARCHAR
         |      || '@mail.example.com or +1 555-01'
         |      || lpad((doc_id % 100)::VARCHAR, 2, '0')
         |      || ' host 10.0.' || (doc_id % 250)::VARCHAR || '.17' AS text
         |  FROM documents),
         |s1 AS (SELECT doc_id,
         |    len(regexp_extract_all(text, '$emailPat'))::BIGINT AS n_emails,
         |    regexp_replace(text, '$emailPat', '<EMAIL>', 'g') AS t1
         |  FROM planted),
         |s2 AS (SELECT doc_id, n_emails,
         |    len(regexp_extract_all(t1, '$ipv4Pat'))::BIGINT AS n_ips,
         |    regexp_replace(t1, '$ipv4Pat', '<IP>', 'g') AS t2
         |  FROM s1),
         |s3 AS (SELECT doc_id, n_emails, n_ips,
         |    len(regexp_extract_all(t2, '$phonePat'))::BIGINT AS n_phones,
         |    regexp_replace(t2, '$phonePat', '<PHONE>', 'g') AS clean_text
         |  FROM s2)
         |SELECT doc_id, n_emails, n_ips, n_phones,
         |  (len(regexp_extract_all(clean_text, '$emailPat'))
         |   + len(regexp_extract_all(clean_text, '$ipv4Pat'))
         |   + len(regexp_extract_all(clean_text, '$phonePat')))::BIGINT
         |    AS residual_pii,
         |  clean_text
         |FROM s3 ORDER BY doc_id""".stripMargin,

    // Same chunking (1-based inclusive list slice == Spark's slice(tk,
    // start, 8), both clamp the tail), NOT IN for the anti-join (chunk is
    // never null), string_agg ORDER BY pos for the reassembly; only full
    // 8-token chunks feed the dup set.
    "q81_chunk_dedup" ->
      s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
         |c AS (SELECT doc_id, i AS pos,
         |    array_to_string(tk[8*i+1:8*i+8], ' ') AS chunk,
         |    8*i+8 <= len(tk) AS is_full
         |  FROM d, unnest(generate_series(0,
         |    CAST(ceil(len(tk) / 8.0) AS INT) - 1)) AS t(i)),
         |dup AS (SELECT chunk FROM c WHERE is_full GROUP BY chunk
         |  HAVING count(DISTINCT doc_id) >= 2),
         |kept AS (SELECT doc_id, count(*)::BIGINT AS n_kept,
         |    string_agg(chunk, ' ' ORDER BY pos) AS kept_text
         |  FROM c WHERE chunk NOT IN (SELECT chunk FROM dup)
         |  GROUP BY doc_id)
         |SELECT d.doc_id, CAST(ceil(len(d.tk) / 8.0) AS BIGINT) AS n_chunks,
         |  (CAST(ceil(len(d.tk) / 8.0) AS BIGINT) - coalesce(k.n_kept, 0))::BIGINT
         |    AS n_removed,
         |  coalesce(k.kept_text, '') AS clean_text
         |FROM d LEFT JOIN kept k USING (doc_id)
         |ORDER BY d.doc_id""".stripMargin,

    // Sliding spans replayed with the same coverage semantics: every
    // stride-1 8-token window, df >= 2 across DISTINCT docs, positions
    // pos..pos+7 scrubbed, survivors string_agg'd in position order.
    "q167_span_scrub" ->
      s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
         |occ AS (SELECT doc_id, i AS pos,
         |    array_to_string(tk[i:i+7], ' ') AS gram
         |  FROM d, unnest(generate_series(1, len(tk) - 7)) AS t(i)
         |  WHERE len(tk) >= 8),
         |dup AS (SELECT gram FROM occ GROUP BY gram
         |  HAVING count(DISTINCT doc_id) >= 2),
         |cov AS (SELECT DISTINCT occ.doc_id, occ.pos + j AS pos
         |  FROM occ JOIN dup USING (gram),
         |    unnest(generate_series(0, 7)) AS u(j)),
         |toks AS (SELECT doc_id, i AS pos, tk[i] AS tok
         |  FROM d, unnest(generate_series(1, len(tk))) AS t(i)),
         |kept AS (SELECT t.doc_id, count(*)::BIGINT AS n_kept,
         |    string_agg(t.tok, ' ' ORDER BY t.pos) AS clean_text
         |  FROM toks t LEFT JOIN cov
         |    ON cov.doc_id = t.doc_id AND cov.pos = t.pos
         |  WHERE cov.doc_id IS NULL
         |  GROUP BY t.doc_id)
         |SELECT d.doc_id, len(d.tk)::BIGINT AS n_tokens,
         |  (len(d.tk) - coalesce(k.n_kept, 0))::BIGINT AS n_scrubbed,
         |  coalesce(k.clean_text, '') AS clean_text
         |FROM d LEFT JOIN kept k USING (doc_id)
         |ORDER BY d.doc_id""".stripMargin,

    "q82_common_chunks" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
        |c AS (SELECT doc_id,
        |    array_to_string(tk[8*i+1:8*i+8], ' ') AS chunk
        |  FROM d, unnest(generate_series(0,
        |    CAST(ceil(len(tk) / 8.0) AS INT) - 1)) AS t(i)
        |  WHERE 8*i+8 <= len(tk))
        |SELECT chunk, count(DISTINCT doc_id)::BIGINT AS df,
        |  count(*)::BIGINT AS n_occurrences
        |FROM c GROUP BY chunk HAVING count(DISTINCT doc_id) >= 2
        |ORDER BY df DESC, chunk LIMIT 20""".stripMargin,

    // Same deterministic (count desc, word asc) order on both sides; the
    // cumulative sum runs over the already-truncated 25-row table.
    "q83_vocab_coverage" ->
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

    // Same linear-idf arithmetic as the Spark side (tf * (N::double/df)),
    // so scores are bit-identical; the window rank mirrors TopKPerKey's
    // (score desc, term asc) total order.
    "q93_tfidf_terms" ->
      """WITH tk AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
        |  FROM documents),
        |tfc AS (SELECT doc_id, term, count(*)::BIGINT AS tf
        |  FROM tk GROUP BY doc_id, term),
        |vocab AS (SELECT term, count(*)::BIGINT AS df FROM tfc GROUP BY term),
        |n AS (SELECT count(*)::DOUBLE AS n_docs FROM documents),
        |scored AS (SELECT doc_id, tfc.term AS term, df,
        |    tf * (n_docs / df) AS score
        |  FROM tfc JOIN vocab ON tfc.term = vocab.term CROSS JOIN n),
        |ranked AS (SELECT doc_id, term, df, score,
        |    row_number() OVER (PARTITION BY doc_id
        |      ORDER BY score DESC, term) AS rn
        |  FROM scored)
        |SELECT doc_id, term, df, round(score, 4) AS score, rn::INT AS rn
        |FROM ranked WHERE rn <= 3 ORDER BY doc_id, rn""".stripMargin,

    // Same scaled-integer sums (exact, order-independent) and the same
    // fixed-index-order cosine as the Spark side — bit-identical doubles.
    "q96_label_centroids" ->
      s"""WITH se AS (SELECT label,
         |    list_transform(embedding,
         |      x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)) AS se
         |  FROM embeddings),
         |px AS (SELECT label, i AS pos, se[i] AS v
         |  FROM se, unnest(generate_series(1, len(se))) AS u(i)),
         |sums AS (SELECT label, pos, sum(v)::BIGINT AS sv
         |  FROM px GROUP BY label, pos),
         |cents AS (SELECT label,
         |    list_transform(list(sv ORDER BY pos), x -> x::DOUBLE) AS e
         |  FROM sums GROUP BY label)
         |SELECT a.label AS label_a, b.label AS label_b,
         |  round(${duckCos("a", "b")}, 4) AS cos
         |FROM cents a, cents b
         |WHERE a.label < b.label
         |ORDER BY label_a, label_b""".stripMargin,

    // The q25 band chain in its two-corpus form: train bands probe eval
    // bands (doc_id % 20 splits the slices), same rounded-before-
    // threshold jaccard, window arg-max mirrors TopKPerKey's
    // (score desc, id asc) order.
    "q97_cross_decontam" ->
      s"""WITH docs AS ($duckShingleDocs),
         |$duckBandsCtes,
         |cand AS (SELECT DISTINCT t.doc_id AS train_id, e.doc_id AS eval_id
         |  FROM bands t JOIN bands e ON t.b = e.b AND t.k0 = e.k0
         |    AND t.k1 = e.k1 AND t.k2 = e.k2
         |  WHERE t.doc_id % 20 != 0 AND e.doc_id % 20 = 0),
         |j AS (SELECT train_id, eval_id,
         |    round(len(list_intersect(da.sh, db.sh))::DOUBLE
         |      / len(list_distinct(list_concat(da.sh, db.sh))), 4) AS jaccard
         |  FROM cand JOIN docs da ON da.doc_id = train_id
         |    JOIN docs db ON db.doc_id = eval_id),
         |f AS (SELECT train_id, eval_id, jaccard,
         |    row_number() OVER (PARTITION BY train_id
         |      ORDER BY jaccard DESC, eval_id) AS rn
         |  FROM j WHERE jaccard >= 0.5)
         |SELECT train_id, eval_id, jaccard FROM f WHERE rn = 1
         |ORDER BY train_id""".stripMargin,

    "q98_stratified_sample" ->
      """SELECT doc_id, lang,
        |  cast('0x' || substr(md5(doc_id::VARCHAR), 1, 8) AS BIGINT) % 10000 AS bucket
        |FROM documents
        |WHERE cast('0x' || substr(md5(doc_id::VARCHAR), 1, 8) AS BIGINT) % 10000
        |  < CASE WHEN lang = 'en' THEN 2500 ELSE 7500 END
        |ORDER BY doc_id""".stripMargin,

    // Same exact e4 integer BM25 as the Spark side (k1=12/10, b=2500/
    // 7500 e4, linear N/df idf) — every per-term contribution is an
    // integer, so the cross-term sum hashes identically.
    "q99_bm25_search" -> {
      val terms = Seq("spark", "merge", "window")
      val tfCols = terms.zipWithIndex.map { case (tm, i) =>
        s"len(list_filter(string_split(text, ' '), x -> x = '$tm'))::BIGINT AS tf$i"
      }.mkString(",\n    ")
      val dfCols = terms.indices.map(i =>
        s"sum(CASE WHEN tf$i > 0 THEN 1 ELSE 0 END)::BIGINT AS df$i")
        .mkString(",\n    ")
      val scoreSum = terms.indices.map(i =>
        s"(CASE WHEN tf$i > 0 THEN (tf$i * 22000 * n * 10000) // " +
          s"((tf$i * 10000 + (12 * (2500 + (7500 * dl * 10000) // " +
          s"(sum_dl * 10000 // n))) // 10) * df$i) ELSE 0 END)")
        .mkString("\n    + ")
      s"""WITH base AS (SELECT doc_id,
         |    len(string_split(text, ' '))::BIGINT AS dl,
         |    $tfCols
         |  FROM documents),
         |st AS (SELECT count(*)::BIGINT AS n, sum(dl)::BIGINT AS sum_dl,
         |    $dfCols
         |  FROM base),
         |sc AS (SELECT doc_id, dl,
         |    ($scoreSum)::BIGINT AS score_e4
         |  FROM base CROSS JOIN st)
         |SELECT doc_id, dl, score_e4 FROM sc
         |WHERE score_e4 > 0
         |ORDER BY score_e4 DESC, doc_id LIMIT 10""".stripMargin
    },

    // Same df-capped inverted-index blocking and full-set containment,
    // rounded before the threshold.
    "q102_containment" ->
      s"""WITH sh_docs AS ($duckShingleDocs),
         |ex AS (SELECT doc_id, unnest(sh) AS shingle FROM sh_docs),
         |rare AS (SELECT shingle FROM
         |    (SELECT shingle, count(*) AS df FROM ex GROUP BY shingle)
         |  WHERE df BETWEEN 2 AND 20),
         |exr AS (SELECT doc_id, shingle FROM ex JOIN rare USING (shingle)),
         |cand AS (SELECT x.doc_id AS a, y.doc_id AS b
         |  FROM exr x JOIN exr y USING (shingle) WHERE x.doc_id != y.doc_id
         |  GROUP BY a, b HAVING count(*) >= 3),
         |c AS (SELECT a, b,
         |    round(len(list_intersect(da.sh, db.sh))::DOUBLE
         |      / len(da.sh)::DOUBLE, 4) AS containment
         |  FROM cand JOIN sh_docs da ON da.doc_id = a
         |    JOIN sh_docs db ON db.doc_id = b)
         |SELECT a, b, containment FROM c
         |WHERE containment >= 0.8 ORDER BY a, b""".stripMargin,

    // q64's running-sum offsets (cast from DuckDB's HUGEINT window sum
    // before the // arithmetic), then the same non-negative chunk-range
    // expansion and chunk-keyed rollup.
    "q103_overlap_chunks" ->
      s"""WITH RECURSIVE $duckBpeCtes,
         |t AS (SELECT d.doc_id, cast(coalesce(c.n, 0) AS BIGINT) AS n_tokens
         |  FROM documents d LEFT JOIN cnt c ON c.doc_id = d.doc_id),
         |c2 AS (SELECT doc_id, n_tokens,
         |    cast(sum(n_tokens) OVER (ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |      - n_tokens AS BIGINT) AS so
         |  FROM t),
         |ch AS (SELECT doc_id, n_tokens, so,
         |    unnest(generate_series(greatest(0, so // 1024 - 1),
         |      (so + n_tokens - 1) // 1024)) AS chunk_id
         |  FROM c2 WHERE n_tokens > 0)
         |SELECT chunk_id, count(*)::BIGINT AS n_docs,
         |  sum(least(so + n_tokens, (chunk_id + 2) * 1024)
         |    - greatest(so, chunk_id * 1024))::BIGINT AS chunk_tokens,
         |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
         |FROM ch GROUP BY chunk_id ORDER BY chunk_id""".stripMargin,

    // identical integer-mean centroids (floor via exact double division
    // on both engines), exact integer dots, one-sqrt finalization,
    // (cos desc, label) argmax
    "q127_centroid_classify" ->
      """WITH se AS (SELECT vec_id, label,
        |    list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE)
        |      * 1000000.0 + 0.5) AS BIGINT)) AS se
        |  FROM embeddings),
        |px AS (SELECT vec_id, label, i AS pos, se[i] AS v
        |  FROM se, unnest(generate_series(1, len(se))) AS u(i)),
        |nl AS (SELECT label, count(*)::BIGINT AS n FROM se GROUP BY label),
        |cm AS (SELECT c.label AS c_label, c.pos,
        |    CAST(floor(cv::DOUBLE / n) AS BIGINT) AS cm
        |  FROM (SELECT label, pos, sum(v)::BIGINT AS cv
        |        FROM px GROUP BY label, pos) c
        |  JOIN nl ON nl.label = c.label),
        |cn AS (SELECT c_label, sum(cm * cm)::BIGINT AS cn FROM cm GROUP BY c_label),
        |vn AS (SELECT vec_id, sum(v * v)::BIGINT AS vn FROM px GROUP BY vec_id),
        |sc AS (SELECT d.vec_id, d.c_label,
        |    round(dot::DOUBLE / (sqrt(vn.vn::DOUBLE) * sqrt(cn.cn::DOUBLE)), 4) AS cos
        |  FROM (SELECT px.vec_id, cm.c_label, sum(v * cm)::BIGINT AS dot
        |        FROM px JOIN cm ON cm.pos = px.pos
        |        GROUP BY px.vec_id, cm.c_label) d
        |  JOIN vn ON vn.vec_id = d.vec_id
        |  JOIN cn ON cn.c_label = d.c_label),
        |pick AS (SELECT vec_id, c_label,
        |    row_number() OVER (PARTITION BY vec_id
        |      ORDER BY cos DESC, c_label) AS rn
        |  FROM sc)
        |SELECT t.label AS true_label, p.c_label AS pred_label,
        |  count(*)::BIGINT AS n
        |FROM pick p JOIN embeddings t ON t.vec_id = p.vec_id
        |WHERE p.rn = 1
        |GROUP BY true_label, pred_label
        |ORDER BY true_label, pred_label""".stripMargin,

    // q51's exact rolling-hash + min-in-window chain over the planted
    // source, then the same df-band and bench-driven inverted join
    "q114_winnow_decontam" ->
      s"""WITH ${duckWinnowExCtes()},
        |dfq AS (SELECT fp, count(*) AS df FROM ex GROUP BY fp),
        |band AS (SELECT fp FROM dfq WHERE df BETWEEN 2 AND 20),
        |exb AS (SELECT doc_id, fp FROM ex JOIN band USING (fp)),
        |bench AS (SELECT doc_id AS bench_id, fp FROM exb WHERE doc_id % 97 = 0),
        |m AS (SELECT c.doc_id, count(DISTINCT c.fp)::BIGINT AS n_shared_fp,
        |    min(b.bench_id) AS bench_match
        |  FROM exb c JOIN bench b ON b.fp = c.fp
        |  WHERE c.doc_id % 97 != 0 GROUP BY c.doc_id)
        |SELECT doc_id, n_shared_fp, bench_match FROM m
        |WHERE n_shared_fp >= 2 ORDER BY doc_id""".stripMargin,

    // the same bounded per-length collapse, strict-preceding running max
    // and strict-> keep test
    "q110_skyline" ->
      s"""WITH $duckQualityCtes,
         |pl AS (SELECT n_tokens, max(quality_e4) AS len_max
         |  FROM qual GROUP BY n_tokens),
         |fr AS (SELECT n_tokens, coalesce(max(len_max) OVER (ORDER BY n_tokens
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1) AS shorter_max
         |  FROM pl)
         |SELECT q.doc_id, q.n_tokens, q.quality_e4
         |FROM qual q JOIN fr USING (n_tokens)
         |WHERE q.quality_e4 > fr.shorter_max
         |ORDER BY q.n_tokens, q.doc_id""".stripMargin,

    // ANSI ntile (extra rows to the leading buckets) over the identical
    // deterministic order — decile counts and boundaries must agree
    "q111_quantile_norm" ->
      s"""WITH $duckQualityCtes,
         |d AS (SELECT dd.lang, q.doc_id, q.quality_e4,
         |    ntile(10) OVER (PARTITION BY dd.lang
         |      ORDER BY q.quality_e4, q.doc_id)::BIGINT AS decile
         |  FROM qual q JOIN documents dd ON dd.doc_id = q.doc_id)
         |SELECT lang, decile, count(*)::BIGINT AS n_docs,
         |  min(quality_e4) AS min_q, max(quality_e4) AS max_q,
         |  sum(quality_e4)::BIGINT AS sum_q
         |FROM d GROUP BY lang, decile ORDER BY lang, decile""".stripMargin,

    // Same capped integer idf, same blocked candidates, same one-sqrt
    // finalization — the cosine is rounded BEFORE the threshold on both
    // sides (q25's tie-safety contract).
    "q109_sparse_cosine" ->
      s"""WITH sh_docs AS ($duckShingleDocs),
         |ex AS (SELECT doc_id, unnest(sh) AS shingle FROM sh_docs),
         |nd AS (SELECT count(*)::BIGINT AS n FROM documents),
         |dfq AS (SELECT shingle, count(*)::BIGINT AS df FROM ex GROUP BY shingle),
         |w AS (SELECT doc_id, ex.shingle,
         |    least((nd.n * 10000) // df, 1000000) AS w
         |  FROM ex JOIN dfq ON ex.shingle = dfq.shingle CROSS JOIN nd),
         |norms AS (SELECT doc_id, sum(w * w)::BIGINT AS nrm FROM w GROUP BY doc_id),
         |rare AS (SELECT shingle FROM dfq WHERE df BETWEEN 2 AND 20),
         |exr AS (SELECT doc_id, shingle FROM ex JOIN rare USING (shingle)),
         |cand AS (SELECT x.doc_id AS a, y.doc_id AS b
         |  FROM exr x JOIN exr y USING (shingle) WHERE x.doc_id < y.doc_id
         |  GROUP BY a, b HAVING count(*) >= 3),
         |dotq AS (SELECT a, b, sum(wa.w * wb.w)::BIGINT AS dot
         |  FROM cand
         |  JOIN w wa ON wa.doc_id = a
         |  JOIN w wb ON wb.doc_id = b AND wb.shingle = wa.shingle
         |  GROUP BY a, b),
         |sc AS (SELECT a, b,
         |    round(dot::DOUBLE / (sqrt(na.nrm::DOUBLE) * sqrt(nb.nrm::DOUBLE)), 4)
         |      AS cosine
         |  FROM dotq JOIN norms na ON na.doc_id = a
         |  JOIN norms nb ON nb.doc_id = b)
         |SELECT a, b, cosine FROM sc WHERE cosine >= 0.5
         |ORDER BY a, b""".stripMargin,

    // Document frequency over the SAME distinct-shingle sets as q25/q27
    // (shared duckShingleDocs CTE), summed back per document. sum(CASE)
    // is HUGEINT in DuckDB — cast to BIGINT to match Spark's long.
    "q80_dup_shingle_frac" ->
      s"""WITH sh_docs AS ($duckShingleDocs),
         |ex AS (SELECT doc_id, unnest(sh) AS shingle FROM sh_docs),
         |freq AS (SELECT shingle, count(*) AS df FROM ex GROUP BY shingle),
         |g AS (SELECT doc_id, count(*)::BIGINT AS n_shingles,
         |    sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END)::BIGINT AS n_dup
         |  FROM ex JOIN freq USING (shingle) GROUP BY doc_id)
         |SELECT doc_id, n_shingles, n_dup,
         |  ((n_dup * 1000000) // n_shingles)::BIGINT AS dup_frac_e6
         |FROM g ORDER BY doc_id""".stripMargin,

    "q26_simhash" ->
      s"""SELECT doc_id, simhash FROM ($duckSimhashDocs) ORDER BY doc_id""".stripMargin,

    "q51_rolling_fingerprint" ->
      """WITH n AS (SELECT doc_id,
        |    lower(regexp_replace(text, '[^a-z0-9]', '', 'g')) AS t
        |  FROM documents),
        |r AS (SELECT doc_id, list_transform(generate_series(1, length(t) - 7), i ->
        |    list_reduce(list_prepend(cast(0 AS BIGINT), list_transform(generate_series(0, 7),
        |      j -> cast(ascii(substr(t, i + j, 1)) AS BIGINT))),
        |      (acc, c) -> (acc * 257 + c) % 1000000007)) AS rh
        |  FROM n WHERE length(t) >= 11),
        |w AS (SELECT doc_id, list_transform(generate_series(1, len(rh) - 3),
        |    i -> list_min(rh[i:i+3])) AS wins
        |  FROM r)
        |SELECT doc_id, len(list_distinct(wins)) AS n_fingerprints,
        |  cast(list_min(wins) AS BIGINT) AS min_fp
        |FROM w ORDER BY doc_id""".stripMargin,

    "q50_shingle_gen" ->
      s"""WITH sg AS (SELECT source,
         |    unnest(list_transform(generate_series(1, len($duckToks) - 2),
         |      i -> $duckToks[i] || ' ' || $duckToks[i+1] || ' ' || $duckToks[i+2])) AS shingle
         |  FROM documents)
         |SELECT source, count(DISTINCT shingle) AS n_distinct_shingles,
         |  count(*) AS n_shingles
         |FROM sg GROUP BY source ORDER BY source""".stripMargin,

    "q27_ngram_jaccard" ->
      s"""WITH sh_docs AS ($duckShingleDocs),
         |ranked AS (SELECT doc_id, simhash,
         |    row_number() OVER (ORDER BY simhash, doc_id) AS rn
         |  FROM ($duckSimhashDocs)),
         |pairs AS (SELECT x.doc_id AS a_id, y.doc_id AS b_id
         |  FROM ranked x JOIN ranked y ON y.rn - x.rn IN (1, 2))
         |SELECT a_id, b_id,
         |  round(len(list_intersect(da.sh, db.sh))::DOUBLE
         |    / len(list_distinct(list_concat(da.sh, db.sh))), 4) AS jaccard
         |FROM pairs JOIN sh_docs da ON da.doc_id = a_id JOIN sh_docs db ON db.doc_id = b_id
         |ORDER BY a_id, b_id""".stripMargin,

    "q32_simhash_hamming" ->
      s"""WITH ranked AS (SELECT doc_id, simhash,
         |    row_number() OVER (ORDER BY simhash, doc_id) AS rn
         |  FROM ($duckSimhashDocs)),
         |pairs AS (SELECT x.doc_id AS a_id, y.doc_id AS b_id,
         |    cast(bit_count(xor(x.simhash, y.simhash)) AS BIGINT) AS hamming
         |  FROM ranked x JOIN ranked y ON y.rn = x.rn + 1)
         |SELECT a_id, b_id, hamming FROM pairs WHERE hamming <= 12
         |ORDER BY a_id, b_id""".stripMargin,

    "q28_cosine_topk" ->
      s"""WITH emb AS ($duckEmb),
         |scored AS (SELECT q.vec_id AS q_id, b.vec_id AS neighbor_id,
         |    ${duckCos("q", "b")} AS cos
         |  FROM emb q JOIN emb b ON b.vec_id != q.vec_id
         |  WHERE q.vec_id < 5),
         |ranked AS (SELECT q_id, neighbor_id, cos,
         |    row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, neighbor_id) AS rn
         |  FROM scored)
         |SELECT q_id, neighbor_id, round(cos, 4) AS cosine, rn
         |FROM ranked WHERE rn <= 10 ORDER BY q_id, rn""".stripMargin,

    "q29_cosine_neardup" ->
      s"""WITH emb AS ($duckEmb),
         |pairs AS (SELECT a.vec_id AS a_id, b.vec_id AS b_id,
         |    ${duckCos("a", "b")} AS cos
         |  FROM emb a JOIN emb b ON a.bucket = b.bucket AND a.vec_id < b.vec_id)
         |SELECT a_id, b_id, round(cos, 4) AS cosine
         |FROM pairs WHERE cos >= 0.3 ORDER BY a_id, b_id""".stripMargin,

    // Same recursive-closure shape as q66, over the q29 pair set.
    "q67_embed_dedup_clusters" ->
      s"""WITH RECURSIVE emb AS ($duckEmb),
         |nd AS (SELECT a.vec_id AS a_id, b.vec_id AS b_id
         |  FROM emb a JOIN emb b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
         |  WHERE ${duckCos("a", "b")} >= 0.3),
         |edges AS (SELECT a_id AS u, b_id AS v FROM nd
         |          UNION SELECT b_id, a_id FROM nd),
         |reach AS (
         |  SELECT u AS node, v AS r FROM edges
         |  UNION
         |  SELECT c.node, e.v FROM reach c JOIN edges e ON e.u = c.r),
         |cmap AS (SELECT node, least(node, min(r)) AS cluster_id
         |  FROM reach GROUP BY node)
         |SELECT d.vec_id,
         |  coalesce(c.cluster_id, d.vec_id) AS cluster_id,
         |  CASE WHEN coalesce(c.cluster_id, d.vec_id) = d.vec_id
         |       THEN 1 ELSE 0 END AS is_canonical
         |FROM embeddings d LEFT JOIN cmap c ON c.node = d.vec_id
         |ORDER BY d.vec_id""".stripMargin,

    // 1-based list indexing: e[c+1] here mirrors Spark's e[c] above.
    "q54_ann_fixed" ->
      s"""WITH emb AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS e,
         |    (2*e[1] - e[5] + e[9] >= 0)::INT * 8
         |    + (e[2] + e[6] - 2*e[10] >= 0)::INT * 4
         |    + (e[3] - e[7] + e[11] >= 0)::INT * 2
         |    + (-e[4] + e[8] + 2*e[12] >= 0)::INT AS b54
         |  FROM embeddings),
         |scored AS (SELECT q.vec_id AS q_id, b.vec_id AS neighbor_id,
         |    ${duckCos("q", "b")} AS cos
         |  FROM emb q JOIN emb b ON b.b54 = q.b54 AND b.vec_id != q.vec_id
         |  WHERE q.vec_id < 5),
         |ranked AS (SELECT q_id, neighbor_id, cos,
         |    row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, neighbor_id) AS rn
         |  FROM scored)
         |SELECT q_id, neighbor_id, round(cos, 4) AS cosine, rn
         |FROM ranked WHERE rn <= 10 ORDER BY q_id, rn""".stripMargin,

    "q63_contamination" ->
      s"""WITH docs AS ($duckShingleDocs),
         |bench AS (SELECT DISTINCT unnest(sh) AS sgl FROM docs WHERE doc_id < 25),
         |corpus AS (SELECT doc_id, unnest(sh) AS sgl FROM docs WHERE doc_id >= 25),
         |j AS (SELECT c.doc_id, (b.sgl IS NOT NULL)::INT AS hit
         |  FROM corpus c LEFT JOIN bench b ON c.sgl = b.sgl)
         |SELECT doc_id, count(*) AS n_shingles,
         |  cast(sum(hit) AS BIGINT) AS n_hits,
         |  round(sum(hit)::DOUBLE / count(*), 4) AS contamination
         |FROM j GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q65_split_assign" ->
      s"""SELECT doc_id,
         |  cast('0x' || substr(md5(doc_id::VARCHAR), 1, 8) AS BIGINT) % 100 AS bucket,
         |  CASE WHEN cast('0x' || substr(md5(doc_id::VARCHAR), 1, 8) AS BIGINT) % 100 < 90
         |         THEN 'train'
         |       WHEN cast('0x' || substr(md5(doc_id::VARCHAR), 1, 8) AS BIGINT) % 100 < 95
         |         THEN 'val'
         |       ELSE 'test' END AS split
         |FROM documents ORDER BY doc_id""".stripMargin,

    "q64_concat_chunks" ->
      s"""WITH RECURSIVE $duckBpeCtes,
         |t AS (SELECT d.doc_id, cast(coalesce(c.n, 0) AS BIGINT) AS n_tokens
         |  FROM documents d LEFT JOIN cnt c ON c.doc_id = d.doc_id),
         |c2 AS (SELECT doc_id, n_tokens,
         |    sum(n_tokens) OVER (ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS fin
         |  FROM t)
         |SELECT doc_id, n_tokens,
         |  cast(fin - n_tokens AS BIGINT) AS start_offset,
         |  cast((fin - n_tokens) // 2048 AS BIGINT) AS chunk_first,
         |  cast(CASE WHEN n_tokens = 0 THEN 0
         |    ELSE (fin - 1) // 2048 - (fin - n_tokens) // 2048 + 1 END AS BIGINT) AS n_chunks
         |FROM c2 ORDER BY doc_id""".stripMargin,

    // Quantization mirrors QuantizeVec exactly: floor(x * (127/greatest(
    // maxabs, 1e-30))) — scale computed FIRST, then one multiply, same
    // association order, so the doubles (and the 4-decimal hash) agree.
    "q61_quantized_topk" ->
      s"""WITH emb AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS e
         |  FROM embeddings),
         |q AS (SELECT vec_id,
         |    list_transform(e, x -> floor(x * (127.0 /
         |      greatest(list_max(list_transform(e, v -> abs(v))), 1e-30)))) AS qe
         |  FROM emb),
         |scored AS (SELECT a.vec_id AS q_id, b.vec_id AS neighbor_id,
         |    list_sum(list_transform(generate_series(1, len(a.qe)), i -> a.qe[i] * b.qe[i]))
         |      / (sqrt(list_sum(list_transform(a.qe, x -> x * x)))
         |         * sqrt(list_sum(list_transform(b.qe, x -> x * x)))) AS cos
         |  FROM q a JOIN q b ON b.vec_id != a.vec_id
         |  WHERE a.vec_id < 5),
         |ranked AS (SELECT q_id, neighbor_id, cos,
         |    row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, neighbor_id) AS rn
         |  FROM scored)
         |SELECT q_id, neighbor_id, round(cos, 4) AS cosine, rn
         |FROM ranked WHERE rn <= 10 ORDER BY q_id, rn""".stripMargin,
  )
}
