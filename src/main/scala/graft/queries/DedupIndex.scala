package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * INCREMENTAL DEDUP — dedup a new batch against a PERSISTED fingerprint
 * index without reprocessing the corpus. This is the operational shape at
 * 100 TB: each incoming crawl dump is judged against the fingerprints of
 * everything already ingested (exact md5 + MinHash-LSH band keys +
 * shingle sets for candidate verification); the corpus itself is never
 * re-read, re-shingled, or re-hashed.
 *
 * Index layout under java.io.tmpdir (dir-hash keyed like
 * [[Physical]]'s write paths, overwrite per run):
 *   exact/     md5(text) → (keeper = min doc_id, n_docs)
 *   bands/     (b, k0, k1, k2) → doc_id    — [[TextPipeline.minhashBands]]
 *   shingles/  doc_id → sh                 — for jaccard verification
 *
 * Scale posture: the delta is small relative to the store, so every join
 * here is delta-driven — exact lookup is an equi-join on the md5 key,
 * candidate generation is an equi-join on the 4-part band key, and the
 * jaccard verification touches only candidate corpus docs. On a real
 * deployment the three store tables would be written `bucketBy` their
 * join keys (the q57 layout) so repeated delta runs pay no store-side
 * exchange; the sandbox keeps plain parquet and lets AQE plan the joins.
 * Nothing is O(corpus × delta): band blocking bounds the candidate set
 * exactly as in the q25 self-join.
 *
 * The corpus/delta split is deterministic (doc_id mod 10: 0-6 corpus,
 * 7-9 delta) so the whole flow — build, then judge the delta — is
 * expressible as one oracled query (q84): DuckDB recomputes both sides
 * from scratch and must land on identical verdicts. The regenerated
 * corpus contains NO exact duplicates, which would leave the md5 path a
 * permanently-'unique' no-op — so delta docs with doc_id % 10 = 7 are
 * PLANTED as exact copies of corpus doc (doc_id − 7) (a pure
 * deterministic join, done identically in both engines), guaranteeing
 * all three verdict classes are exercised cross-engine.
 */
object DedupIndex {

  // `variant` separates INDEPENDENT store instances over the same corpus:
  // q84/q91 keep the default (their contract needs the PRISTINE
  // corpus-only store), while the absorbing lifecycles (q135's two-batch,
  // q134's mix) get their own roots — without this, every absorb flipped
  // the shared store non-pristine and q84 paid a full rebuild on each
  // subsequent lap (measured 1.36 s -> 2.44 s in the r15 bench before
  // the split).
  private val store = new StoreMeta.Store("dedup_idx", corpusFingerprint,
    StoreMeta.pristine)

  private[graft] def root(dir: String, variant: String = ""): String =
    store.root(dir, variant)

  private[queries] def corpusDocs(s: SparkSession, dir: String): DataFrame =
    Tables.t(s, dir, "documents").where("doc_id % 10 < 7")

  /** The delta slice, with doc_id % 10 = 7 docs planted as exact copies
    * of corpus doc (doc_id − 7). Left join + coalesce: a missing source
    * (impossible with dense ids, but cheap to guard) keeps the original
    * text instead of dropping the doc. */
  private[graft] def deltaDocs(s: SparkSession, dir: String): DataFrame = {
    val all = Tables.t(s, dir, "documents")
    all.where("doc_id % 10 >= 7").select(col("doc_id"), col("text"))
      .join(all.select(col("doc_id").as("src_id"), col("text").as("src_text")),
        col("src_id") === col("doc_id") - lit(7) && col("doc_id") % 10 === 7,
        "left")
      .selectExpr("doc_id", "coalesce(src_text, text) AS text")
  }

  /** Batch 1 of the TWO-BATCH lifecycle (q135): doc_id % 10 ∈ {7, 8},
    * mod-7 docs planted from the corpus exactly as in [[deltaDocs]]. */
  private[graft] def batch1Docs(s: SparkSession, dir: String): DataFrame =
    deltaDocs(s, dir).where("doc_id % 10 < 9")

  /** Batch 2 (q135): doc_id % 10 = 9, with doc_id % 20 = 9 docs PLANTED
    * as exact copies of doc (doc_id − 1) — a batch-1 (mod-8) doc — so the
    * judge-against-ABSORBED path is exercised: whether the copy reads
    * 'exact' (keeper = the absorbed batch-1 doc) depends on batch 1's own
    * verdicts, which is precisely the multi-batch store state under test.
    * [[deltaDocs]] (q84's contract) keeps mod-9 docs RAW — this planting
    * exists only on the q135 surface. */
  private[graft] def batch2Docs(s: SparkSession, dir: String): DataFrame = {
    val all = Tables.t(s, dir, "documents")
    all.where("doc_id % 10 = 9").select(col("doc_id"), col("text"))
      .join(all.select(col("doc_id").as("src_id"), col("text").as("src_text")),
        col("src_id") === col("doc_id") - lit(1) && col("doc_id") % 20 === 9,
        "left")
      .selectExpr("doc_id", "coalesce(src_text, text) AS text")
  }

  /** Content fingerprint of the corpus slice: row count + order-independent
    * sum of per-doc md5 prefixes. One cheap corpus scan — any text or
    * membership change moves it; doc-id-preserving regenerations (the
    * driver rewrites testdata between rounds) are exactly what it
    * catches. */
  private def corpusFingerprint(s: SparkSession, dir: String): String =
    // Memoized behind the data dir's file-stat stamp like every other
    // store's staleness probe (r21: this was the one un-memoized
    // fingerprint — ensureBases made every transactional query pay this
    // corpus scan once per lap; a regenerated corpus still re-fingerprints
    // because the stamp changes with the source file stats).
    Tables.memoFingerprint(s, dir, "dedup.base")(
      StoreMeta.fingerprintOf(corpusDocs(s, dir), "text"))

  /** Fingerprint the corpus slice into the persisted index; returns the
    * index path. The meta record is written LAST — a crashed build
    * leaves no meta and judges rebuild. */
  def build(s: SparkSession, dir: String, variant: String = ""): String = {
    val path = root(dir, variant)
    writeDerived(s, corpusDocs(s, dir), path, "overwrite")
    store.built(s, dir, variant)
    path
  }

  /** Derive and write the store's three tables — exact (fp → keeper,
    * within-frame duplicates collapsed to min doc_id), shingles, bands —
    * from a (doc_id, text) frame. THE single definition of the dedup
    * derivation, shared by [[build]] (overwrite), [[absorbDocs]]
    * (append) and [[StoreTxn.stage]] (transaction layers): a change to
    * the derivation cannot silently diverge the lifecycles. */
  private[queries] def writeDerived(s: SparkSession, docs: DataFrame,
      base: String, mode: String): Unit = {
    val sh = Caches.persist(TextPipeline.shinglesOf(docs))
    // The exact table and the shingle/band pair are independent outputs
    // of the same input frame: overlap them (guide §2.6) instead of
    // paying three write jobs' scheduling latency back to back. The
    // bands write stays AFTER the shingles write only because both read
    // the shared `sh` cache — the first action fills it, the second
    // reuses it.
    Jobs.par(
      () => docs.selectExpr("md5(text) AS fp", "doc_id")
        .groupBy(col("fp"))
        .agg(min(col("doc_id")).as("keeper"), count(lit(1)).as("n_docs"))
        .write.mode(mode).parquet(s"$base/exact"),
      () => {
        sh.write.mode(mode).parquet(s"$base/shingles")
        TextPipeline.minhashBands(sh).write.mode(mode).parquet(s"$base/bands")
      })
  }

  /** Delete the meta record so the next buildIfStale rebuilds. */
  private[queries] def invalidate(s: SparkSession, dir: String,
      variant: String = ""): Unit = store.invalidate(s, dir, variant)

  /** True iff the store exists, its recorded corpus fingerprint matches
    * the live corpus slice, and no absorb has extended it past the
    * pristine corpus-only state (q84/q91's oracled contract). */
  def isCurrent(s: SparkSession, dir: String, variant: String = ""): Boolean =
    store.isCurrent(s, dir, variant)

  /** Build only when the store is missing, stale, or absorbed-into —
    * the deployment steady state is build-once-judge-many, and the
    * judge-side cost is the recurring one worth measuring. */
  def buildIfStale(s: SparkSession, dir: String, variant: String = ""): String =
    store.buildIfStale(s, dir, variant)(build(s, dir, variant))

  /** The store's kept-document ids — every `keeper` in the exact table
    * (corpus keepers at build; plus each absorbed batch's survivors).
    * This IS the deduped-corpus membership a downstream pipeline should
    * read instead of re-running dedup (q134's store-composition claim);
    * #docs-sized, id-only, no text touched. */
  def keeperIds(s: SparkSession, dir: String, variant: String = ""): DataFrame =
    s.read.parquet(s"${root(dir, variant)}/exact").select(col("keeper").as("doc_id"))

  /** Judge every delta doc against the persisted index: exact dup (md5
    * hit), near dup (shared LSH band, verified at jaccard ≥ 0.5 on the
    * stored shingle sets), or unique. */
  def deltaVerdicts(s: SparkSession, dir: String): DataFrame =
    judgeDocs(s, dir, deltaDocs(s, dir))

  /** [[deltaVerdicts]] over an arbitrary (doc_id, text) batch frame — the
    * multi-batch lifecycle surface (q135 judges batch 2 against the store
    * AFTER batch 1 was absorbed). All joins stay delta-driven equi-joins
    * against the store tables; nothing rescans the absorbed corpus. */
  def judgeDocs(s: SparkSession, dir: String, delta: DataFrame,
      variant: String = ""): DataFrame = {
    val path = root(dir, variant)
    judgeAgainst(s, delta,
      s.read.parquet(s"$path/exact"),
      s.read.parquet(s"$path/shingles"),
      s.read.parquet(s"$path/bands"))
  }

  /** The judge over EXPLICIT store tables — [[judgeDocs]] passes the
    * single-directory store reads; [[StoreTxn]] passes base ∪
    * committed-transaction-layer unions, so the same verdict plan serves
    * both the single-store and the transactional lifecycles. */
  private[queries] def judgeAgainst(s: SparkSession, delta: DataFrame,
      exact: DataFrame, shingles: DataFrame, bands: DataFrame): DataFrame = {
    val dsh = Caches.persist(TextPipeline.shinglesOf(delta))

    val cand = TextPipeline.minhashBands(dsh)
      .withColumnRenamed("doc_id", "d_id")
      .join(bands.withColumnRenamed("doc_id", "c_id"),
        Seq("b", "k0", "k1", "k2"))
      .select(col("d_id"), col("c_id")).distinct()
    val near = TextPipeline
      .jaccardOf(cand, dsh, shingles, "d_id", "c_id")
      .filter(col("jaccard") >= 0.5)
      .groupBy(col("d_id"))
      .agg(count(lit(1)).as("n_near"), min(col("c_id")).as("near_match"))

    delta.selectExpr("doc_id", "md5(text) AS fp")
      .join(exact, Seq("fp"), "left")
      .join(near, col("doc_id") === col("d_id"), "left")
      .selectExpr("doc_id",
        "cast(keeper IS NOT NULL AS int) AS exact_dup",
        "coalesce(keeper, -1L) AS exact_keeper",
        "coalesce(n_near, 0L) AS n_near",
        "coalesce(near_match, -1L) AS near_match",
        "CASE WHEN keeper IS NOT NULL THEN 'exact' " +
          "WHEN coalesce(n_near, 0L) > 0 THEN 'near' " +
          "ELSE 'unique' END AS verdict")
      .orderBy(col("doc_id"))
  }

  /** Absorb the judged delta's KEPT docs (verdict 'unique' — exact and
    * near dups are dropped; that is the dedup policy) into the store so
    * the next batch is judged against them. Append-only: existing store
    * files are never rewritten, and the exact table's fp-uniqueness
    * invariant holds structurally — a 'unique' verdict means the fp is
    * not in the store, and within-batch duplicates collapse in the
    * groupBy before the append. */
  def absorb(s: SparkSession, dir: String, variant: String = ""): Unit =
    absorbDocs(s, dir, deltaDocs(s, dir), variant)

  /** [[absorb]] over an arbitrary batch frame — judge it against the
    * store, then absorb its 'unique' survivors (same policy).
    *
    * The kept set is STAGED to parquet before any store table is touched:
    * its plan READS the store (the judge's joins), and Spark recaches
    * path-based reads after a write to that path — so appending to
    * `exact/` first and then computing shingles from a store-derived
    * (even persisted) frame re-judges the batch against its OWN absorbed
    * fingerprints and absorbs EMPTY shingle/band sets (the r15 q135
    * oracle caught exactly this: absorbed docs were exact-visible but
    * never near-visible). The staging read decouples every append from
    * the store state, the same device as AnnIndex.append's
    * materialize-before-mutate.
    *
    * Crash bracket ([[StoreMeta.Store.absorb]]): meta turns stale FIRST,
    * so an absorb killed between appends leaves a store the oracled
    * (pristine-requiring) paths rebuild rather than silently serve. */
  def absorbDocs(s: SparkSession, dir: String, delta: DataFrame,
      variant: String = ""): Unit = {
    val path = root(dir, variant)
    val keptIds = judgeDocs(s, dir, delta, variant)
      .where("verdict = 'unique'").select(col("doc_id"))
    val staging = s"$path/staging_absorb"
    delta.join(keptIds, Seq("doc_id"))
      .write.mode("overwrite").parquet(staging)
    store.absorb(s, dir, variant)(
      writeDerived(s, s.read.parquet(staging), path, "append"))
    StoreMeta.delete(s, staging)
  }

  /** COMPACT the layered store: absorb is append-only, so every batch
    * stacks another file layer under exact/ / shingles/ / bands/ — after
    * months of daily batches the store is thousands of small files and
    * every judge join pays the listing + open cost (the classic
    * small-file problem). Compaction rewrites each table as one merged,
    * coalesced layer. It is SEMANTICS-PRESERVING by construction — the
    * rows are copied, not recomputed — which is exactly what q143
    * oracles: judge-after-compact must equal the never-compacted q135
    * verdicts cross-engine.
    *
    * The kernel's staged compact ([[StoreMeta.Store.compact]]) brackets
    * it: each table's rewrite reads the path it replaces, so the merged
    * copy is staged first and swapped in under a torn meta.
    *
    * On a real deployment the rewrite is also the clustering opportunity:
    * exact/ would be written bucketBy(fp), bands/ bucketBy the band key,
    * so post-compaction judges pay no store-side exchange (the q57
    * layout). The sandbox keeps plain coalesced parquet. */
  def compact(s: SparkSession, dir: String, variant: String = ""): Unit = {
    val path = root(dir, variant)
    val tables = Seq("exact", "shingles", "bands")
    store.compact(s, dir, variant, tables) { staging =>
      // each table's stage is independent of the others': overlap the
      // write jobs
      Jobs.par(tables.map(t => () =>
        s.read.parquet(s"$path/$t").coalesce(4)
          .write.mode("overwrite").parquet(s"$staging/$t")): _*)
    }
  }

  /** q91: the same delta judged as a STREAM against the persisted store —
    * the shape a continuously-ingesting pipeline runs. Streaming
    * constraints dictate the plan: only ONE stateful aggregation is
    * allowed per query, so the minhash signature is computed IN-ROW
    * (the codegen'd [[graft.functions.MinhashSignature]], the same
    * per-shingle (h1 + j·h2) mod 2³² minima the batch path and the
    * DuckDB oracle take), candidate generation and jaccard
    * verification are stateless stream-static equi-joins against the
    * store, and the three evidence kinds (seen / exact / near) union
    * into a single per-doc aggregation. Verdict assembly and ordering
    * run on the materialized batch result. Bit-identical to
    * [[deltaVerdicts]] (spec-pinned) and shares q84's oracle verbatim. */
  def streamDeltaVerdicts(s: SparkSession, dir: String): DataFrame = {
    val path = root(dir)
    val raw = s.read.parquet(s"$dir/documents.parquet") // schema probe
    val srcTexts = Tables.t(s, dir, "documents")
      .select(col("doc_id").as("src_id"), col("text").as("src_text"))
    val delta = s.readStream.schema(raw.schema).parquet(s"$dir/documents*.parquet")
      .where("doc_id % 10 >= 7").select(col("doc_id"), col("text"))
      .join(srcTexts,
        col("src_id") === col("doc_id") - lit(7) && col("doc_id") % 10 === 7,
        "left")
      .selectExpr("doc_id", "coalesce(src_text, text) AS text")

    val seen = delta.selectExpr("doc_id", "'seen' AS kind",
      "cast(null AS bigint) AS keeper", "cast(null AS bigint) AS c_id")
    val exact = delta.selectExpr("doc_id", "md5(text) AS fp")
      .join(s.read.parquet(s"$path/exact"), Seq("fp"))
      .selectExpr("doc_id", "'exact' AS kind", "keeper",
        "cast(null AS bigint) AS c_id")

    graft.functions.MinhashSignature.register(s)
    graft.functions.SetCounts.register(s)
    val sigs = TextPipeline.shinglesOf(delta)
      .selectExpr("doc_id", "sh", "minhash_sig(sh) AS ms")
    val bandArr = (0 until 4).map(b =>
      s"struct($b AS b, ms[${3 * b}] AS k0, ms[${3 * b + 1}] AS k1, ms[${3 * b + 2}] AS k2)")
      .mkString("array(", ", ", ")")
    val near = sigs.selectExpr("doc_id", "sh", s"explode($bandArr) AS band")
      .selectExpr("doc_id", "sh", "band.b AS b",
        "band.k0 AS k0", "band.k1 AS k1", "band.k2 AS k2")
      .join(s.read.parquet(s"$path/bands").withColumnRenamed("doc_id", "c_id"),
        Seq("b", "k0", "k1", "k2"))
      .join(s.read.parquet(s"$path/shingles")
          .select(col("doc_id").as("c_id2"), col("sh").as("csh")),
        col("c_id") === col("c_id2"))
      // count-only set kernels — same rounded jaccard as the builtin
      // size(array_intersect)/size(array_union) form (SetCounts)
      .where(expr("round(cast(intersect_count(sh, csh) AS double)" +
        " / union_count(sh, csh), 4) >= 0.5"))
      .selectExpr("doc_id", "'near' AS kind",
        "cast(null AS bigint) AS keeper", "c_id")

    // one stateful aggregation; collect_set both dedupes a candidate
    // that matched on several bands and stays bounded by the per-doc
    // candidate count
    val agg = seen.unionByName(exact).unionByName(near)
      .groupBy(col("doc_id"))
      .agg(min(when(col("kind") === "exact", col("keeper"))).as("keeper"),
        collect_set(when(col("kind") === "near", col("c_id"))).as("near_set"))

    Streaming.runToCompletion(s, agg, "delta_dedup")
      .selectExpr("doc_id",
        "cast(keeper IS NOT NULL AS int) AS exact_dup",
        "coalesce(keeper, -1L) AS exact_keeper",
        "cast(size(near_set) AS bigint) AS n_near",
        "coalesce(array_min(near_set), -1L) AS near_match",
        "CASE WHEN keeper IS NOT NULL THEN 'exact' " +
          "WHEN size(near_set) > 0 THEN 'near' " +
          "ELSE 'unique' END AS verdict")
      .orderBy(col("doc_id"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q84_delta_dedup" -> ((s, dir) => { buildIfStale(s, dir); deltaVerdicts(s, dir) }),
    "q91_stream_delta_dedup" -> ((s, dir) => { buildIfStale(s, dir); streamDeltaVerdicts(s, dir) }),
    // TWO-BATCH lifecycle, oracled cross-engine: pristine store → judge +
    // absorb batch 1 → judge batch 2 against the ABSORBED store (corpus ∪
    // batch-1 survivors). This closes the gap q84 leaves: q84 oracles the
    // judge against the pristine store only; here the store state a
    // SECOND batch sees — including batch-2 docs planted as copies of
    // absorbed batch-1 docs — must match DuckDB recomputing the whole
    // two-batch history from scratch.
    "q135_two_batch_dedup" -> ((s, dir) => {
      buildIfStale(s, dir, "b2")
      absorbDocs(s, dir, batch1Docs(s, dir), "b2")
      judgeDocs(s, dir, batch2Docs(s, dir), "b2")
    }),
    // q135 with a COMPACTION between absorb and the second judge: the
    // rewrite must be invisible to every verdict (same oracle verbatim),
    // which is the cross-engine proof that store maintenance — the thing
    // a 100 TB deployment runs nightly against the small-file buildup —
    // never changes what the store answers.
    "q143_compact_dedup" -> ((s, dir) => {
      buildIfStale(s, dir, "cp")
      absorbDocs(s, dir, batch1Docs(s, dir), "cp")
      compact(s, dir, "cp")
      judgeDocs(s, dir, batch2Docs(s, dir), "cp")
    })
  )

  // DuckDB recomputes the whole flow from scratch: the planted
  // corpus∪delta source, one shared shingle/band chain over it (the
  // planted copy and its source have identical text, hence identical
  // bands), candidates restricted to delta×corpus pairs, the same
  // rounded-jaccard cut, the same exact-md5 lookup. q91 (the streaming
  // form) must land on the same verdicts, so it shares this oracle
  // verbatim.
  private lazy val deltaOracle: String =
      s"""WITH src AS (
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
         |near AS (SELECT d_id, count(*)::BIGINT AS n_near,
         |    min(c_id) AS near_match
         |  FROM cand
         |  JOIN docs da ON da.doc_id = d_id
         |  JOIN docs db ON db.doc_id = c_id
         |  WHERE round(len(list_intersect(da.sh, db.sh))::DOUBLE
         |      / len(list_distinct(list_concat(da.sh, db.sh))), 4) >= 0.5
         |  GROUP BY d_id),
         |ex AS (SELECT md5(text) AS fp, min(doc_id) AS keeper
         |  FROM src WHERE doc_id % 10 < 7 GROUP BY fp),
         |d AS (SELECT doc_id, md5(text) AS fp
         |  FROM src WHERE doc_id % 10 >= 7)
         |SELECT d.doc_id,
         |  (ex.keeper IS NOT NULL)::INT AS exact_dup,
         |  coalesce(ex.keeper, -1) AS exact_keeper,
         |  coalesce(near.n_near, 0)::BIGINT AS n_near,
         |  coalesce(near.near_match, -1) AS near_match,
         |  CASE WHEN ex.keeper IS NOT NULL THEN 'exact'
         |       WHEN coalesce(near.n_near, 0) > 0 THEN 'near'
         |       ELSE 'unique' END AS verdict
         |FROM d LEFT JOIN ex USING (fp)
         |LEFT JOIN near ON near.d_id = d.doc_id
         |ORDER BY d.doc_id""".stripMargin

  // The two-batch oracle recomputes the WHOLE lifecycle from scratch:
  // batch-1 verdicts against the corpus, the absorbed store = corpus ∪
  // batch-1 'unique' survivors (min-per-md5, mirroring absorb's groupBy),
  // then batch-2 verdicts — exact fps against the grown exact table,
  // band candidates against corpus-or-kept docs only. One shared
  // shingle/band chain over the planted corpus∪batch1∪batch2 source
  // serves every stage (planted copies share their source's shingles).
  /** The two-batch judge history as a CTE chain (src → … → d2), shared
    * by q135/q143's verdict oracle and [[StoreTxn]]'s q151 streaming
    * ingest oracle (which extends it with the batch-2 keeper fold). */
  private[queries] lazy val twoBatchCtes: String =
      s"""src AS (
         |  SELECT doc_id, text FROM documents WHERE doc_id % 10 < 7
         |  UNION ALL
         |  SELECT d0.doc_id, coalesce(o.text, d0.text) AS text
         |  FROM documents d0 LEFT JOIN documents o
         |    ON o.doc_id = d0.doc_id - 7 AND d0.doc_id % 10 = 7
         |  WHERE d0.doc_id % 10 IN (7, 8)
         |  UNION ALL
         |  SELECT d0.doc_id, coalesce(o.text, d0.text) AS text
         |  FROM documents d0 LEFT JOIN documents o
         |    ON o.doc_id = d0.doc_id - 1 AND d0.doc_id % 20 = 9
         |  WHERE d0.doc_id % 10 = 9),
         |docs AS (${TextPipeline.duckShingleDocsFrom("src")}),
         |${TextPipeline.duckBandsCtes},
         |cand1 AS (SELECT DISTINCT x.doc_id AS d_id, y.doc_id AS c_id
         |  FROM bands x JOIN bands y ON x.b = y.b AND x.k0 = y.k0
         |    AND x.k1 = y.k1 AND x.k2 = y.k2
         |  WHERE x.doc_id % 10 IN (7, 8) AND y.doc_id % 10 < 7),
         |near1 AS (SELECT d_id, count(*)::BIGINT AS n_near
         |  FROM cand1
         |  JOIN docs da ON da.doc_id = d_id
         |  JOIN docs db ON db.doc_id = c_id
         |  WHERE round(len(list_intersect(da.sh, db.sh))::DOUBLE
         |      / len(list_distinct(list_concat(da.sh, db.sh))), 4) >= 0.5
         |  GROUP BY d_id),
         |ex0 AS (SELECT md5(text) AS fp, min(doc_id) AS keeper
         |  FROM src WHERE doc_id % 10 < 7 GROUP BY fp),
         |d1 AS (SELECT doc_id, md5(text) AS fp
         |  FROM src WHERE doc_id % 10 IN (7, 8)),
         |u1 AS (SELECT d1.doc_id, d1.fp FROM d1
         |  LEFT JOIN ex0 USING (fp)
         |  LEFT JOIN near1 ON near1.d_id = d1.doc_id
         |  WHERE ex0.keeper IS NULL AND coalesce(near1.n_near, 0) = 0),
         |kept1 AS (SELECT fp, min(doc_id) AS keeper FROM u1 GROUP BY fp),
         |ex2 AS (SELECT fp, keeper FROM ex0
         |  UNION ALL SELECT fp, keeper FROM kept1),
         |cand2 AS (SELECT DISTINCT x.doc_id AS d_id, y.doc_id AS c_id
         |  FROM bands x JOIN bands y ON x.b = y.b AND x.k0 = y.k0
         |    AND x.k1 = y.k1 AND x.k2 = y.k2
         |  WHERE x.doc_id % 10 = 9
         |    AND (y.doc_id % 10 < 7
         |         OR y.doc_id IN (SELECT doc_id FROM u1))),
         |near2 AS (SELECT d_id, count(*)::BIGINT AS n_near,
         |    min(c_id) AS near_match
         |  FROM cand2
         |  JOIN docs da ON da.doc_id = d_id
         |  JOIN docs db ON db.doc_id = c_id
         |  WHERE round(len(list_intersect(da.sh, db.sh))::DOUBLE
         |      / len(list_distinct(list_concat(da.sh, db.sh))), 4) >= 0.5
         |  GROUP BY d_id),
         |d2 AS (SELECT doc_id, md5(text) AS fp
         |  FROM src WHERE doc_id % 10 = 9)""".stripMargin

  private lazy val twoBatchOracle: String =
      s"""WITH $twoBatchCtes
         |SELECT d2.doc_id,
         |  (ex2.keeper IS NOT NULL)::INT AS exact_dup,
         |  coalesce(ex2.keeper, -1) AS exact_keeper,
         |  coalesce(near2.n_near, 0)::BIGINT AS n_near,
         |  coalesce(near2.near_match, -1) AS near_match,
         |  CASE WHEN ex2.keeper IS NOT NULL THEN 'exact'
         |       WHEN coalesce(near2.n_near, 0) > 0 THEN 'near'
         |       ELSE 'unique' END AS verdict
         |FROM d2 LEFT JOIN ex2 USING (fp)
         |LEFT JOIN near2 ON near2.d_id = d2.doc_id
         |ORDER BY d2.doc_id""".stripMargin

  val oracles: Map[String, String] = Map(
    "q84_delta_dedup" -> deltaOracle,
    "q91_stream_delta_dedup" -> deltaOracle,
    "q135_two_batch_dedup" -> twoBatchOracle,
    // compaction is semantics-preserving, so the never-compacted
    // two-batch recompute is the oracle verbatim
    "q143_compact_dedup" -> twoBatchOracle
  )
}
