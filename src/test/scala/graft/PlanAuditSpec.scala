package graft

import org.scalatest.funsuite.AnyFunSuite

/**
 * Physical-plan regression guards: the scale properties README.md claims
 * are asserted here, so a refactor that silently loses a pushed filter, a
 * broadcast, or a top-k operator fails CI rather than surfacing as a 100x
 * slowdown on a real cluster.
 */
class PlanAuditSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  // scoped: construction-time persists (rankBy etc.) are released at
  // bracket exit instead of accumulating for the life of the JVM — plan
  // inspection never executes the DataFrame, so the caches die unused.
  private def plan(name: String): String =
    graft.queries.Caches.scoped(
      SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString)

  test("q02 filter and projection reach the parquet scan") {
    val p = plan("q02_filter_project")
    assert(p.contains("PushedFilters: ["), p)
    assert(p.contains("GreaterThanOrEqual(l_quantity,45"), p)
    // pruned read schema: only the 4 needed columns + filter columns
    assert(!p.contains("l_partkey"), "scan reads columns the query never uses")
  }

  test("q03 dimension joins broadcast, fact join does not") {
    val p = plan("q03_revenue_by_nation")
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("q06 top-k plans as TakeOrderedAndProject, not a global sort") {
    val p = plan("q06_topk_orders")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q01 aggregation is two-phase (map-side partial)") {
    val p = plan("q01_pricing_summary")
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
  }

  test("q04 semi join stays a join, not a distinct+inner rewrite") {
    val p = plan("q04_semi_join")
    assert(p.contains("LeftSemi"), p)
  }

  test("q25 and q27 candidate joins are hash/merge equi-joins, never nested-loop") {
    for (q <- Seq("q25_minhash_neardup", "q27_ngram_jaccard")) {
      val p = plan(q)
      assert(!p.contains("BroadcastNestedLoopJoin"),
        s"$q planned a nested-loop join:\n$p")
      assert(!p.contains("CartesianProduct"), s"$q planned a cartesian product:\n$p")
    }
  }

  test("q27/q32 sorted-neighborhood rank has no single-partition exchange") {
    // The global row_number used to be Window.orderBy with no partitionBy
    // — Spark plans that as Exchange SinglePartition and one task sorts
    // the entire table. rankBy replaces it with a range-partitioned
    // two-level rank; this pins the fix.
    for (q <- Seq("q27_ngram_jaccard", "q32_simhash_hamming", "q64_concat_chunks")) {
      val p = plan(q)
      assert(!p.contains("SinglePartition"),
        s"$q moves the table through one partition:\n$p")
    }
  }

  test("q28/q31/q49 top-k is a bounded aggregation, not a rank window") {
    // row_number().over(partitionBy(q_id)) funneled ALL scored pairs into
    // #probes partitions, each task sorting its probe's full candidate set.
    // TopKPerKey replaces it with an ObjectHashAggregate whose map-side
    // partials are k-bounded; this pins that no Window sneaks back in.
    for (q <- Seq("q28_cosine_topk", "q31_ann_lsh", "q49_ann_ivf", "q60_ann_budgeted",
        "q61_quantized_topk", "q62_ann_quantized")) {
      val p = plan(q)
      assert(!p.contains("Window"), s"$q ranks via a window again:\n$p")
      assert(p.contains("ObjectHashAggregate"),
        s"$q top-k is not the bounded aggregation:\n$p")
    }
  }

  test("q31/q49 bucket assignment is a codegen'd native expression, not a ScalaUDF") {
    // Round-7 upgrade (VERDICT r5 task 4): LSH/IVF bucket assignment runs
    // once per corpus row — the last place a ScalaUDF's boxing + codegen
    // fence sat on a hot path. LshBuckets/IvfLists replace them; this pins
    // that no UDF sneaks back into either ANN plan.
    for (q <- Seq("q31_ann_lsh", "q49_ann_ivf", "q60_ann_budgeted")) {
      val p = plan(q)
      assert(!p.contains("ScalaUDF"), s"$q bucket assignment regressed to a ScalaUDF:\n$p")
    }
  }

  test("q58/q59 persisted-index ANN runs the same shape as the live paths") {
    // The loaded-index queries must not degrade to shapes the live q31/q49
    // paths already banned: no rank window (k-bounded ObjectHashAggregate),
    // no ScalaUDF (probe-side bucketing is the codegen'd expression over
    // loaded geometry), no nested-loop/cartesian candidate join. Building
    // the index (first call) is a side effect of planning here; the plan
    // inspected is the query-time load-probe-join.
    for (q <- Seq("q58_ann_persisted", "q59_ann_ivf_persisted")) {
      val p = plan(q)
      assert(!p.contains("Window"), s"$q ranks via a window:\n$p")
      assert(p.contains("ObjectHashAggregate"),
        s"$q top-k is not the bounded aggregation:\n$p")
      assert(!p.contains("ScalaUDF"), s"$q regressed to a ScalaUDF:\n$p")
      assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
        s"$q planned an all-pairs join:\n$p")
    }
  }

  test("q63 contamination: broadcast membership join, corpus side never shuffles") {
    // The benchmark shingle set must broadcast (benchmarks are tiny next
    // to the corpus); a sort-merge join here would shuffle every corpus
    // shingle row — the exact shape this query exists to avoid.
    val p = plan("q63_contamination")
    assert(p.contains("BroadcastHashJoin"), s"q63 lost the broadcast membership join:\n$p")
    assert(!p.contains("SortMergeJoin"), s"q63 shuffles the corpus for the join:\n$p")
  }

  test("q66 clustering: equi-joins only, and the star iteration stays bounded") {
    // The transitive closure must never plan an all-pairs shape: every
    // large/small-star step is a groupBy + equi-join on the node id, and
    // the final document labeling is an equi-join on doc_id. (Planning
    // this query RUNS the CC iteration — the converged edges are an eager
    // checkpoint — so the audit also proves convergence on the real
    // near-dup graph, within the operator's maxIter bound.)
    val p = plan("q66_dedup_clusters")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"q66 planned a nested-loop join:\n$p")
    assert(!p.contains("CartesianProduct"), s"q66 planned a cartesian product:\n$p")
    assert(!p.contains("Window"), s"q66 ranks via a window:\n$p")
  }

  test("q68/q69 dedup decisions: equi-joins only, q68 arg-max stays an aggregation") {
    // q68's per-cluster canonical selection must plan as a (partial-able)
    // aggregation keyed on cluster_id — a row_number window over the
    // corpus here would funnel every document through sort-per-cluster
    // tasks; q69's three-way evidence union feeds one closure and must
    // never widen to an all-pairs shape. (q69 keeps the RangedPrefixSum
    // per-range window from its simhash rank — partitioned, not global —
    // so only q68 pins Window's absence.)
    for (q <- Seq("q68_quality_canonical", "q69_unified_dedup")) {
      val p = plan(q)
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$q planned a nested-loop join:\n$p")
      assert(!p.contains("CartesianProduct"), s"$q planned a cartesian product:\n$p")
    }
    val p68 = plan("q68_quality_canonical")
    assert(!p68.contains("Window"), s"q68 ranks via a window:\n$p68")
    // r13: the (cluster -> canonical) table is bounded by the pair
    // closure and must BROADCAST back to the corpus — the r12 shape
    // aggregated over all documents and met them again in a corpus-by-
    // corpus sort-merge join
    assert(p68.contains("BroadcastHashJoin"),
      s"q68 canonical join is not broadcast:\n$p68")
    assert(!p68.contains("SortMergeJoin"),
      s"q68 shuffles the corpus to meet the bounded canon table:\n$p68")
  }

  test("q70/q71/q72 mix shaping: bounded aggregation, broadcast weights, no windows") {
    // q71's domain cap must stay the bounded TopKPerKey aggregation — a
    // row_number window would shuffle and sort every document per domain;
    // q72's 5-row weight table must broadcast back to documents (the
    // corpus never shuffles for the join); q70's per-gram counting must
    // never widen past keyed equi-joins.
    val p71 = plan("q71_domain_cap")
    assert(!p71.contains("Window"), s"q71 ranks via a window:\n$p71")
    assert(p71.contains("ObjectHashAggregate"),
      s"q71 lost the bounded top-k aggregation:\n$p71")
    val p72 = plan("q72_temperature_weights")
    assert(p72.contains("BroadcastHashJoin"),
      s"q72 weight join is not broadcast:\n$p72")
    assert(!p72.contains("SortMergeJoin"),
      s"q72 shuffles the corpus for the weight join:\n$p72")
    // q70's repetition counts are per-document facts computed in-row —
    // the plan must be a pure scan+project with NO join and NO
    // aggregation exchange (the explode+groupBy shape would re-shuffle
    // the tokenized corpus to compute what every row holds locally)
    val p70 = plan("q70_repetition_flags")
    assert(!p70.contains("Join"), s"q70 joins for per-row facts:\n$p70")
    assert(!p70.contains("HashAggregate"), s"q70 aggregates per-row facts:\n$p70")
    // q77's id sequence summaries are per-row facts too: a pure
    // scan+project through the codegen'd bpe_encode_ids — no join, no
    // aggregation exchange, no UDF
    val p77 = plan("q77_bpe_ids")
    assert(!p77.contains("Join"), s"q77 joins for per-row facts:\n$p77")
    assert(!p77.contains("HashAggregate"), s"q77 aggregates per-row facts:\n$p77")
    assert(!p77.contains("ScalaUDF"), s"q77 regressed to a ScalaUDF:\n$p77")
  }

  test("q79 scrub is pure scan+project; q80 never joins on the shingle key") {
    // q79's redaction chain is per-row regexp work — no join, no
    // aggregation exchange, no UDF (the regexp exprs are codegen'd)
    val p79 = plan("q79_pii_redact")
    assert(!p79.contains("Join"), s"q79 joins for per-row facts:\n$p79")
    assert(!p79.contains("HashAggregate"), s"q79 aggregates per-row facts:\n$p79")
    assert(!p79.contains("ScalaUDF"), s"q79 regressed to a ScalaUDF:\n$p79")
    // q80 must keep the df=1 ownership form: document frequency collapses
    // in ONE shingle-keyed aggregation and the only join is the compact
    // doc-keyed left join — a join carrying the shingle key would re-ship
    // the corpus-shingle rows and reintroduce the hot-key skew the
    // rewrite removed (9.6 s -> 3.6 s at sf0.1)
    val p80 = plan("q80_dup_shingle_frac")
    val joinLines = p80.linesIterator.filter(_.contains("Join")).toSeq
    assert(joinLines.nonEmpty, s"q80 lost its doc-keyed join:\n$p80")
    assert(joinLines.forall(l => !l.contains("shingle")),
      s"q80 joins on the shingle key:\n${joinLines.mkString("\n")}")
  }

  test("q81 anti-joins a filtered dup set; q83 top-V is TakeOrdered, not a global sort") {
    // q81's removal must stay a left-anti equi-join against the df>=2
    // subset (never a cartesian/NLJ), and reassembly must sort per-row
    // chunk lists, not run a corpus window
    val p81 = plan("q81_chunk_dedup")
    assert(p81.contains("LeftAnti"), s"q81 lost the anti-join:\n$p81")
    assert(!p81.contains("CartesianProduct") && !p81.contains("BroadcastNestedLoopJoin"),
      s"q81 planned an unbounded join:\n$p81")
    assert(!p81.contains("Window"), s"q81 reassembles via a corpus window:\n$p81")
    // q83's truncation must plan as TakeOrderedAndProject over the
    // vocabulary aggregate — a global Sort of the corpus (or of the full
    // word table feeding the window before the limit) is the regression;
    // q82's top-20 boilerplate cut holds the same bar over the chunk table
    val p83 = plan("q83_vocab_coverage")
    assert(p83.contains("TakeOrderedAndProject"),
      s"q83 top-V is not TakeOrderedAndProject:\n$p83")
    val p82 = plan("q82_common_chunks")
    assert(p82.contains("TakeOrderedAndProject"),
      s"q82 top-20 is not TakeOrderedAndProject:\n$p82")
  }

  test("q86 funnel: one sort feeds all three windows; q87 retention never joins") {
    // the three cumulative flags share (user_id | ts, event_id) — one
    // exchange + ONE sort chains three Window operators; a second Sort
    // means the shared ordering was lost, an extra Exchange means a
    // window re-partitioned the events
    val p86 = plan("q86_funnel")
    assert("\\bWindow\\b".r.findAllIn(p86).size == 3, s"q86 window count:\n$p86")
    assert("\\bSort\\b".r.findAllIn(p86).size == 1, s"q86 re-sorts:\n$p86")
    assert("\\bExchange\\b".r.findAllIn(p86).size <= 2,
      s"q86 extra exchange (windows or agg re-partitioned):\n$p86")
    // the cohort day is a whole-partition window over the collapsed
    // (user, day) set — the join-back-to-events form is the regression
    val p87 = plan("q87_retention")
    assert(!p87.contains("Join"), s"q87 joins for the cohort day:\n$p87")
  }

  test("q84 delta judging is equi-joins only against the store") {
    // exact lookup = md5 equi-join, candidates = 4-part band-key
    // equi-join, jaccard = doc-id equi-joins — an unbounded join here
    // means the delta is being compared against the whole corpus
    val p = plan("q84_delta_dedup")
    assert(!p.contains("CartesianProduct"), s"q84 planned a cartesian:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"q84 planned a nested-loop join:\n$p")
  }

  test("q141/q142 embedding dedup judges: equi-joins only against the bucket store") {
    // candidates = bucket equi-join, rehydration = vec_id equi-join —
    // an unbounded join here means delta vectors are being cosine'd
    // against the whole corpus instead of their own buckets; q142's
    // judge-against-absorbed runs the identical shape over the grown
    // bucket table
    for (q <- Seq("q141_embed_dedup_store", "q142_embed_two_batch")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q planned a cartesian:\n$p")
      assert(!p.contains("BroadcastNestedLoopJoin"),
        s"$q planned a nested-loop join:\n$p")
      assert(!p.contains("ScalaUDF"), s"$q regressed to a ScalaUDF:\n$p")
    }
  }

  test("r16 additions q161-q164 keep their parent queries' plan shapes") {
    // q161: judge-after-compact must stay q153-shaped (the rewrite is
    // reader-invisible, including to the plan)
    val p61 = plan("q161_decontam_compacted")
    assert(p61.contains("BroadcastHashJoin"),
      s"q161's store join must broadcast the benchmark fingerprints:\n$p61")
    assert(!p61.contains("SortMergeJoin"),
      s"q161 shuffles the batch fingerprint stream:\n$p61")
    assert(!p61.contains("ScalaUDF"), s"q161 regressed to a ScalaUDF:\n$p61")
    // q162: the transactional graph read keeps q150's shape — top-M heap
    // backbone, broadcast wedge joins, and the layered read comes from
    // the store paths, never the corpus table
    val p62 = plan("q162_tx_graph_store")
    assert(p62.contains("TakeOrderedAndProject"),
      s"q162 backbone pays a global sort:\n$p62")
    assert(!p62.contains("SortMergeJoin"),
      s"q162 shuffles the bounded edge set:\n$p62")
    assert(!p62.contains("lineitem"),
      s"q162's read must come from the transactional store:\n$p62")
    assert(!p62.contains("ScalaUDF"), s"q162 regressed to a ScalaUDF:\n$p62")
    // q163: the transactional embed judge keeps q141/q142's equi-join
    // discipline over base ∪ layers
    val p63 = plan("q163_tx_embed_judge")
    assert(!p63.contains("CartesianProduct"), s"q163 planned a cartesian:\n$p63")
    assert(!p63.contains("BroadcastNestedLoopJoin"),
      s"q163 planned a nested-loop join:\n$p63")
    assert(!p63.contains("ScalaUDF"), s"q163 regressed to a ScalaUDF:\n$p63")
    // q164: judging ran inside foreachBatch — the terminal read is a
    // plain scan+sort of the gate sink, no join, no UDF
    val p64 = plan("q164_stream_decontam_gate")
    assert(!p64.contains("Join"), s"q164's terminal read re-joins:\n$p64")
    assert(!p64.contains("ScalaUDF"), s"q164 regressed to a ScalaUDF:\n$p64")
    // q165: the vacuum lifecycle's terminal read is the q151 dashboard —
    // two group-sized aggregates joined, never a cartesian or a UDF
    val p65 = plan("q165_tx_vacuum")
    assert(!p65.contains("CartesianProduct"), s"q165 planned a cartesian:\n$p65")
    assert(!p65.contains("ScalaUDF"), s"q165 regressed to a ScalaUDF:\n$p65")
    // q166: the streamed ingest pair's terminal read keeps q162's shape
    val p66 = plan("q166_stream_tx_ingest_pair")
    assert(p66.contains("TakeOrderedAndProject"),
      s"q166 backbone pays a global sort:\n$p66")
    assert(!p66.contains("SortMergeJoin"),
      s"q166 shuffles the bounded edge set:\n$p66")
    assert(!p66.contains("ScalaUDF"), s"q166 regressed to a ScalaUDF:\n$p66")
  }

  test("q167/q168 keep scrub and stream-gate plan shapes") {
    // q167: span fan-out, dup aggregation, coverage and anti-join are all
    // equi-hash ops — any cartesian/NLJ here is quadratic in corpus size
    val p67 = plan("q167_span_scrub")
    assert(!p67.contains("CartesianProduct"), s"q167 planned a cartesian:\n$p67")
    assert(!p67.contains("BroadcastNestedLoopJoin"),
      s"q167 planned a nested-loop join:\n$p67")
    assert(!p67.contains("ScalaUDF"), s"q167 regressed to a ScalaUDF:\n$p67")
    // q168: judging ran inside foreachBatch — the terminal read is a
    // bare scan+filter+sort over the verdict table (q164's contract)
    val p68 = plan("q168_stream_embed_gate")
    assert(!p68.contains("Join"), s"q168's terminal read re-joins:\n$p68")
    assert(!p68.contains("ScalaUDF"), s"q168 regressed to a ScalaUDF:\n$p68")
    // q169: the transactional ANN probe — probes broadcast into the
    // bucket equi-join, never a cartesian or NLJ; scoring stays native
    val p69 = plan("q169_tx_ann_search")
    assert(p69.contains("BroadcastHashJoin"),
      s"q169's probe join must broadcast the probes:\n$p69")
    assert(!p69.contains("CartesianProduct"), s"q169 planned a cartesian:\n$p69")
    assert(!p69.contains("BroadcastNestedLoopJoin"),
      s"q169 planned a nested-loop join:\n$p69")
    assert(!p69.contains("ScalaUDF"), s"q169 regressed to a ScalaUDF:\n$p69")
  }

  test("q143/q144/q145 maintenance lifecycles keep the store plan shapes") {
    // q143's post-compaction judge must stay q84-shaped (the rewrite
    // changes files, never the join strategy); q144's vocab join must
    // BROADCAST the |vocab|-bounded word table to the exploded delta
    // tokens — a sort-merge join there shuffles the whole token stream;
    // q145's dashboard read merges the compacted partials (bounded agg,
    // no corpus re-read)
    for (q <- Seq("q143_compact_dedup", "q144_oov_store",
        "q145_stream_stats_store", "q146_stats_retention")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q planned a cartesian:\n$p")
      assert(!p.contains("BroadcastNestedLoopJoin"),
        s"$q planned a nested-loop join:\n$p")
      assert(!p.contains("ScalaUDF"), s"$q regressed to a ScalaUDF:\n$p")
    }
    val p44 = plan("q144_oov_store")
    assert(p44.contains("BroadcastHashJoin"),
      s"q144's vocab join must broadcast the bounded vocabulary:\n$p44")
    assert(!p44.contains("SortMergeJoin"),
      s"q144 shuffles the token stream for the vocab join:\n$p44")
    val p45 = plan("q145_stream_stats_store")
    assert(!p45.contains("SortMergeJoin"),
      s"q145's store read must not join at all:\n$p45")
  }

  test("q134 store-composed mix: equi-joins only; cap is bounded agg; stats broadcast") {
    // the mix over the absorbed stores must keep both contracts: the
    // judge half stays q84-shaped (equi-joins, no cartesian), and the
    // mix half keeps q73's shape — domain cap through the k-bounded
    // ObjectHashAggregate (no rank window over kept docs) with the
    // #groups stats table and the capped doc set on broadcast sides
    val p = plan("q134_store_mix")
    assert(!p.contains("CartesianProduct"), s"q134 planned a cartesian:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"q134 planned a nested-loop join:\n$p")
    assert(p.contains("ObjectHashAggregate"),
      s"q134's domain cap lost the bounded aggregation:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"q134's stats/cap joins must broadcast the small sides:\n$p")
    assert(!p.contains("ScalaUDF"), s"q134 regressed to a ScalaUDF:\n$p")
  }

  test("q147 transactional mix keeps q134's shape; q148/q149 are pure store reads") {
    // the commit-log indirection adds input PATHS, never plan shape: the
    // judge stays equi-join-only, the cap stays the bounded aggregation,
    // the stats table stays broadcast
    val p = plan("q147_tx_store_mix")
    assert(!p.contains("CartesianProduct"), s"q147 planned a cartesian:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"q147 planned a nested-loop join:\n$p")
    assert(p.contains("ObjectHashAggregate"),
      s"q147's domain cap lost the bounded aggregation:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"q147's stats/cap joins must broadcast the small sides:\n$p")
    assert(!p.contains("ScalaUDF"), s"q147 regressed to a ScalaUDF:\n$p")
    // the transactional vocab read stays q140-shaped: merged bounded
    // partials, window over the top-25 only, no corpus path
    val p55 = plan("q155_tx_vocab_coverage")
    assert(!p55.contains("documents"),
      s"q155's coverage read re-reads the corpus:\n$p55")
    assert(!p55.contains("ScalaUDF"), s"q155 regressed to a ScalaUDF:\n$p55")
    // log-prefix time travel is likewise a pure store read
    val p56 = plan("q156_tx_stats_asof")
    assert(!p56.contains("documents"),
      s"q156's as-of read re-reads the corpus:\n$p56")
    assert(!p56.contains("Join"), s"q156 grew a join:\n$p56")
    // the capstone loop keeps the q134 mix shape: bounded cap agg,
    // broadcast small sides, no cartesian/NLJ/UDF — the decontam gate
    // adds an id anti-join, never a fingerprint re-shuffle of the mix
    val p58 = plan("q158_tx_full_loop")
    assert(!p58.contains("CartesianProduct"), s"q158 planned a cartesian:\n$p58")
    assert(!p58.contains("BroadcastNestedLoopJoin"),
      s"q158 planned a nested-loop join:\n$p58")
    assert(p58.contains("ObjectHashAggregate"),
      s"q158's domain cap lost the bounded aggregation:\n$p58")
    assert(p58.contains("BroadcastHashJoin"),
      s"q158's stats/cap joins must broadcast the small sides:\n$p58")
    assert(!p58.contains("ScalaUDF"), s"q158 regressed to a ScalaUDF:\n$p58")
    // time-travel verbs are FILTERS over the bounded partials table:
    // no join, no corpus path in the scan
    for (q <- Seq("q148_stats_asof", "q149_stats_changes")) {
      val pt = plan(q)
      assert(!pt.contains("Join"), s"$q grew a join — it must be a layer filter:\n$pt")
      assert(!pt.contains("documents"), s"$q re-reads the corpus:\n$pt")
      assert(!pt.contains("ScalaUDF"), s"$q regressed to a ScalaUDF:\n$pt")
    }
  }

  test("q150 store-backed triangles keep q128's read shape") {
    // backbone cut from the MERGED STORE must still be TakeOrdered and
    // the wedge-close joins must still broadcast the bounded edge set;
    // the only corpus-path work is the lifecycle's own pair aggregation
    val p = plan("q150_graph_store")
    assert(p.contains("TakeOrderedAndProject"),
      s"q150 backbone pays a global sort instead of a top-M heap:\n$p")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2,
      s"q150 triangle stage lost its broadcasts:\n$p")
    assert(!p.contains("SortMergeJoin"), s"q150 shuffles the bounded edge set:\n$p")
    assert(!p.contains("lineitem"),
      s"q150's read must come from the store, not the corpus:\n$p")
    // the compacted-store label propagation runs its rounds DRIVER-SIDE
    // over the contract-bounded backbone (q106's device, r22): the
    // terminal plan must be the bounded local histogram — no corpus
    // scan, no join; the backbone cut's top-M heap is audited on the
    // construction path in the q132 test below
    val p52 = plan("q152_graph_store_lp")
    assert(p52.contains("LocalTableScan"),
      s"q152's result is no longer the bounded driver histogram:\n$p52")
    assert(!p52.contains("FileScan") && !p52.contains("lineitem"),
      s"q152's terminal read touches the corpus:\n$p52")
  }

  test("q153 decontam judge broadcasts the benchmark store to the batch fingerprints") {
    // the whole point of the store shape: corpus×bench, bench side
    // shipped — no shuffle of the batch fingerprint stream for the join
    val p = plan("q153_decontam_store")
    assert(p.contains("BroadcastHashJoin"),
      s"q153's store join must broadcast the benchmark fingerprints:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"q153 shuffles the batch fingerprint stream:\n$p")
    assert(!p.contains("ScalaUDF"), s"q153 regressed to a ScalaUDF:\n$p")
  }

  test("q139/q140 store reads: windows over bounded store tables, no corpus re-read") {
    // both lifecycle reads merge the persisted partials (a bounded
    // groupBy) — the only corpus-scale work is the build/absorb
    // aggregation; the quantile walk and the coverage rank window run
    // over the #bins / top-25 tables respectively
    // (q140's coverage total joins via a deliberate 1-row broadcast NLJ,
    // q83's established shape — CartesianProduct stays banned for both)
    for (q <- Seq("q139_quantile_store", "q140_vocab_store")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q planned a cartesian:\n$p")
      assert(!p.contains("SortMergeJoin"), s"$q sort-merge joins:\n$p")
      assert(!p.contains("ScalaUDF"), s"$q regressed to a ScalaUDF:\n$p")
    }
  }

  test("q75 token budget: offsets broadcast back, corpus never sort-merge joins") {
    // the per-language start offsets are a #languages-row table — they
    // must broadcast to the prefix-summed corpus, never shuffle it; the
    // only windows are RangedPrefixSum's partition-local cumsum and the
    // bounded offsets prefix (both keyed, neither corpus-global)
    val p = plan("q75_token_budget")
    assert(p.contains("BroadcastHashJoin"), s"q75 offsets join not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"q75 shuffles the corpus for the offsets join:\n$p")
    // q76 composes the q72 budgets into the same take: offsets AND
    // budgets are both #languages-row tables and must reach the corpus
    // through ONE broadcast join, never a shuffle
    val p76 = plan("q76_weighted_take")
    assert(p76.contains("BroadcastHashJoin"), s"q76 budget join not broadcast:\n$p76")
    assert(!p76.contains("SortMergeJoin"),
      s"q76 shuffles the corpus for the budget join:\n$p76")
  }

  test("q73 mix pipeline: bounded cap, broadcast token join, no windows") {
    val p = plan("q73_mix_pipeline")
    assert(!p.contains("Window"), s"q73 ranks via a window:\n$p")
    assert(p.contains("ObjectHashAggregate"),
      s"q73 lost the bounded cap aggregation:\n$p")
    // the final text/token join must broadcast the capped id set — the
    // corpus never shuffles to meet a bounded survivor list
    assert(p.contains("BroadcastHashJoin"), s"q73 token join not broadcast:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"q73 planned a non-equi join:\n$p")
  }

  test("q78 mix take: composition keeps the cap bounded and the take broadcast") {
    // q73's pinned stages must SURVIVE composition into the take — the
    // bounded cap aggregation and the broadcast survivor join — and the
    // take side must stay q76's shape: offsets+budgets (#languages rows)
    // reach the prefix-summed survivors through broadcast. The ONLY
    // corpus-by-corpus join anywhere is the dedup keeper semi-join
    // (mixKept's documented second shuffle); a second sort-merge join
    // would mean the survivors shuffled to meet a bounded table.
    val p = plan("q78_mix_take")
    assert(p.contains("ObjectHashAggregate"),
      s"q78 lost the bounded cap aggregation:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"q78 has no broadcast joins:\n$p")
    assert(!p.contains("CartesianProduct"), s"q78 planned a cartesian:\n$p")
    // the ONE nested-loop join is the 1-row s6_total scalar attach to the
    // #languages-row weight table (bounded x bounded, by construction) —
    // a second would mean an unkeyed join touched something corpus-sized
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).size <= 1,
      s"q78 nested-loop joins beyond the 1-row total attach:\n$p")
    assert("SortMergeJoin".r.findAllIn(p).size <= 1,
      s"q78 sort-merge joins beyond the dedup keeper semi-join:\n$p")
  }

  test("q54 fixed-hyperplane ANN: broadcast bucket equi-join + bounded top-k") {
    val p = plan("q54_ann_fixed")
    // the candidate prune must be a broadcast HASH join on the bucket key —
    // a nested-loop/cartesian here would be the brute-force all-pairs scan
    // the LSH bucketing exists to avoid
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("Window"), p)
    assert(p.contains("ObjectHashAggregate"), p)
  }

  test("q56 read-back scan prunes partitions (non-empty PartitionFilters on source)") {
    // The partitioned write is only worth its shuffle if downstream scans
    // skip the unselected directories — a regression to a full-scan
    // read-back (e.g. losing partitionBy, or filtering after a repartition)
    // would still pass the correctness oracle. Pin the pruning itself.
    val p = plan("q56_partitioned_write")
    val pf = """PartitionFilters: \[[^\]]*src1[^\]]*\]""".r
    assert(pf.findFirstIn(p).isDefined,
      s"q56 read-back does not push the source filter to partition pruning:\n$p")
  }

  test("q57 join consumes bucketed scans with no exchange on the join keys") {
    // Bucketed layout exists to pre-pay the join shuffle once at write
    // time. With broadcast disabled, the sort-merge join must consume the
    // bucketed scans directly: 8 of 8 buckets selected on each side and no
    // Exchange hashpartitioning on doc_id/vec_id. (The post-join groupBy
    // still exchanges on `source` — that one is expected.)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val p = plan("q57_bucketed_join")
      assert(p.contains("SelectedBucketsCount: 8 out of 8"),
        s"q57 scans are not bucketed:\n$p")
      for (key <- Seq("doc_id", "vec_id")) {
        assert(!s"""Exchange hashpartitioning\\($key""".r.findFirstIn(p).isDefined,
          s"q57 shuffles on $key despite the bucketed layout:\n$p")
      }
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("iforest scoring is a codegen'd native expression, not a ScalaUDF") {
    // Round-5 upgrade (VERDICT r4 task 1): the scoring projection must show
    // the native iforest_score expression inside a whole-stage-codegen span
    // — a ScalaUDF here means per-row Vector materialization and a codegen
    // fence on the flagship's hottest projection.
    graft.queries.Caches.scoped {
      val df = SparkEntry.queries("iforest_score")(spark, sf)
      df.collect()
      val p = df.queryExecution.executedPlan.toString
      assert(!p.contains("ScalaUDF"), s"scoring regressed to a ScalaUDF:\n$p")
      assert("""\*\(\d+\) Project .*iforest_score""".r.findFirstIn(p).isDefined,
        s"iforest_score projection is not inside a codegen span:\n$p")
    }
  }

  test("iforest re-spread is conditional: already-parallel input adds no Exchange") {
    val cores = spark.sparkContext.defaultParallelism
    val wide = spark.range(0, 10000, 1, cores).toDF("id")
    // respread must be the identity (same plan, no RoundRobin shuffle) when
    // the planned scan already has >= cores tasks
    val out = SparkEntry.respread(wide)
    assert(out eq wide, "respread shuffled an already-parallel input")
    val narrow = spark.range(0, 100, 1, 1).toDF("id")
    assert(SparkEntry.respread(narrow).rdd.getNumPartitions == cores,
      "respread did not spread a single-partition input")
    // The probe must read the PLAN, not df.rdd (materializing RDD lineage
    // at plan-build time was the r6-r8 blemish): a one-row-group testdata
    // parquet file plans fewer tasks than cores, so the guard fires, and
    // the estimate agrees with what Spark actually schedules.
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
    val estimated = SparkEntry.plannedScanTasks(li)
    assert(estimated < cores, s"tiny single-file scan estimated $estimated tasks")
    assert(estimated == li.rdd.getNumPartitions, // test-side .rdd is the oracle
      "planned-scan estimate diverges from Spark's actual file packing")
    // A 7-file directory, then one file split by a lowered
    // maxPartitionBytes: the estimate still equals Spark's packing.
    val tmp = java.nio.file.Files.createTempDirectory("planned-scan").toString
    try {
      spark.range(0, 70000, 1, 7).selectExpr("id", "cast(id * 7 AS string) AS s")
        .write.parquet(s"$tmp/seven")
      val seven = spark.read.parquet(s"$tmp/seven")
      assert(seven.inputFiles.length == 7)
      assert(SparkEntry.plannedScanTasks(seven) == seven.rdd.getNumPartitions)
      spark.range(0, 200000, 1, 1).selectExpr("id", "cast(id * 7 AS string) AS s")
        .write.parquet(s"$tmp/one")
      val key = "spark.sql.files.maxPartitionBytes"
      val saved = spark.conf.getOption(key)
      spark.conf.set(key, "65536")
      try {
        val one = spark.read.parquet(s"$tmp/one")
        assert(one.inputFiles.length == 1)
        val parts = one.rdd.getNumPartitions
        assert(parts > 1, s"one file planned $parts partitions at a 64 KiB split")
        assert(SparkEntry.plannedScanTasks(one) == parts)
      } finally saved.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
  }

  test("q44 theta join is the one query allowed to nested-loop (dims only)") {
    assert(plan("q44_theta_join").contains("BroadcastNestedLoopJoin"))
  }

  test("q92 bloom probe filters the fact scan and the exact join stays merge") {
    // The semi-join reduction's whole point: the sketch probe must sit in
    // the fact side's Filter (pruning BEFORE the join exchange) and the
    // exact join must remain the shuffle form the pattern exists for — a
    // broadcast join here would mean the dim was hash-relation-sized and
    // the bloom was dead weight.
    val p = plan("q92_bloom_prefilter")
    assert(p.contains("bloommightcontainlong"),
      s"q92 lost the bloom probe:\n$p")
    assert(p.contains("SortMergeJoin"), s"q92 exact join is not merge:\n$p")
    assert(!p.contains("ScalaUDF"), s"q92 probe regressed to a UDF:\n$p")
  }

  test("q93 tf-idf: vocabulary joins broadcast, top-k is bounded, no rank window") {
    val p = plan("q93_tfidf_terms")
    assert(p.contains("BroadcastHashJoin"), s"q93 vocab join not broadcast:\n$p")
    assert(p.contains("ObjectHashAggregate"), s"q93 top-k lost the bounded agg:\n$p")
    // no row_number window anywhere — the top-3 is the bounded aggregation
    assert(!p.contains("row_number"), s"q93 ranks via a window:\n$p")
    // every Window node must be RangedRank's partition-LOCAL cumsum
    // (partitioned by the physical gp_pid), never a corpus-wide spec
    val windows = """Window \[[^\n]*""".r.findAllIn(p).toSeq
    assert(windows.forall(_.contains("gp_pid")),
      s"q93 has a non-local window:\n${windows.mkString("\n")}")
    // the only one-row funnel allowed is the scalar N = count(documents)
    // aggregate; the vocabulary itself must never pass through one task
    assert("SinglePartition".r.findAllIn(p).size <= 1,
      s"q93 funnels more than the scalar count through one task:\n$p")
  }

  test("q94 ORC read-back scan prunes partitions") {
    val p = plan("q94_orc_roundtrip")
    assert(p.toLowerCase.contains("orc"), s"q94 read-back is not ORC:\n$p")
    val pf = """PartitionFilters: \[[^\]]*lang[^\]]*\]""".r
    assert(pf.findFirstIn(p).isDefined,
      s"q94 read-back does not prune lang partitions:\n$p")
  }

  test("q96 pairwise centroid stage is a broadcast product of a bounded table") {
    val p = plan("q96_label_centroids")
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"q96 pairwise stage is not the broadcast product:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"q96 shuffles the bounded centroid table:\n$p")
    assert(!p.contains("CartesianProduct"), s"q96 planned a cartesian:\n$p")
  }

  test("q97 cross-corpus decontam: eval bands broadcast, no self-join product") {
    // The two-corpus shape's whole point: train bands must PROBE a
    // broadcast eval band table (map-side candidate generation), never
    // shuffle corpus-against-corpus or degenerate to a product.
    val p = plan("q97_cross_decontam")
    assert(p.contains("BroadcastHashJoin"),
      s"q97 band candidate join is not broadcast:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"q97 planned a product join:\n$p")
    assert(p.contains("ObjectHashAggregate"), s"q97 best-match lost the bounded agg:\n$p")
    assert(!p.contains("row_number"), s"q97 ranks via a window:\n$p")
  }

  test("q98 stratified sample is a pure in-row gate: no join, no aggregation") {
    val p = plan("q98_stratified_sample")
    assert(!p.contains("Join"), s"q98 grew a join:\n$p")
    assert(!p.contains("HashAggregate"), s"q98 grew an aggregation:\n$p")
    assert(!p.contains("Window"), s"q98 grew a window:\n$p")
  }

  test("q99 bm25: in-row tf (no explode), broadcast stats, bounded top-10") {
    val p = plan("q99_bm25_search")
    // a naive BM25 materializes the (doc, term) posting table via explode
    // + groupBy; the fixed-query form must stay scan-shaped
    assert(!p.contains("Generate"), s"q99 explodes a posting table:\n$p")
    assert(!p.contains("SortMergeJoin"), s"q99 shuffle-joins the stats:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"q99 lost the bounded top-k:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"q99 stats row is not broadcast:\n$p")
  }

  test("q100 merge upsert is exactly one full-outer key join") {
    val p = plan("q100_merge_upsert")
    assert(p.contains("FullOuter"), s"q100 lost the full-outer merge join:\n$p")
    assert("SortMergeJoin|ShuffledHashJoin".r.findAllIn(p).size == 1,
      s"q100 should merge through ONE join:\n$p")
  }

  test("q101/q103 never move the corpus through one partition") {
    // q101's windows are customer-partitioned; q103's global offsets come
    // from RangedPrefixSum — an unpartitioned Window in either would plan
    // Exchange SinglePartition
    for (q <- Seq("q101_window_analytics", "q103_overlap_chunks")) {
      val p = plan(q)
      assert(!p.contains("SinglePartition"),
        s"$q funnels the table through one task:\n$p")
    }
  }

  test("q102 containment blocking stays equi-join only") {
    val p = plan("q102_containment")
    assert(!p.contains("CartesianProduct"), s"q102 planned a cartesian:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"q102 planned a nested-loop join:\n$p")
  }

  test("q105 normalized dedup is one two-phase aggregation, no join") {
    // the normalization chain is in-row; the only exchange beyond the
    // output sort is the hash-groupBy — a join or window here means the
    // chain stopped being a projection
    val p = plan("q105_norm_dedup")
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
    assert(!p.contains("Join"), s"q105 gained a join:\n$p")
    assert(!p.contains("Window"), s"q105 gained a window:\n$p")
  }

  test("q106/q109 never plan a cartesian or nested-loop join") {
    // q106's iteration joins are explicit broadcasts over |nation|-sized
    // tables; q109's candidate and verification joins are all keyed
    for (q <- Seq("q106_pagerank", "q109_sparse_cosine")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q planned a cartesian:\n$p")
      // the 1-row corpus-count frame broadcasts as a BNLJ by design;
      // anything joining real columns through one is the regression
      assert(!"BroadcastNestedLoopJoin .*Inner, \\(".r.unanchored.matches(p),
        s"$q planned a conditioned nested-loop join:\n$p")
    }
  }

  test("q106 iteration ranks flow through broadcast joins") {
    val p = plan("q106_pagerank")
    assert(p.contains("BroadcastHashJoin"), s"q106 lost its broadcast loops:\n$p")
  }

  test("q108 read-back aggregate is two-phase with no UDF or window") {
    val p = plan("q108_zorder_layout")
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
    assert(!p.contains("ScalaUDF"), s"q108 interleave fell out of codegen:\n$p")
    assert(!p.contains("Window"), p)
  }

  test("q110 frontier broadcasts back; only the BOUNDED per-length table windows") {
    val p = plan("q110_skyline")
    assert(p.contains("BroadcastHashJoin"), s"q110 frontier not broadcast:\n$p")
    // the single-partition exchange is legal here ONLY because its input
    // is the per-distinct-length aggregate (bounded by the length domain)
    // — the corpus side must still aggregate two-phase before it
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
  }

  test("q111 decile window is language-partitioned, never single-partition") {
    val p = plan("q111_quantile_norm")
    assert(p.contains("Window"), p)
    assert(!p.contains("SinglePartition"),
      s"q111 funnels the corpus through one task:\n$p")
  }

  test("q114 winnow decontam joins stay keyed; no cartesian") {
    val p = plan("q114_winnow_decontam")
    assert(!p.contains("CartesianProduct"), s"q114 planned a cartesian:\n$p")
  }

  test("q115 sliding windows expand in-row and aggregate two-phase") {
    // window(slide) is a generator over the event row — a join against a
    // window table here would be the scale regression
    val p = plan("q115_sliding_window")
    assert(!p.contains("Join"), s"q115 gained a window-table join:\n$p")
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
  }

  test("q116 transition lag chain is user-partitioned, never single-partition") {
    val p = plan("q116_transitions")
    assert(p.contains("Window"), p)
    assert(!p.contains("SinglePartition"),
      s"q116 funnels events through one task:\n$p")
  }

  test("q121 cogroup stays a co-partitioned pass: one exchange per side, no join") {
    val p = plan("q121_cogroup_recon")
    assert(p.contains("CoGroup"), s"q121 lost the CoGroup operator:\n$p")
    assert(!p.contains("SinglePartition"),
      s"q121 funnels a side through one task:\n$p")
  }

  test("q118 custom-source scan shows pushed filter and pruned read schema") {
    val p = plan("q118_graftbin_roundtrip")
    assert(p.contains("GreaterThanOrEqual(doc_id,100)"),
      s"doc_id filter not pushed into the graftbin scan:\n$p")
    assert(p.contains("ReadSchema: doc_id,lang,n_chars"),
      s"text not pruned from the graftbin scan:\n$p")
  }

  test("q128 backbone cut is TakeOrdered; triangle joins broadcast the bounded edges") {
    val p = plan("q128_triangle_backbone")
    assert(p.contains("TakeOrderedAndProject"),
      s"q128 backbone pays a global sort instead of a top-M heap:\n$p")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2,
      s"q128 triangle stage lost its broadcasts — an edge-set exchange would scale with the corpus:\n$p")
    assert(!p.contains("SortMergeJoin"), s"q128 shuffles the bounded edge set:\n$p")
  }

  test("q129 never joins: one rollup, one reduced-frame window, a union") {
    val p = plan("q129_interpolate")
    assert(!p.contains("Join"), s"q129 grew a join — gap fill must stay pair-based:\n$p")
    assert(p.contains("Window"), p)
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"q129 rollup lost its map-side partial:\n$p")
  }

  test("q130 PQ: broadcast fan-out, bounded top-k aggs, broadcast re-rank, no SMJ") {
    val p = plan("q130_ann_pq")
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"q130's compressed scan lost the broadcast probe fan-out:\n$p")
    assert("ObjectHashAggregate".r.findAllIn(p).size >= 2,
      s"q130 lost a bounded TopKPerKey aggregation (pool cut or final cut):\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"q130's re-rank rehydration must join the broadcast pool, not shuffle the corpus:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"q130 shuffles the corpus for a broadcast-sized side:\n$p")
  }

  test("q133 persisted PQ runs the q130 shape and reads codes, not vectors, in the scan") {
    // Same pins as q130 (the loaded index must not degrade the plan) plus
    // the artifact's point: the ADC scan side reads the persisted
    // assignments (codes) table — embeddings appear only on the probe and
    // re-rank sides.
    val p = plan("q133_ann_pq_persisted")
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"q133's compressed scan lost the broadcast probe fan-out:\n$p")
    assert("ObjectHashAggregate".r.findAllIn(p).size >= 2,
      s"q133 lost a bounded TopKPerKey aggregation (pool cut or final cut):\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"q133's re-rank rehydration must join the broadcast pool, not shuffle the corpus:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"q133 shuffles the corpus for a broadcast-sized side:\n$p")
    assert(!p.contains("ScalaUDF"), s"q133 regressed to a ScalaUDF:\n$p")
    assert(p.contains("codes:array<tinyint>"),
      s"q133's scan must read the persisted codes table:\n$p")
  }

  test("q137 IVF-PQ: list-pruned broadcast join, bounded top-k, no SMJ, no UDF") {
    // The composed path must keep BOTH halves' plan contracts: the scan
    // is a broadcast-probes equi-join on list_id (pruning — never the
    // q130 all-rows NLJ fan-out), the pool cuts are the bounded
    // ObjectHashAggregate, the re-rank joins the broadcast pool, and
    // everything per-row is codegen'd expressions (no ScalaUDF).
    val p = plan("q137_ann_ivfpq")
    assert(p.contains("BroadcastHashJoin"),
      s"q137's pruned scan lost the broadcast list join:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"q137 planned an all-pairs join — the IVF pruning half is gone:\n$p")
    assert("ObjectHashAggregate".r.findAllIn(p).size >= 2,
      s"q137 lost a bounded TopKPerKey aggregation:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"q137 shuffles the corpus for a broadcast-sized side:\n$p")
    assert(!p.contains("ScalaUDF"), s"q137 regressed to a ScalaUDF:\n$p")
  }

  test("q138 persisted IVF-PQ keeps the q137 shape and scans persisted codes") {
    val p = plan("q138_ann_ivfpq_persisted")
    assert(p.contains("BroadcastHashJoin"),
      s"q138's pruned scan lost the broadcast list join:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"q138 planned an all-pairs join:\n$p")
    assert("ObjectHashAggregate".r.findAllIn(p).size >= 2,
      s"q138 lost a bounded TopKPerKey aggregation:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"q138 shuffles the corpus for a broadcast-sized side:\n$p")
    assert(!p.contains("ScalaUDF"), s"q138 regressed to a ScalaUDF:\n$p")
    assert(p.contains("codes:array<tinyint>"),
      s"q138's scan must read the persisted codes table:\n$p")
  }

  test("q132 LP runs driver-side; the backbone cut keeps its top-M heap") {
    // r22: the propagation rounds iterate on the driver over the
    // contract-bounded (top-10k) backbone — the terminal plan is the
    // bounded local histogram, and the corpus-scale work (the backbone
    // cut that feeds the driver loop) must still plan its deterministic
    // top-M cut as a heap, never a global sort
    val p = plan("q132_label_prop")
    assert(p.contains("LocalTableScan"),
      s"q132's result is no longer the bounded driver histogram:\n$p")
    assert(!p.contains("FileScan"),
      s"q132's terminal read touches the corpus:\n$p")
    val pb = graft.queries.Caches.scoped(
      graft.queries.Graph.coPurchaseBackbone(spark, sf)
        .queryExecution.executedPlan.toString)
    assert(pb.contains("TakeOrderedAndProject"),
      s"q132 backbone cut lost the top-M heap:\n$pb")
  }

  test("q159 bigram gate scores in-row: no join on the scoring path, no UDF") {
    // the model is a collected ≤729-row table embedded as ONE map
    // literal, so scoring must plan as scan → project (in-row aggregate
    // lookup) with the only join being the deliberate 1-row broadcast
    // mean product — a SortMergeJoin or cartesian here means scoring
    // regressed to a per-position explode + shuffle
    val p = plan("q159_bigram_lm_gate")
    assert(!p.contains("SortMergeJoin"),
      s"q159 shuffles the corpus to score it:\n$p")
    assert(!p.contains("CartesianProduct"), s"q159 planned a cartesian:\n$p")
    assert(!p.contains("ScalaUDF"), s"q159 regressed to a ScalaUDF:\n$p")
  }

  test("q160 diversity sample: stratum window, no cartesian, no UDF") {
    val p = plan("q160_diversity_sample")
    assert(p.contains("Window"), s"q160 lost the per-stratum window:\n$p")
    assert(!p.contains("CartesianProduct"), s"q160 planned a cartesian:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"q160 planned a nested-loop join:\n$p")
    assert(!p.contains("ScalaUDF"), s"q160 regressed to a ScalaUDF:\n$p")
  }

  test("q170 heavy-hitter read joins BROADCAST counters; store-only inputs") {
    // the read's only inputs are the two bounded store tables: the
    // candidate×row fan-out joins the ≤4096-row merged counter table,
    // which must broadcast — an SMJ or cartesian here means the sketch
    // read started shuffling, and a documents path means it re-scanned
    // the corpus it exists to avoid
    val p = plan("q170_cms_store")
    assert(p.contains("BroadcastHashJoin"), s"q170 lost the broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"q170 shuffles the sketch read:\n$p")
    assert(!p.contains("CartesianProduct"), s"q170 planned a cartesian:\n$p")
    assert(!p.contains("documents.parquet"),
      s"q170's read path touches the corpus:\n$p")
    assert(!p.contains("ScalaUDF"), s"q170 regressed to a ScalaUDF:\n$p")
  }

  test("q171 per-batch bottom-k is TakeOrdered, read is store-only") {
    val p = plan("q171_kmv_sample")
    assert(p.contains("TakeOrderedAndProject"),
      s"q171 lost the bounded top-k:\n$p")
    assert(!p.contains("documents.parquet"),
      s"q171's read path touches the corpus:\n$p")
  }

  test("q172 CDC is two key-partitioned windows + aggregates: no join, no UDF") {
    val p = plan("q172_cdc_chunks")
    assert(!p.contains("Join"), s"q172 grew a join:\n$p")
    assert(!p.contains("SinglePartition"),
      s"q172 moves the corpus through one partition:\n$p")
    assert(!p.contains("ScalaUDF"), s"q172 regressed to a ScalaUDF:\n$p")
  }

  test("q174 curriculum rank never funnels the corpus through one task") {
    // the whole point of RangedRank here: a global training order at
    // 100 TB must not single-partition the corpus. The one allowed
    // SinglePartition is the deliberate 1-ROW total-count aggregate (its
    // final agg necessarily lands on one partition — of one row); a
    // Window.orderBy regression would add a second, corpus-sized one.
    val p = plan("q174_curriculum")
    assert("SinglePartition".r.findAllIn(p).size <= 1,
      s"q174 moves the corpus through one partition:\n$p")
    // and the rank window stays partitioned by the range-partition id
    assert(!p.contains("windowspecdefinition(rn"),
      s"q174 ranks via an unpartitioned window again:\n$p")
    assert(!p.contains("ScalaUDF"), s"q174 regressed to a ScalaUDF:\n$p")
  }

  test("q184 fuzzy linkage joins the broadcast dictionary, never a cartesian") {
    val p = plan("q184_fuzzy_linkage")
    assert(p.contains("BroadcastHashJoin"), s"q184 dictionary join not broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"q184 planned a cartesian:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"q184 planned a nested loop:\n$p")
    assert(!p.contains("ScalaUDF"), s"q184 regressed to a ScalaUDF:\n$p")
  }

  test("q181/q182/q213 search-store reads prune term buckets (tb partition filter)") {
    // lifecycle queries: run build+absorb once, then pin the read plans
    graft.queries.SearchStore.invalidate(spark, sf)
    graft.queries.SearchStore.buildIfStale(spark, sf)
    graft.queries.SearchStore.absorb(spark, sf)
    for (df <- Seq(graft.queries.SearchStore.bm25(spark, sf),
        graft.queries.SearchStore.phrase(spark, sf),
        graft.queries.SearchStore.proximityBm25(spark, sf))) {
      val p = graft.queries.Caches.scoped(df.queryExecution.executedPlan.toString)
      assert("""PartitionFilters: \[[^\]]*tb""".r.findFirstIn(p).isDefined, p)
      assert(p.contains("TakeOrderedAndProject"), s"top-k lost its heap plan:\n$p")
    }
    // the composed read answers BOTH legs from the index: the corpus
    // text is never re-tokenized (no documents scan in the plan)
    val pc = graft.queries.Caches.scoped(
      graft.queries.SearchStore.proximityBm25(spark, sf)
        .queryExecution.executedPlan.toString)
    assert(!pc.contains("documents.parquet"),
      s"q213 re-read the corpus instead of the index:\n$pc")
  }

  test("q199/q201 audits: one-pass contract, broadcast dimension anti-joins") {
    val pExp = plan("q199_expectations")
    assert("FileScan".r.findAllIn(pExp).size == 1,
      s"q199's five assertions cost more than one scan:\n$pExp")
    val pFk = plan("q201_fk_audit")
    assert(pFk.contains("BroadcastHashJoin"), s"q201 dims not broadcast:\n$pFk")
    assert(!pFk.contains("CartesianProduct"), pFk)
    for (p <- Seq(pExp, pFk))
      assert(!p.contains("ScalaUDF"), s"audit regressed to a ScalaUDF:\n$p")
  }

  test("q220/q221 recall audits: expression-only encode, equi-join candidates") {
    // q220: the PQ encode/reconstruct is literal-codebook expressions on
    // the native kernel — no ScalaUDF, no cartesian. The exact and
    // quantized sweeps are crossJoin(broadcast(test)) by DESIGN (the
    // broadcast side is the constant evalN=200 eval set — the audit's
    // inherent cost), so BroadcastNestedLoopJoin is expected and only
    // CartesianProduct/ScalaUDF would be regressions.
    val p220 = plan("q220_pq_recall")
    assert(!p220.contains("ScalaUDF"), s"q220 regressed to a ScalaUDF:\n$p220")
    assert(!p220.contains("CartesianProduct"), s"q220 planned a cartesian:\n$p220")
    assert(p220.contains("l2sq_long"),
      s"q220's distances left the native kernel:\n$p220")
    // q221: the PRUNED candidate path must stay a broadcast HASH join on
    // the probed list id — the IVF pruning is the point; losing the
    // equi-join would silently re-admit the whole corpus per query
    val p221 = plan("q221_ivfpq_recall")
    assert(!p221.contains("ScalaUDF"), s"q221 regressed to a ScalaUDF:\n$p221")
    assert(!p221.contains("CartesianProduct"), s"q221 planned a cartesian:\n$p221")
    assert(p221.contains("BroadcastHashJoin"),
      s"q221's probed-list candidate join lost its cid equi-join:\n$p221")
  }

  test("whole-stage codegen covers the scan-filter-project hot path") {
    // codegen spans only exist on the finalized (executed) adaptive plan,
    // and only an action on THIS QueryExecution finalizes it (df.write
    // plans a separate command execution); `*(n)` marks codegen subtrees
    val df = SparkEntry.queries("q02_filter_project")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("isFinalPlan=true"), p)
    assert(p.contains("*("), p)
  }
}
