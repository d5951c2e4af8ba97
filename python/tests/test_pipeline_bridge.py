"""End-to-end test of the graft_iforest.pipeline wrappers.

Driven by graft.PipelineBridgeSpec (ScalaTest): runs q20-shape exact
dedup, q66 clustering, q65 splits, q73 mix pipeline, and q31-shape LSH
ANN from Python over the sf0.001 testdata, asserting structural
invariants plus cross-checks computed independently in pyspark (dedup
totals against a pyspark md5 group-by; cluster canonicals against the
cluster minimum; mix splits against the standalone q65 assignment).

Usage: test_pipeline_bridge.py <driverClassPath> <sfDir>

Exit code 0 = all assertions passed.
"""

import os
import re
import sys


def main():
    driver_cp, sf_dir = sys.argv[1:3]
    prior = os.environ.get("PYSPARK_SUBMIT_ARGS", "")
    prior = re.sub(r"\s*pyspark-shell\s*$", "", prior).strip()
    os.environ["PYSPARK_SUBMIT_ARGS"] = \
        f"{prior} --driver-class-path {driver_cp} pyspark-shell".lstrip()

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F
    spark = (SparkSession.builder
             .master("local[2]")
             .appName("graft-pipeline-bridge")
             .config("spark.sql.shuffle.partitions", "4")
             .config("spark.ui.enabled", "false")
             .getOrCreate())
    spark.sparkContext.setLogLevel("WARN")

    try:
        spark._jvm.java.lang.Class.forName("graft.PipelineBridge")
    except Exception:
        raise SystemExit(
            "graft.PipelineBridge is not on the gateway JVM classpath; "
            f"expected it via --driver-class-path {driver_cp}.")

    from graft_iforest import pipeline as gp

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    n_docs = docs.count()

    # --- exact dedup: totals must reconcile with an INDEPENDENT pyspark
    # md5 group-by over the same table ---
    dedup = gp.exact_dedup(spark, sf_dir).collect()
    gp.release_caches(spark)
    assert sum(r["n_copies"] for r in dedup) == n_docs
    expected_groups = docs.groupBy(F.md5(F.col("text"))).count().count()
    assert len(dedup) == expected_groups, \
        f"dedup groups {len(dedup)} vs pyspark md5 group-by {expected_groups}"

    # --- near-dup clustering: one row per doc, canonical = cluster min ---
    clusters = gp.dedup_clusters(spark, sf_dir).collect()
    gp.release_caches(spark)
    assert len(clusters) == n_docs
    by_cluster = {}
    for r in clusters:
        by_cluster.setdefault(r["cluster_id"], []).append(r)
    multi = 0
    for cid, rows in by_cluster.items():
        members = sorted(r["doc_id"] for r in rows)
        assert cid == members[0], f"cluster {cid} id is not its min member"
        canon = [r for r in rows if r["is_canonical"] == 1]
        assert len(canon) == 1 and canon[0]["doc_id"] == cid
        if len(rows) > 1:
            multi += 1
    assert multi > 0, "no multi-document near-dup clusters found"

    # --- deterministic splits: full coverage, stable, ~90/5/5 ---
    splits = gp.split_assign(spark, sf_dir).collect()
    gp.release_caches(spark)
    assert len(splits) == n_docs
    frac_train = sum(1 for r in splits if r["split"] == "train") / n_docs
    assert 0.8 < frac_train < 0.97, f"train fraction {frac_train} implausible"
    assert {r["split"] for r in splits} <= {"train", "val", "test"}

    # --- ANN (q31-shape): 5 probes x k=5, ranks ordered, cosines sane ---
    ann = gp.ann_topk_lsh(spark, sf_dir, num_probes=5, k=5).collect()
    gp.release_caches(spark)
    assert ann, "ANN returned no rows"
    by_q = {}
    for r in ann:
        by_q.setdefault(r["q_id"], []).append(r)
    assert set(by_q) == set(range(5))
    for q, rows in by_q.items():
        assert len(rows) <= 5
        ordered = sorted(rows, key=lambda r: r["rn"])
        cosines = [r["cosine"] for r in ordered]
        assert all(-1.0001 <= c <= 1.0001 for c in cosines)
        assert all(a >= b for a, b in zip(cosines, cosines[1:])), \
            f"probe {q}: ranks not descending in cosine"
        assert all(r["neighbor_id"] != q for r in rows)

    # --- PQ ANN (q130-shape): compressed-scan + exact re-rank from Python ---
    pq = gp.ann_topk_pq(spark, sf_dir, num_probes=5, k=5).collect()
    gp.release_caches(spark)
    assert pq, "PQ ANN returned no rows"
    pq_by_q = {}
    for r in pq:
        pq_by_q.setdefault(r["q_id"], []).append(r)
    assert set(pq_by_q) == set(range(5))
    for q, rows in pq_by_q.items():
        ordered = sorted(rows, key=lambda r: r["rn"])
        cosines = [r["cosine"] for r in ordered]
        assert all(a >= b for a, b in zip(cosines, cosines[1:])), \
            f"PQ probe {q}: ranks not descending in cosine"
        assert all(r["neighbor_id"] != q for r in rows)

    # --- persisted ANN tier: build, grow the corpus, APPEND, probe ---
    import shutil
    import tempfile
    work = tempfile.mkdtemp(prefix="graft-py-ann-")
    try:
        corpus = os.path.join(work, "corpus")
        index = os.path.join(work, "lsh_index")
        emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
        emb.filter(F.col("vec_id") < 400).write.parquet(
            os.path.join(corpus, "embeddings.parquet"))
        gp.build_ann_index(spark, corpus, index, method="lsh")
        assert gp.ann_index_current(spark, corpus, index)
        first = gp.persisted_topk_lsh(spark, corpus, index, num_probes=5, k=5).collect()
        gp.release_caches(spark)
        assert first, "persisted LSH probe returned no rows"
        # pure growth: new part files only -> the append tier must serve it
        emb.filter(F.col("vec_id") >= 400).write.mode("append").parquet(
            os.path.join(corpus, "embeddings.parquet"))
        assert not gp.ann_index_current(spark, corpus, index)
        gp.append_ann_index(spark, corpus, index, method="lsh")
        assert gp.ann_index_current(spark, corpus, index)
        # the appended index answers for the grown corpus, and matches the
        # LIVE path bit-for-bit (same knobs, same geometry)
        appended = gp.persisted_topk_lsh(spark, corpus, index,
                                         num_probes=5, k=5).collect()
        gp.release_caches(spark)
        live = gp.ann_topk_lsh(spark, corpus, num_probes=5, k=5).collect()
        gp.release_caches(spark)
        key = lambda r: (r["q_id"], r["rn"], r["neighbor_id"], r["cosine"])
        assert sorted(map(key, appended)) == sorted(map(key, live)), \
            "persisted+appended LSH diverged from the live path"
        # IVF: the persisted probe's heal tier BUILDS the absent index
        ivf_index = os.path.join(work, "ivf_index")
        ivf = gp.persisted_topk_ivf(spark, corpus, ivf_index,
                                    num_probes=5, k=5).collect()
        gp.release_caches(spark)
        assert ivf, "persisted IVF probe returned no rows"
        assert gp.ann_index_current(spark, corpus, ivf_index)
        # PQ: heal-tier build of the absent index, then bit-agreement with
        # the live path (persisted codes + codebooks replay the same fit)
        pq_index = os.path.join(work, "pq_index")
        pqp = gp.persisted_topk_pq(spark, corpus, pq_index,
                                   num_probes=5, k=5).collect()
        gp.release_caches(spark)
        assert pqp, "persisted PQ probe returned no rows"
        assert gp.ann_index_current(spark, corpus, pq_index)
        pql = gp.ann_topk_pq(spark, corpus, num_probes=5, k=5).collect()
        gp.release_caches(spark)
        assert sorted(map(key, pqp)) == sorted(map(key, pql)), \
            "persisted PQ diverged from the live path"
    finally:
        shutil.rmtree(work, ignore_errors=True)

    # --- end-to-end mix pipeline (q73): structural invariants + split
    # agreement with the standalone q65 assignment ---
    mix = gp.mix_pipeline(spark, sf_dir).collect()
    gp.release_caches(spark)
    assert 0 < len(mix) < n_docs, f"mix kept {len(mix)} of {n_docs}"
    mix_ids = [r["doc_id"] for r in mix]
    assert len(mix_ids) == len(set(mix_ids)), "mix emitted a doc twice"
    per_domain = {}
    for r in mix:
        assert r["split"] in ("train", "val", "test")
        assert r["n_tokens"] > 0
        per_domain[(r["lang"], r["source"])] = \
            per_domain.get((r["lang"], r["source"]), 0) + 1
    assert max(per_domain.values()) <= 5, f"domain cap exceeded: {per_domain}"
    split_by_id = {r["doc_id"]: r["split"] for r in splits}
    for r in mix:
        assert r["split"] == split_by_id[r["doc_id"]], \
            f"doc {r['doc_id']}: mix split {r['split']} != q65 {split_by_id[r['doc_id']]}"

    # --- parameterized mix surface: the default call must equal the
    # hash-checked named query EXACTLY, and non-default knobs must move
    # the result the way the parameter semantics promise ---
    mix_key = lambda r: (r["doc_id"], r["lang"], r["source"], r["split"],
                         r["n_tokens"])
    named = gp.run_query(spark, "q73_mix_pipeline", sf_dir).collect()
    gp.release_caches(spark)
    assert sorted(map(mix_key, mix)) == sorted(map(mix_key, named)), \
        "bridge mix_pipeline at defaults diverged from q73_mix_pipeline"
    default_ids = {r["doc_id"] for r in mix}
    # gates disabled (floor 0, threshold no doc can exceed): strictly more
    # docs survive, and the cap still binds
    relaxed = gp.mix_pipeline(spark, sf_dir, min_quality_e4=0,
                              rep_threshold=1e9, cap_k=5).collect()
    gp.release_caches(spark)
    relaxed_ids = {r["doc_id"] for r in relaxed}
    # NOT superset of default_ids: disabling the gates changes WHICH docs
    # win the per-domain cap (gated-out docs re-enter the rank), so only
    # the counts are ordered, not the id sets
    assert len(relaxed) >= len(mix), \
        f"disabling the gates shrank the mix ({len(relaxed)} < {len(mix)})"
    rel_domain = {}
    for r in relaxed:
        rel_domain[(r["lang"], r["source"])] = \
            rel_domain.get((r["lang"], r["source"]), 0) + 1
    assert max(rel_domain.values()) <= 5, "cap_k=5 violated with gates off"
    # tighter cap at default gates: a subset chosen by the same
    # deterministic rank — every kept id was kept at cap 5, and domains
    # that had >= 2 docs keep exactly 2
    capped2 = gp.mix_pipeline(spark, sf_dir, min_quality_e4=6100,
                              rep_threshold=0.10, cap_k=2).collect()
    gp.release_caches(spark)
    assert {r["doc_id"] for r in capped2} <= default_ids, \
        "cap_k=2 kept a doc the cap_k=5 run dropped"
    c2_domain = {}
    for r in capped2:
        c2_domain[(r["lang"], r["source"])] = \
            c2_domain.get((r["lang"], r["source"]), 0) + 1
    assert max(c2_domain.values()) <= 2, "cap_k=2 violated"
    for dom, n in per_domain.items():
        if n >= 2:
            assert c2_domain.get(dom) == 2, \
                f"domain {dom} had {n} docs at cap 5 but {c2_domain.get(dom)} at cap 2"

    # --- weighted take: defaults equal the named q76; a bigger budget
    # extends each language's take without perturbing the prefix ---
    take_key = lambda r: (r["doc_id"], r["lang"], r["n_tokens"],
                          r["cum_tokens"])
    take = gp.weighted_take(spark, sf_dir).collect()
    gp.release_caches(spark)
    named_take = gp.run_query(spark, "q76_weighted_take", sf_dir).collect()
    gp.release_caches(spark)
    assert sorted(map(take_key, take)) == sorted(map(take_key, named_take)), \
        "bridge weighted_take at defaults diverged from q76_weighted_take"
    bigger = gp.weighted_take(spark, sf_dir, total_budget=30000).collect()
    gp.release_caches(spark)
    assert set(map(take_key, take)) <= set(map(take_key, bigger)), \
        "doubling the budget dropped rows from the deterministic prefix"
    # per-language budgets sum back to ~the total (half-up rounding leaves
    # at most one unit per language)
    budgets = {r["lang"]: r["budget"] for r in bigger}
    assert abs(sum(budgets.values()) - 30000) <= len(budgets), \
        f"per-language budgets {budgets} do not reconcile with 30000"
    for r in bigger:
        assert r["cum_tokens"] <= budgets[r["lang"]]

    # --- full mixture materialization (q78): defaults equal the named
    # query; every sampled row is a mix_pipeline survivor row; budgets
    # reconcile with the total and bound each language's running sum ---
    full_key = lambda r: (r["doc_id"], r["lang"], r["source"], r["split"],
                          r["n_tokens"], r["cum_tokens"], r["budget"])
    sampled = gp.mix_take(spark, sf_dir).collect()
    gp.release_caches(spark)
    named_sampled = gp.run_query(spark, "q78_mix_take", sf_dir).collect()
    gp.release_caches(spark)
    assert sorted(map(full_key, sampled)) == sorted(map(full_key, named_sampled)), \
        "bridge mix_take at defaults diverged from q78_mix_take"
    surv_rows = set(map(mix_key, mix))
    for r in sampled:
        assert mix_key(r) in surv_rows, \
            f"mix_take emitted doc {r['doc_id']} outside the mix survivors"
    take_budgets = {r["lang"]: r["budget"] for r in sampled}
    assert abs(sum(take_budgets.values()) - 15000) <= len(take_budgets), \
        f"mix_take budgets {take_budgets} do not reconcile with 15000"
    for r in sampled:
        assert r["cum_tokens"] <= take_budgets[r["lang"]]
    # a smaller total budget keeps a sub-prefix of the default take: the
    # hash order and the running sums are budget-independent, so every
    # (doc_id, cum_tokens) it emits must appear in the default take
    small_take = gp.mix_take(spark, sf_dir, total_budget=5000).collect()
    gp.release_caches(spark)
    default_pairs = {(r["doc_id"], r["cum_tokens"]) for r in sampled}
    assert small_take and all(
        (r["doc_id"], r["cum_tokens"]) in default_pairs for r in small_take), \
        "a third of the budget is not a sub-prefix of the default take"

    # --- parameterized scrub: a custom pattern over the raw corpus ---
    scrubbed = gp.scrub(spark, sf_dir, [
        ("spark", r"\bspark\b", "<TOOL>"),
        ("digits", r"\d+", "<NUM>"),
    ]).collect()
    gp.release_caches(spark)
    assert len(scrubbed) == n_docs
    n_spark_docs = sum(1 for r in scrubbed if r["n_spark"] > 0)
    expected_spark = docs.filter("text rlike '\\\\bspark\\\\b'").count()
    assert n_spark_docs == expected_spark, \
        f"scrub found 'spark' in {n_spark_docs} docs, pyspark rlike says {expected_spark}"
    assert all(r["residual_pii"] == 0 for r in scrubbed), \
        "custom scrub left residual matches"
    assert all("spark" not in r["clean_text"] for r in scrubbed if r["n_spark"] > 0)

    # --- incremental dedup index: build -> judge -> absorb -> re-judge ---
    gp.build_dedup_index(spark, sf_dir)
    gp.release_caches(spark)
    verdicts = gp.dedup_delta_verdicts(spark, sf_dir).collect()
    gp.release_caches(spark)
    assert verdicts, "no delta verdicts"
    for r in verdicts:
        # planted copies (doc_id % 10 == 7 carries corpus doc id-7's
        # text) must judge exact against exactly that keeper
        if r["doc_id"] % 10 == 7:
            assert r["verdict"] == "exact" and r["exact_keeper"] == r["doc_id"] - 7, \
                f"planted doc {r['doc_id']} judged {r['verdict']}/{r['exact_keeper']}"
    uniq_ids = {r["doc_id"] for r in verdicts if r["verdict"] == "unique"}
    assert uniq_ids, "nothing judged unique — absorb test has no teeth"
    gp.absorb_dedup_delta(spark, sf_dir)
    gp.release_caches(spark)
    rejudged = gp.dedup_delta_verdicts(spark, sf_dir).collect()
    gp.release_caches(spark)
    assert all(r["verdict"] != "unique" for r in rejudged), \
        "absorbed batch still has unique docs on re-judge"
    assert all(r["exact_dup"] == 1 for r in rejudged if r["doc_id"] in uniq_ids), \
        "absorbed doc not matched exactly against itself"
    # the absorbed store must read as non-current; if-stale restores it
    assert not gp.dedup_index_current(spark, sf_dir)
    gp.build_dedup_index_if_stale(spark, sf_dir)
    gp.release_caches(spark)
    assert gp.dedup_index_current(spark, sf_dir)
    # the streaming judge agrees with the batch judge on the same store
    stream_v = gp.dedup_stream_delta_verdicts(spark, sf_dir).collect()
    gp.release_caches(spark)
    batch_v = gp.dedup_delta_verdicts(spark, sf_dir).collect()
    gp.release_caches(spark)
    assert sorted(map(tuple, stream_v)) == sorted(map(tuple, batch_v)), \
        "streaming judge diverged from batch judge via the Python surface"

    # --- incremental stats store: merged partials == full recompute ---
    gp.build_stats_store_if_stale(spark, sf_dir)
    gp.release_caches(spark)
    assert gp.stats_store_current(spark, sf_dir)
    merged = {(r["lang"], r["source"]): (r["n_docs"], r["total_chars"],
              r["mean_e6"], r["var_e3"], r["min_chars"], r["max_chars"])
              for r in gp.merged_stats(spark, sf_dir).collect()}
    gp.release_caches(spark)
    full = {(r["lang"], r["source"]): (r["n"], r["s1"])
            for r in docs.groupBy("lang", "source")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("n_chars").alias("s1"))
            .collect()}
    assert set(merged) == set(full), "stats store lost a (lang, source) group"
    for k, (n, s1) in full.items():
        assert merged[k][0] == n and merged[k][1] == s1,             f"merged stats diverged from pyspark recompute at {k}"

    # --- pagerank: 25 nations, positive exact-integer ranks ---
    pr = gp.pagerank(spark, sf_dir).collect()
    gp.release_caches(spark)
    assert len(pr) == 25 and all(r["pr"] > 0 for r in pr)

    # --- transactional cross-store absorb: one commit advances all three ---
    gp.tx_reset(spark, sf_dir)
    gp.tx_ensure_bases(spark, sf_dir)
    keepers_before = gp.tx_keeper_ids(spark, sf_dir).count()
    txn = gp.tx_absorb_delta(spark, sf_dir)
    assert txn == 0, "first transaction id must be 0"
    keepers_after = gp.tx_keeper_ids(spark, sf_dir).count()
    assert keepers_after > keepers_before, "commit did not surface keepers"
    tx_stats = {(r["lang"], r["source"]): r["n_docs"]
                for r in gp.tx_stored_stats(spark, sf_dir).collect()}
    assert set(tx_stats) == set(full), "tx stats lost a group"
    for k, (n, _) in full.items():
        assert tx_stats[k] == n, f"tx stats diverged at {k}"
    cov = gp.tx_vocab_coverage(spark, sf_dir).collect()
    assert len(cov) == 25 and cov[0]["rank"] == 1
    # vacuum: nothing staged-but-uncommitted right now, so it reclaims
    # nothing and the committed reads are untouched
    assert gp.tx_vacuum(spark, sf_dir) == [], "vacuum reclaimed a committed layer"
    assert gp.tx_keeper_ids(spark, sf_dir).count() == keepers_after, \
        "vacuum changed a committed read"
    gp.release_caches(spark)

    # --- time travel + changelog on the tagged stats store ---
    asof = gp.stats_as_of(spark, sf_dir, 2).collect()
    chg = gp.stats_changes(spark, sf_dir, 1, 2).collect()
    assert len(asof) > 0 and len(chg) > 0
    gp.release_caches(spark)

    # --- graph edge store: merged edges equal the full-table pairs ---
    gp.build_graph_store_if_stale(spark, sf_dir)
    gp.absorb_graph_delta(spark, sf_dir)
    edges = gp.graph_store_edges(spark, sf_dir)
    n_edges = edges.count()
    assert n_edges > 0 and edges.groupBy("a", "b").count() \
        .filter("count > 1").count() == 0, "merged edges not unique per pair"
    gp.release_caches(spark)

    # --- distinct-count store: occupancy read is bounded by m ---
    gp.build_distinct_store_if_stale(spark, sf_dir)
    gp.absorb_distinct_delta(spark, sf_dir)
    occ = gp.distinct_occupancy(spark, sf_dir).collect()
    assert len(occ) > 0 and all(0 < r["n_buckets"] <= 4096 for r in occ)
    gp.release_caches(spark)

    # --- vocabulary store lifecycle: build -> absorb -> reads -> compact ---
    gp.build_vocab_store_if_stale(spark, sf_dir)
    gp.absorb_vocab_delta(spark, sf_dir)
    vcov = gp.vocab_coverage(spark, sf_dir).collect()
    assert len(vcov) == 25 and vcov[0]["rank"] == 1
    vw = gp.vocab_words(spark, sf_dir, k=10).collect()
    assert len(vw) == 10
    oov = gp.vocab_oov_rates(spark, sf_dir).collect()
    assert len(oov) > 0 and all(0 <= r["oov_rate_e6"] <= 1000000 for r in oov)
    gp.compact_vocab_store(spark, sf_dir)
    vcov2 = gp.vocab_coverage(spark, sf_dir).collect()
    assert [r.asDict() for r in vcov2] == [r.asDict() for r in vcov], \
        "vocab compaction changed the coverage read"
    gp.release_caches(spark)

    # --- embedding-dedup store lifecycle (the q142 shape from Python) ---
    gp.build_embed_index_if_stale(spark, sf_dir)
    b1 = gp.embed_batch1(spark, sf_dir)
    j1 = gp.embed_judge(spark, sf_dir, b1).collect()
    assert len(j1) == b1.count()
    gp.absorb_embed_batch(spark, sf_dir, b1)
    j2 = gp.embed_judge(spark, sf_dir, gp.embed_batch2(spark, sf_dir)).collect()
    # batch-2 planted vectors copy absorbed batch-1 survivors -> exact
    assert any(r["verdict"] == "exact" for r in j2), \
        "planted duplicates not caught after absorb"
    gp.compact_embed_index(spark, sf_dir)
    j2b = gp.embed_judge(spark, sf_dir, gp.embed_batch2(spark, sf_dir)).collect()
    assert [r.asDict() for r in j2b] == [r.asDict() for r in j2], \
        "embed compaction changed the judge"
    gp.release_caches(spark)

    # --- ingest-pair transaction: graph + embed under ONE commit row ---
    gp.tx_reset(spark, sf_dir)
    gp.tx_ensure_ingest_bases(spark, sf_dir)
    edges_before = gp.tx_merged_edges(spark, sf_dir).count()
    txn_ingest = gp.tx_absorb_ingest(spark, sf_dir)
    assert txn_ingest == 0, "first transaction after reset must be 0"
    assert gp.tx_merged_edges(spark, sf_dir).count() > edges_before, \
        "ingest commit did not surface the graph layer"
    jt = gp.tx_judge_embed_batch2(spark, sf_dir).collect()
    assert any(r["verdict"] == "exact" for r in jt), \
        "ingest commit did not surface the embed layer"
    gp.release_caches(spark)

    # --- inverted-index search store lifecycle (q181/q182 from Python) ---
    gp.build_search_store_if_stale(spark, sf_dir)
    gp.absorb_search_delta(spark, sf_dir)
    bm = gp.search_bm25(spark, sf_dir).collect()
    assert len(bm) == 10, "BM25 top-10 came back short"
    ph = gp.search_phrase(spark, sf_dir).collect()
    assert ph and all(r["phrase_tf"] > 0 for r in ph)
    gp.compact_search_store(spark, sf_dir)
    bm2 = gp.search_bm25(spark, sf_dir).collect()
    assert [r.asDict() for r in bm2] == [r.asDict() for r in bm], \
        "search compaction changed the BM25 ranking"
    gp.release_caches(spark)

    # --- transactional search tier: two tranches, one ranking (q185) ---
    gp.tx_reset(spark, sf_dir)
    gp.tx_ensure_search_base(spark, sf_dir)
    assert gp.tx_absorb_search(spark, sf_dir, "doc_id % 10 IN (7, 8)") == 0
    gp.tx_absorb_search(spark, sf_dir, "doc_id % 10 = 9")
    txbm = gp.tx_search_bm25(spark, sf_dir).collect()
    assert [r.asDict() for r in txbm] == [r.asDict() for r in bm], \
        "transactional index diverged from the single-store lifecycle"
    gp.release_caches(spark)

    # --- zone-map store: pruned read present and non-degenerate ---
    gp.build_zonemap_store_if_stale(spark, sf_dir)
    gp.absorb_zonemap_delta(spark, sf_dir)
    zr = gp.zonemap_range_aggregate(spark, sf_dir).collect()
    assert zr and all(r["n_orders"] > 0 for r in zr)
    gp.recluster_zonemap(spark, sf_dir)
    zr2 = gp.zonemap_range_aggregate(spark, sf_dir).collect()
    assert [r.asDict() for r in zr2] == [r.asDict() for r in zr], \
        "recluster changed the range aggregate"
    gp.release_caches(spark)

    # --- transactional table: append -> as-of -> delete from Python ---
    gp.tx_reset(spark, sf_dir)
    gp.tx_ensure_zone_base(spark, sf_dir)
    gp.tx_vacuum_table(spark, sf_dir)
    assert gp.tx_absorb_table_append(spark, sf_dir, "o_orderkey % 10 IN (7, 8)") == 0
    gp.tx_absorb_table_append(spark, sf_dir, "o_orderkey % 10 = 9")
    full_tbl = gp.tx_table_range_aggregate(spark, sf_dir).collect()
    snap = gp.tx_table_range_aggregate_as_of(spark, sf_dir, 0).collect()
    assert snap != full_tbl, "as-of snapshot equals the full table"
    gp.tx_absorb_table_delete(spark, sf_dir, "o_orderkey % 13 = 5")
    after_del = gp.tx_table_range_aggregate(spark, sf_dir).collect()
    assert after_del != full_tbl, "delete vector was invisible"
    assert gp.tx_vacuum_table(spark, sf_dir) == [], \
        "committed files read as orphans"
    gp.release_caches(spark)

    # --- governance audits + replace + MV from Python ---
    exp = gp.audit_expectations(spark, sf_dir).collect()
    assert len(exp) == 5
    verdicts = {r["check_name"]: r["passed"] for r in exp}
    # the generator's order dates run past the contract's 1999 bound —
    # a REAL violation the contract is supposed to catch; the other
    # four assertions hold
    assert verdicts == {"date_range": False, "key_not_null": True,
                        "key_unique": True, "price_positive": True,
                        "status_domain": True}, verdicts
    fk = gp.audit_fk(spark, sf_dir).collect()
    assert len(fk) == 5 and all(r["n_orphans"] == 0 for r in fk)
    ka = gp.audit_k_anonymity(spark, sf_dir, k=6).collect()
    assert all(r["group_size"] < 6 for r in ka)
    gp.tx_absorb_table_replace(spark, sf_dir, "o_orderkey % 10 IN (7, 8)")
    replaced = gp.tx_table_range_aggregate(spark, sf_dir).collect()
    assert replaced != after_del, "replace boundary invisible from Python"
    gp.release_caches(spark)

    # --- verified-ML family + cluster-profile store from Python ---
    km = gp.ml_kmeans(spark, sf_dir).collect()
    n_vecs = spark.read.parquet(sf_dir + "/embeddings.parquet").count()
    assert len(km) == 4 and sum(r["n_members"] for r in km) == n_vecs, \
        "kmeans clusters do not partition the corpus"
    per = gp.ml_perceptron(spark, sf_dir).collect()
    assert len(per) == 3 and per[0]["n_misclassified"] == n_vecs, \
        "perceptron round 1 under w=0 must misclassify everything"
    assert per[-1]["n_misclassified"] < n_vecs / 2, "no learning signal"
    cm = gp.ml_knn_classify(spark, sf_dir).collect()
    held = spark.read.parquet(sf_dir + "/embeddings.parquet") \
        .where("vec_id % 10 >= 8").count()
    assert sum(r["n"] for r in cm) == min(200, held), \
        "knn confusion matrix does not cover the bounded eval set"
    db = gp.ml_dbscan(spark, sf_dir).collect()
    assert any(r["cluster_id"] == -1 for r in db), "dbscan noise row missing"
    gp.release_caches(spark)

    # q214/q215 parity: the dedicated wrappers return exactly the rows
    # the oracled Scala entries produce (same path as run_query)
    ann_cm = sorted(map(str, gp.ml_knn_ann(spark, sf_dir).collect()))
    assert ann_cm == sorted(map(str, gp.run_query(
        spark, "q214_knn_ann", sf_dir).collect())), \
        "ml_knn_ann diverged from the oracled q214 entry"
    rec = sorted(map(str, gp.ml_ann_recall(spark, sf_dir).collect()))
    assert rec == sorted(map(str, gp.run_query(
        spark, "q215_ann_recall", sf_dir).collect())), \
        "ml_ann_recall diverged from the oracled q215 entry"
    assert sum(r["n_queries"] for r in
               gp.ml_ann_recall(spark, sf_dir).collect()) == min(200, held), \
        "recall histogram does not cover the eval set"
    ivf = sorted(map(str, gp.ml_ivf_recall(spark, sf_dir).collect()))
    assert ivf == sorted(map(str, gp.run_query(
        spark, "q219_ivf_recall", sf_dir).collect())), \
        "ml_ivf_recall diverged from the oracled q219 entry"
    assert sum(r["n_queries"] for r in
               gp.ml_ivf_recall(spark, sf_dir).collect()) == min(200, held), \
        "ivf recall histogram does not cover the eval set"
    pq = sorted(map(str, gp.ml_pq_recall(spark, sf_dir).collect()))
    assert pq == sorted(map(str, gp.run_query(
        spark, "q220_pq_recall", sf_dir).collect())), \
        "ml_pq_recall diverged from the oracled q220 entry"
    ivfpq = sorted(map(str, gp.ml_ivfpq_recall(spark, sf_dir).collect()))
    assert ivfpq == sorted(map(str, gp.run_query(
        spark, "q221_ivfpq_recall", sf_dir).collect())), \
        "ml_ivfpq_recall diverged from the oracled q221 entry"
    assert sum(r["n_queries"] for r in
               gp.ml_ivfpq_recall(spark, sf_dir).collect()) == min(200, held), \
        "ivf-pq recall histogram does not cover the eval set"
    gp.release_caches(spark)

    # q217/q218 parity: the SemDeDup and prototype-pruning wrappers
    # return exactly the oracled entries' rows
    sd = sorted(map(str, gp.ml_sem_dedup(spark, sf_dir).collect()))
    assert sd == sorted(map(str, gp.run_query(
        spark, "q217_sem_dedup", sf_dir).collect())), \
        "ml_sem_dedup diverged from the oracled q217 entry"
    n_planted = spark.read.parquet(sf_dir + "/embeddings.parquet") \
        .where("vec_id % 53 = 0").count()
    assert sum(r["n_dropped"] for r in
               gp.ml_sem_dedup(spark, sf_dir).collect()) == n_planted, \
        "sem-dedup drop count != planted near-dups"
    pp = sorted(map(str, gp.ml_proto_prune(spark, sf_dir).collect()))
    assert pp == sorted(map(str, gp.run_query(
        spark, "q218_proto_prune", sf_dir).collect())), \
        "ml_proto_prune diverged from the oracled q218 entry"
    gp.release_caches(spark)

    # q213 parity: run_query primes the search store (build + absorb),
    # then the read-only wrapper must reproduce the composed ranking
    prox_named = sorted(map(str, gp.run_query(
        spark, "q213_proximity_search", sf_dir).collect()))
    assert prox_named == sorted(map(str, gp.proximity_search(
        spark, sf_dir).collect())), \
        "proximity_search diverged from the oracled q213 entry"
    gp.release_caches(spark)

    # build -> absorb -> drift lifecycle, then compact read-invariance
    # and idempotent re-absorb
    gp.build_cluster_store_if_stale(spark, sf_dir)
    gp.absorb_cluster_delta(spark, sf_dir)
    prof = gp.cluster_profile(spark, sf_dir).collect()
    assert sum(r["n_members"] for r in prof) == n_vecs, \
        "cluster profile does not cover corpus + delta"
    dr = sorted(map(str, gp.cluster_drift(spark, sf_dir).collect()))
    assert len(dr) == 4 and all(
        r["share_corpus_e6"] >= 0 and r["drift_e6"] >= 0
        for r in gp.cluster_drift(spark, sf_dir).collect())
    gp.absorb_cluster_delta(spark, sf_dir)  # idempotent: same state
    gp.compact_cluster_store(spark, sf_dir)
    assert sorted(map(str, gp.cluster_drift(spark, sf_dir).collect())) == dr, \
        "compact or re-absorb moved the drift read"
    gp.release_caches(spark)

    # --- the generic runner exposes the whole query surface ---
    names = gp.query_names(spark)
    assert "q66_dedup_clusters" in names and "q31_ann_lsh" in names
    raised = False
    try:
        gp.run_query(spark, "no_such_query", sf_dir)
    except Exception as e:
        raised = True
        assert "unknown query" in str(e)
    # asserted OUTSIDE the except: a raise inside the try whose message
    # happened to contain the expected substring must not self-satisfy
    assert raised, "unknown query name did not raise"

    # --- the generic dispatch names a target that does not resolve ---
    call_error = None
    try:
        gp.call(spark, "queries.NoSuchStore.absorb", sf_dir)
    except Exception as e:
        call_error = str(e)
    assert call_error is not None and \
        "graft.queries.NoSuchStore.absorb" in call_error, \
        f"unknown call target did not raise naming it: {call_error!r}"

    print("PY_PIPELINE_OK docs=%d dedup_groups=%d multi_clusters=%d ann_rows=%d "
          "persisted_rows=%d mix_kept=%d mix_nogate=%d mix_cap2=%d take_rows=%d"
          % (n_docs, len(dedup), multi, len(ann), len(appended), len(mix),
             len(relaxed), len(capped2), len(take)))
    spark.stop()


def test_pipeline_bridge(graft_classes, sf_dir):
    """Standalone pytest entry: same run the Scala harness drives, with
    argv derived by conftest (classes dir, testdata dir)."""
    import sys as _sys
    argv = _sys.argv
    _sys.argv = [__file__, graft_classes, sf_dir]
    try:
        main()
    finally:
        _sys.argv = argv


if __name__ == "__main__":
    main()
