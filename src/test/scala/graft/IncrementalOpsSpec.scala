package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/**
 * The round-14 operator pack beyond the oracled hashes: [[graft.queries
 * .StatsStore]] merge algebra and staleness, [[graft.queries.Graph]]
 * fixed-point PageRank semantics on hand graphs, the q108 Morton
 * interleave + its locality guarantee, q109 sparse-cosine fixture
 * behavior, and the q105 planting invariant.
 */
class IncrementalOpsSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"
  import graft.queries.{Caches, Graph, StatsStore, TextPipeline}

  test("q134: store-composed mix equals the same pipeline over live state") {
    import graft.queries.{DedupIndex, StoreMix}
    // run the full operational loop (build → judge → absorb both stores)
    val viaStores = Caches.scoped(
      StoreMix.storeMix(spark, sf).collect().toSeq.map(_.toString))
    assert(viaStores.nonEmpty)
    // recompute the SAME state store-free: membership = corpus md5
    // keepers ∪ min-per-fp of the pristine judge's 'unique' docs (what
    // absorb persisted); stats = the direct full-table aggregation the
    // absorbed store must equal. The pipeline over the live state must
    // be row-identical to the pipeline over the store reads.
    DedupIndex.build(spark, sf) // pristine again for the live judge
    val docs = graft.queries.Tables.t(spark, sf, "documents")
    val corpusKeepers = docs.where("doc_id % 10 < 7")
      .groupBy(md5(col("text"))).agg(min(col("doc_id")).as("doc_id"))
      .select("doc_id")
    val uniqueKept = Caches.scoped {
      val v = DedupIndex.deltaVerdicts(spark, sf)
        .where("verdict = 'unique'").select(col("doc_id"))
      DedupIndex.deltaDocs(spark, sf).join(v, Seq("doc_id"))
        .groupBy(md5(col("text"))).agg(min(col("doc_id")).as("doc_id"))
        .select("doc_id").collect().toSeq
    }
    val liveKeepers = corpusKeepers.unionByName(
      spark.createDataFrame(spark.sparkContext.parallelize(uniqueKept),
        corpusKeepers.schema))
    val liveStats = docs.groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("total_chars"))
    val viaLive = Caches.scoped(
      StoreMix.mixFrom(spark, sf, liveKeepers, liveStats)
        .collect().toSeq.map(_.toString))
    assert(viaStores == viaLive,
      s"store-composed mix diverged from the live recompute:\n" +
        s"stores=${viaStores.take(3)}\nlive=${viaLive.take(3)}")
    Caches.releaseAll()
  }

  test("q139 histogram quantiles: absorbed store == full recompute; one-bin error bound") {
    // lifecycle: corpus histogram + absorbed delta bins, read from the
    // store alone — must equal the same estimator over the full table
    StatsStore.buildHist(spark, sf)
    StatsStore.absorbHist(spark, sf)
    val est = StatsStore.histQuantiles(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toMap
    assert(est.nonEmpty)
    // the declared error model: each estimate is the LOWER EDGE of the
    // bin holding the ceil-rank value v — so est <= v < est + binW (16)
    val byLang = graft.queries.Tables.t(spark, sf, "documents")
      .select(col("lang"), col("n_chars")).collect()
      .groupBy(_.getString(0)).view.mapValues(_.map(_.getLong(1)).sorted).toMap
    for ((lang, (n, p50, p90, p99)) <- est) {
      val vals = byLang(lang)
      assert(n == vals.length, s"$lang: store n=$n vs ${vals.length} docs")
      for ((p, estV) <- Seq((50, p50), (90, p90), (99, p99))) {
        // ceil-rank: the value at 1-based position ceil(p/100 * n)
        val rank = (p * n + 99) / 100
        val truth = vals((rank - 1).toInt)
        assert(estV <= truth && truth < estV + 16,
          s"$lang p$p: estimate $estV not within one bin of rank value $truth")
      }
    }
    graft.queries.Caches.releaseAll()
  }

  test("StatsStore merged partials equal a one-pass full aggregate exactly") {
    StatsStore.build(spark, sf)
    assert(StatsStore.isCurrent(spark, sf), "fresh build must be current")
    val merged = StatsStore.mergedStats(spark, sf).collect()
    val full = spark.read.parquet(s"$sf/documents.parquet")
      .groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("total_chars"),
        sum(col("n_chars") * col("n_chars")).as("s2"),
        min(col("n_chars")).as("min_chars"), max(col("n_chars")).as("max_chars"))
      .selectExpr("lang", "source", "n_docs", "total_chars",
        "(total_chars * 1000000L) div n_docs AS mean_e6",
        "((n_docs * s2 - total_chars * total_chars) * 1000L)" +
          " div (n_docs * n_docs) AS var_e3",
        "min_chars", "max_chars")
      .orderBy(col("lang"), col("source")).collect()
    assert(merged.toSeq == full.toSeq,
      s"merge drifted from recompute:\n${merged.take(3).mkString("\n")}")
  }

  test("StatsStore absorb: the store alone then equals the full recompute") {
    StatsStore.build(spark, sf)
    StatsStore.absorb(spark, sf)
    // absorbed store != pristine corpus slice — must read stale
    assert(!StatsStore.isCurrent(spark, sf), "absorbed store read as current")
    val stored = StatsStore.storedStats(spark, sf).collect()
    val direct = Caches.scoped(
      queries.StatsStore.queries("q107_incremental_stats")(spark, sf).collect())
    // q107 rebuilds the pristine store and merges the delta live — the
    // absorbed store's own numbers must be identical
    assert(stored.toSeq == direct.toSeq,
      s"absorb drifted from live merge:\n${stored.take(3).mkString("\n")}")
  }

  test("DedupIndex.compact: judge answers unchanged, layers collapse, meta survives") {
    import graft.queries.DedupIndex
    val v = "cptspec"
    DedupIndex.build(spark, sf, v)
    DedupIndex.absorb(spark, sf, v) // layer 2 lands under every table
    val delta = DedupIndex.deltaDocs(spark, sf)
    val before = Caches.scoped(
      DedupIndex.judgeDocs(spark, sf, delta, v).collect().map(_.toString).toSeq)
    def parquetFiles(t: String): Int =
      new java.io.File(s"${DedupIndex.root(sf, v)}/$t").listFiles()
        .count(_.getName.endsWith(".parquet"))
    val filesBefore = parquetFiles("bands")
    DedupIndex.compact(spark, sf, v)
    val after = Caches.scoped(
      DedupIndex.judgeDocs(spark, sf, delta, v).collect().map(_.toString).toSeq)
    assert(before == after, "compaction changed a verdict")
    // at sf0.001 build+absorb may already land at the coalesce target, so
    // the bound is <=; the 4-file ceiling is the compaction contract
    assert(parquetFiles("bands") <= 4 && parquetFiles("bands") <= filesBefore,
      s"bands not compacted: $filesBefore -> ${parquetFiles("bands")}")
    // meta restored: still non-pristine (absorbed), not 'compacting'
    val meta = graft.queries.StoreMeta.rows(spark, DedupIndex.root(sf, v))
    assert(meta.get("batch1").contains("absorbed") &&
      !meta.values.exists(_ == "compacting"))
  }

  test("StatsStore.compact: stored stats unchanged, partials collapse to #groups") {
    val v = "cptspec"
    StatsStore.build(spark, sf, v)
    // absorb TWICE: at sf0.001 the corpus and delta slices hit disjoint
    // (lang, source) groups (69 + 30 = 99 = all groups), so one absorb
    // leaves every group single-layered and compaction has nothing to
    // collapse; the second absorb forces real multi-layer groups (pure
    // merge mechanics — the state is deliberately not a valid lifecycle)
    StatsStore.absorb(spark, sf, v)
    StatsStore.absorb(spark, sf, v)
    val before = StatsStore.storedStats(spark, sf, v).collect().toSeq
    val layered = spark.read.parquet(s"${StatsStore.root(sf, v)}/partials").count()
    StatsStore.compact(spark, sf, v)
    val after = StatsStore.storedStats(spark, sf, v).collect().toSeq
    val compacted = spark.read.parquet(s"${StatsStore.root(sf, v)}/partials").count()
    assert(before == after, "compaction changed the stored stats")
    assert(compacted == before.size && compacted < layered,
      s"partials not collapsed to one row per group: $layered -> $compacted")
  }

  test("EmbedIndex.compact: judge answers unchanged after the bucket rewrite") {
    import graft.queries.EmbedIndex
    val v = "cptspec"
    EmbedIndex.build(spark, sf, v)
    EmbedIndex.absorbVecs(spark, sf, EmbedIndex.batch1Vecs(spark, sf), v)
    val b2 = EmbedIndex.batch2Vecs(spark, sf)
    val before = EmbedIndex.judgeVecs(spark, sf, b2, v).collect().map(_.toString).toSeq
    EmbedIndex.compact(spark, sf, v)
    val after = EmbedIndex.judgeVecs(spark, sf, b2, v).collect().map(_.toString).toSeq
    assert(before == after, "bucket compaction changed a verdict")
    val files = new java.io.File(s"${EmbedIndex.root(sf, v)}/buckets").listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(files <= 4, s"buckets not compacted: $files files")
  }

  test("q168 streamed embed gate == q142 batch lifecycle, row-identically") {
    import graft.queries.Caches
    val streamed = Caches.scoped(
      SparkEntry.queries("q168_stream_embed_gate")(spark, sf)
        .collect().toSeq.map(_.toString))
    val batch = Caches.scoped(
      SparkEntry.queries("q142_embed_two_batch")(spark, sf)
        .collect().toSeq.map(_.toString))
    assert(streamed.nonEmpty, "stream gate produced no verdicts")
    assert(streamed == batch,
      s"streamed tick-2 verdicts diverged from the batch lifecycle:\n" +
        s"streamed=${streamed.take(3)}\nbatch=${batch.take(3)}")
    Caches.releaseAll()
  }

  test("VocabStore.compact: coverage unchanged, layers collapse to one per word") {
    import graft.queries.VocabStore
    val v = "cptspec"
    VocabStore.build(spark, sf, v)
    // two absorbs of the shared-root store would hit the DEFAULT root —
    // absorb has no variant param (q140's contract); layer directly here
    val p = VocabStore.partialsPath(sf, v)
    spark.read.parquet(p).write.mode("append").parquet(p + "_copy")
    spark.read.parquet(p + "_copy").write.mode("append").parquet(p)
    val before = VocabStore.vocabWords(spark, sf, v).collect().map(_.getString(0)).toSeq
    val layered = spark.read.parquet(p).count()
    VocabStore.compact(spark, sf, v)
    val after = VocabStore.vocabWords(spark, sf, v).collect().map(_.getString(0)).toSeq
    val compacted = spark.read.parquet(p).count()
    assert(before == after, "vocab compaction changed the top-k")
    assert(compacted < layered,
      s"vocab layers not collapsed: $layered -> $compacted")
  }

  test("StatsStore staleness: a foreign fingerprint forces rebuild") {
    StatsStore.buildIfStale(spark, sf)
    graft.queries.StoreMeta.write(spark, StatsStore.root(sf), Seq("base" -> "bogus:fp"))
    assert(!StatsStore.isCurrent(spark, sf), "foreign fingerprint read as current")
    StatsStore.buildIfStale(spark, sf)
    assert(StatsStore.isCurrent(spark, sf), "rebuild must restore currency")
  }

  test("pagerank: symmetric 2-cycle holds equal mass; sinks drain truncation only") {
    import spark.implicits._
    val nodes = Seq(0L, 1L).toDF("node")
    // A→B and B→A, each the node's only out-edge → wfrac = 1e6 both ways
    val ef = Seq((0L, 1L, 1000000L), (1L, 0L, 1000000L)).toDF("src", "dst", "wfrac")
    val pr = Caches.scoped(
      Graph.pagerankOf(nodes, ef, 2L).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap)
    assert(pr(0L) == pr(1L), s"symmetric cycle diverged: $pr")
    // mass conservation: teleport + damped inflow keeps each at base
    // (5e11) minus only integer-truncation dust
    assert(math.abs(pr(0L) - 500000000000L) < 10L, s"mass leaked: $pr")
  }

  test("pagerank: a node fed by two sources outranks its feeders") {
    import spark.implicits._
    val nodes = Seq(0L, 1L, 2L).toDF("node")
    // 1→0 and 2→0 only; 0 has no out-edges (dangling — absorbs then
    // leaks mass to the teleport floor, which is fine: ordering is the
    // semantic under test)
    val ef = Seq((1L, 0L, 1000000L), (2L, 0L, 1000000L)).toDF("src", "dst", "wfrac")
    val pr = Caches.scoped(
      Graph.pagerankOf(nodes, ef, 3L).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap)
    assert(pr(0L) > pr(1L) && pr(0L) > pr(2L), s"hub not ranked above feeders: $pr")
    assert(pr(1L) == pr(2L), s"identical feeders diverged: $pr")
  }

  test("q106 on sf0.001: 25 nations, all positive, total mass bounded by scale") {
    val rows = Caches.scoped(
      queries.Graph.queries("q106_pagerank")(spark, sf).collect())
    assert(rows.length == 25)
    val prs = rows.map(_.getLong(2))
    assert(prs.forall(_ > 0L))
    assert(prs.sum <= 1000000000000L, "rank mass exceeded the scale unit")
  }

  test("Morton interleave: known bit patterns") {
    val z = spark.sql(
      """SELECT aggregate(sequence(0, 15), 0L, (acc, i) -> acc
        |  + shiftleft(shiftright(px, i) & 1, 2*i)
        |  + shiftleft(shiftright(sy, i) & 1, 2*i+1)) AS z
        |FROM VALUES (3L, 1L), (0L, 0L), (65535L, 65535L) AS t(px, sy)
        |ORDER BY z""".stripMargin).collect().map(_.getLong(0)).toSeq
    // (0,0)→0; (3,1): px bits {0,1}→z bits {0,2}=5, sy bit {0}→z bit {1}=2 → 7;
    // (65535,65535) → all 32 low bits set
    assert(z == Seq(0L, 7L, 4294967295L), s"interleave wrong: $z")
  }

  test("q108 locality: a 16-bit z-bucket bounds BOTH dimensions to 256-wide spans") {
    val rows = Caches.scoped(
      queries.Physical.queries("q108_zorder_layout")(spark, sf).collect())
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (minP, maxP) = (r.getLong(2), r.getLong(3))
      val (minS, maxS) = (r.getLong(4), r.getLong(5))
      // z div 65536 fixes the top 8 bits of each 16-bit dimension, so
      // within a bucket each dimension varies only in its low 8 bits
      assert(maxP - minP < 256, s"partkey span ${maxP - minP} in bucket ${r.getLong(0)}")
      assert(maxS - minS < 256, s"suppkey span ${maxS - minS} in bucket ${r.getLong(0)}")
    }
  }

  test("sparse cosine: identical shingle sets score 1.0; disjoint sets never pair") {
    import spark.implicits._
    // three shared shingles — the min-overlap candidate floor exactly
    val sh = Seq(
      1L -> Seq("a b c", "b c d", "c d e"),
      2L -> Seq("a b c", "b c d", "c d e"), // identical to 1
      3L -> Seq("x y z", "y z w", "z w v")  // disjoint vocabulary
    ).toDF("doc_id", "sh")
    val n = Seq(3L).toDF("n")
    val out = Caches.scoped(
      TextPipeline.sparseCosineOf(sh, n).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet)
    assert(out == Set((1L, 2L, 1.0)), s"got $out")
  }

  test("sparse cosine min-overlap: a 2-shingle collision is never verified") {
    import spark.implicits._
    // docs 1 and 2 share exactly TWO banded shingles (cosine would be
    // 1.0) — below the minShared=3 candidate floor, so no pair emits
    val sh = Seq(
      1L -> Seq("a b c", "b c d"),
      2L -> Seq("a b c", "b c d")
    ).toDF("doc_id", "sh")
    val out = Caches.scoped(
      TextPipeline.sparseCosineOf(sh, Seq(2L).toDF("n")).collect())
    assert(out.isEmpty, s"sub-floor pair leaked: ${out.mkString(",")}")
  }

  test("q109 finds every small exact-dup pair at cosine 1.0") {
    // exact dups share ALL shingles; groups of ≤ 20 keep every shingle's
    // df within the blocking band, so the pair MUST surface at exactly
    // 1.0. sf0.1 is the smallest corpus with planted exact dups (the
    // sf0.001/sf0.01 documents tables are all-unique).
    val sf = "/root/testdata/sf0.1"
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val dupPairs = Caches.scoped(
      docs.selectExpr("doc_id", "md5(text) AS h", "size(split(text, ' ')) AS nt")
        .where("nt >= 3")
        .groupBy(col("h"))
        .agg(collect_list(col("doc_id")).as("ids"))
        .where("size(ids) BETWEEN 2 AND 20")
        .selectExpr("explode(transform(sequence(1, size(ids) - 1)," +
          " i -> struct(array_min(ids) AS a, array_sort(ids)[i] AS b))) AS p")
        .selectExpr("p.a", "p.b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet)
    assert(dupPairs.nonEmpty, "fixture corpus lost its planted exact dups")
    val found = Caches.scoped(
      queries.TextPipeline.queries("q109_sparse_cosine")(spark, sf).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet)
    val missing = dupPairs.filterNot(p => found.contains((p._1, p._2, 1.0)))
    assert(missing.isEmpty, s"dup pairs missing or not 1.0: ${missing.take(5)}")
  }

  test("q109 blocking recall: candidates are sound AND find >= 95% of brute-force truth") {
    // Truth = sparseCosineOf with blocking disabled (df band unbounded,
    // minShared 1 ⇒ candidates are ALL pairs sharing any shingle — a
    // superset of every pair with nonzero dot, so this IS the exact
    // brute-force answer at the bounded spec corpus).
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val sh = TextPipeline.shinglesOf(docs.select(col("doc_id"), col("text")))
    val nDocs = docs.agg(count(lit(1)).as("n"))
    val truth = Caches.scoped(
      TextPipeline.sparseCosineOf(sh, nDocs, dfMin = 1L, dfMax = Long.MaxValue,
        minShared = 1L).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet)
    val found = Caches.scoped(
      queries.TextPipeline.queries("q109_sparse_cosine")(spark, sf).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet)
    assert(found.subsetOf(truth),
      s"blocked path invented pairs: ${(found -- truth).take(5)}")
    assert(truth.nonEmpty, "no true pairs — recall gate has no teeth")
    val recall = found.size.toDouble / truth.size
    info(f"q109 blocking recall: ${found.size}/${truth.size} = $recall%.3f")
    // measured 1.000 on sf0.001 AND sf0.1 (28/28, 256/256); gate at 0.95
    // so a corpus regeneration that genuinely moves the df landscape
    // surfaces as a review, not a flaky red
    assert(recall >= 0.95, f"blocking recall $recall%.3f below the 0.95 gate")
  }

  test("q105 keepers are always base-corpus ids and planting is absorbed") {
    val rows = Caches.scoped(
      queries.TextPipeline.queries("q105_norm_dedup")(spark, sf).collect())
    assert(rows.nonEmpty)
    // keeper = min id of the group; every planted copy's source has a
    // smaller (base) id, so no keeper can be a planted id
    assert(rows.forall(_.getLong(1) < 10000000L), "planted id won the keeper slot")
    val planted = spark.read.parquet(s"$sf/documents.parquet")
      .where("doc_id % 9 = 4").count()
    val absorbed = rows.map(r => r.getLong(2) - 1).sum
    assert(absorbed >= planted,
      s"only $absorbed members absorbed for $planted planted copies")
  }

  test("trianglesOf: K4 yields its 4 triangles; C4 yields none") {
    import spark.implicits._
    // K4 on {1,2,3,4}: all 6 canonical edges → C(4,3) = 4 triangles,
    // each vertex in exactly 3
    val k4 = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L))
      .toDF("a", "b")
    val tris = Graph.trianglesOf(k4).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(tris == Set((1L, 2L, 3L), (1L, 2L, 4L), (1L, 3L, 4L), (2L, 3L, 4L)),
      s"K4 triangles wrong: $tris")
    // the 4-cycle has wedges but no closures
    val c4 = Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 4L)).toDF("a", "b")
    assert(Graph.trianglesOf(c4).count() == 0, "C4 fabricated a triangle")
  }

  test("q128 participation on sf0.001 is consistent and bounded") {
    val rows = Caches.scoped(
      queries.Graph.queries("q128_triangle_backbone")(spark, sf).collect())
    assert(rows.length == 20, s"top-20 cut returned ${rows.length}")
    // sorted by (n desc, part asc) with a total order
    val counts = rows.map(r => (r.getLong(1), r.getLong(0)))
    assert(counts.sliding(2).forall { case Array((n1, p1), (n2, p2)) =>
      n1 > n2 || (n1 == n2 && p1 < p2) }, "participation order broken")
    assert(counts.forall(_._1 > 0))
  }

  test("q132: seeds stay clamped, propagation reaches non-seeds, totals conserve") {
    val rows = Caches.scoped(
      queries.Graph.queries("q132_label_prop")(spark, sf).collect())
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val totalNodes = rows.map(_._2).sum
    val totalSeeds = rows.map(_._3).sum
    assert(totalNodes > 0 && totalSeeds > 0)
    // the unlabeled bucket can hold no seeds (seeds are labeled by def)
    rows.find(_._1 == "unlabeled").foreach { case (_, _, s) =>
      assert(s == 0L, "a seed ended up unlabeled — clamping broken")
    }
    // propagation must actually label non-seeds: labeled nodes > seeds
    val labeledNodes = rows.filterNot(_._1 == "unlabeled").map(_._2).sum
    assert(labeledNodes > totalSeeds,
      s"no non-seed adopted a label ($labeledNodes labeled vs $totalSeeds seeds)")
    // seed fraction: every 5th partkey seeds, so ~20% of backbone nodes
    assert(totalSeeds >= totalNodes / 10 && totalSeeds <= totalNodes / 3,
      s"seed count $totalSeeds implausible for $totalNodes nodes (~20% expected)")
  }

  test("q129: gaps are filled exactly, interpolants are convex-bounded") {
    val rows = Caches.scoped(
      queries.Advanced.queries("q129_interpolate")(spark, sf).collect())
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2), r.getBoolean(3)))
    val byUser = rows.groupBy(_._1)
    byUser.foreach { case (u, rs) =>
      val days = rs.map(_._2.getTime).sorted
      // span is dense: every day between a user's first and last is present
      assert((days.last - days.head) / 86400000L == days.length - 1L,
        s"user $u series has holes after interpolation")
    }
    // every interpolated value sits within [min, max] of its observed
    // neighbors (convexity of the integer interpolant)
    byUser.foreach { case (u, rs) =>
      val srt = rs.sortBy(_._2.getTime)
      var lastObs = Option.empty[Long]
      var pend = List.empty[Long]
      srt.foreach { case (_, _, v, interp) =>
        if (interp) pend ::= v
        else {
          for (p <- pend; lo <- lastObs) {
            assert(p >= math.min(lo, v) && p <= math.max(lo, v),
              s"user $u interpolant $p outside [$lo, $v]")
          }
          pend = Nil
          lastObs = Some(v)
        }
      }
      assert(pend.isEmpty, s"user $u series ends interpolated")
    }
  }

  test("time travel: asOf walks the layer history; changelog is the exact diff") {
    // materialize the shared tagged store via the q148 surface
    Caches.scoped(StatsStore.queries("q148_stats_asof")(spark, sf).collect())
    // epoch 0 == the pristine corpus-only store (same finalize, same slice)
    StatsStore.buildIfStale(spark, sf)
    val asOf0 = Caches.scoped(
      StatsStore.statsAsOf(spark, sf, 0L).collect().toSeq.map(_.toString))
    val pristine = Caches.scoped(
      StatsStore.storedStats(spark, sf).collect().toSeq.map(_.toString))
    assert(asOf0 == pristine, "asOf(0) diverged from the pristine corpus store")
    // epoch 2 == everything == the oracled merged-stats state
    val asOf2 = Caches.scoped(
      StatsStore.statsAsOf(spark, sf, 2L).collect().toSeq.map(_.toString))
    val full = Caches.scoped(
      StatsStore.mergedStats(spark, sf).collect().toSeq.map(_.toString))
    assert(asOf2 == full, "asOf(2) diverged from the full merged stats")
    // the (0, 2] changelog accounts for exactly the rows between the
    // two as-of states, per group (additivity of the diff read)
    def counts(df: org.apache.spark.sql.DataFrame): Map[(String, String), Long] =
      Caches.scoped(df.collect().toSeq
        .map(r => ((r.getString(0), r.getString(1)), r.getLong(2))).toMap)
    val c0 = counts(StatsStore.statsAsOf(spark, sf, 0L))
    val c2 = counts(StatsStore.statsAsOf(spark, sf, 2L))
    val diff = counts(StatsStore.statsChanges(spark, sf, 0L, 2L))
    c2.foreach { case (g, n) =>
      assert(n - c0.getOrElse(g, 0L) == diff.getOrElse(g, 0L),
        s"changelog miscounts group $g")
    }
    Caches.releaseAll()
  }

  test("q150: store-backed triangle read == the direct q128 full-table read") {
    import graft.queries.GraphStore
    val viaStore = Caches.scoped(
      GraphStore.queries("q150_graph_store")(spark, sf)
        .collect().toSeq.map(_.toString))
    val direct = Caches.scoped(
      Graph.triangleBackbone(spark, sf).collect().toSeq.map(_.toString))
    assert(viaStore == direct,
      s"incremental edge store changed the triangle read:\n" +
        s"store=${viaStore.take(3)}\ndirect=${direct.take(3)}")
    // the layered meta reads absorbed-and-current as CURRENT — the
    // steady state where the next lifecycle skips rebuild and re-absorb
    assert(GraphStore.isCurrent(spark, sf),
      "absorbed, unchanged graph store reads as stale")
    // the compacting lifecycle serves label propagation identically too
    val lpStore = Caches.scoped(
      GraphStore.queries("q152_graph_store_lp")(spark, sf)
        .collect().toSeq.map(_.toString))
    val lpDirect = Caches.scoped(
      Graph.queries("q132_label_prop")(spark, sf).collect().toSeq.map(_.toString))
    assert(lpStore == lpDirect,
      "compacted edge store changed the label-propagation read")
    // steady state: a SECOND lifecycle over the unchanged corpus is a
    // no-op on the edges table (no rebuild, no re-append, no re-fold) —
    // the newest mtime under edges/ must not move
    def edgesMtime: Long =
      new java.io.File(s"${GraphStore.root(sf)}/edges")
        .listFiles().filter(_.getName.startsWith("part-"))
        .map(_.lastModified).max
    val m0 = edgesMtime
    val lpAgain = Caches.scoped(
      GraphStore.queries("q152_graph_store_lp")(spark, sf)
        .collect().toSeq.map(_.toString))
    assert(lpAgain == lpStore, "steady-state lap moved the read")
    assert(edgesMtime == m0,
      "absorbed-and-current lifecycle rewrote the edges table")
    Caches.releaseAll()
  }

  test("q154: union-merged occupancy == live recompute; additive merge would overcount") {
    StatsStore.buildLc(spark, sf)
    StatsStore.absorbLc(spark, sf)
    val fromStore = Caches.scoped(StatsStore.lcOccupancy(spark, sf)
      .collect().toSeq.map(r => (r.getString(0), r.getLong(1))))
    val bucketExpr = "cast(conv(substring(md5(cast(user_id AS string)), 1, 8), " +
      "16, 10) AS bigint) % 4096 AS bucket"
    def occ(pred: String) = Caches.scoped(
      graft.queries.Tables.t(spark, sf, "events").where(pred)
        .selectExpr("event_type", bucketExpr).distinct()
        .groupBy(col("event_type")).agg(count(lit(1)).as("n"))
        .orderBy(col("event_type"))
        .collect().toSeq.map(r => (r.getString(0), r.getLong(1))))
    val liveFull = occ("true")
    assert(fromStore == liveFull,
      s"store occupancy diverged from the full recompute:\n$fromStore\n$liveFull")
    // the reason this store unions instead of adding: users span the
    // corpus/delta split, so per-batch occupancies overlap and their SUM
    // overcounts the merged truth
    val sums = (occ("event_id % 10 < 7") ++ occ("event_id % 10 >= 7"))
      .groupBy(_._1).map { case (t, xs) => (t, xs.map(_._2).sum) }
    assert(liveFull.exists { case (t, n) => sums(t) > n },
      "fixture no longer demonstrates the additive-merge overcount")
    Caches.releaseAll()
  }

  test("q153: store judge == live-benchmark judge; planted copies flagged; staleness") {
    import graft.queries.{DecontamIndex, Tables}
    val rows = Caches.scoped(
      DecontamIndex.queries("q153_decontam_store")(spark, sf).collect().toSeq)
    assert(rows.nonEmpty, "no contamination flagged at all")
    // planted copies (% 97 = 1 carries a benchmark doc's text) dominate
    // the flags, and each matches a benchmark doc
    val planted = rows.filter(_.getLong(0) % 97 == 1)
    assert(planted.nonEmpty, "fixture lost its planted contaminations")
    planted.foreach { r =>
      assert(r.getLong(2) % 97 == 0,
        s"bench_match is not a benchmark doc: $r")
    }
    // store-free recompute: the same judge against LIVE benchmark
    // fingerprints must agree row-for-row (store == live)
    graft.functions.WinnowFingerprints.register(spark)
    def fps(df: org.apache.spark.sql.DataFrame) = df
      .selectExpr("doc_id", "lower(regexp_replace(text, '[^a-z0-9]', '')) AS tx")
      .where("length(tx) >= 11")
      .selectExpr("doc_id",
        "explode(array_distinct(winnow_fingerprints(tx, 8, 4))) AS fp")
    val base = Tables.t(spark, sf, "documents").select(col("doc_id"), col("text"))
    val src = base
      .join(base.selectExpr("doc_id + 1 AS p_id", "text AS p_text"),
        col("p_id") === col("doc_id") && col("doc_id") % 97 === 1, "left")
      .selectExpr("doc_id",
        "CASE WHEN doc_id % 97 = 1 AND p_text IS NOT NULL THEN p_text" +
          " ELSE text END AS text")
    val bench = fps(base.where("doc_id % 97 = 0"))
      .selectExpr("doc_id AS bench_id", "fp")
    val bsz = bench.groupBy(col("bench_id"))
      .agg(countDistinct(col("fp")).as("n_fps"))
    val live = Caches.scoped(fps(src.where("doc_id % 97 != 0"))
      .join(broadcast(bench), Seq("fp"))
      .groupBy(col("doc_id"), col("bench_id"))
      .agg(countDistinct(col("fp")).as("shared"))
      .join(broadcast(bsz), Seq("bench_id"))
      .where(col("shared") * 2 >= col("n_fps"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bench_hits"),
        min(col("bench_id")).as("bench_match"))
      .orderBy(col("doc_id")).collect().toSeq.map(_.toString))
    assert(rows.map(_.toString) == live,
      "persisted benchmark store diverged from the live judge")
    // the containment rule separates: only the planted copies and true
    // near-copies flag, not the corpus-wide fingerprint collisions the
    // raw shared-count rule drowned in (measured 481/494 at >= 2 fps)
    val nonBench = Tables.t(spark, sf, "documents")
      .where("doc_id % 97 != 0").count()
    assert(rows.size < nonBench / 10,
      s"containment rule stopped separating: ${rows.size} of $nonBench flagged")
    // absorb flipped the store non-pristine: next lifecycle rebuilds
    assert(!DecontamIndex.isCurrent(spark, sf),
      "absorbed decontam store still reads current")
    Caches.releaseAll()
  }
}
