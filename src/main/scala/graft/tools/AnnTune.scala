package graft.tools

import org.apache.spark.sql.SparkSession

import graft.similarity.{AnnIndex, AnnIvf, AnnTier, IvfPqTier, IvfTier, LshTier, PqTier}

/**
 * Offline knob sweep for the ANN operating point: prints mean recall@5 and
 * scan fraction (and, for voted/budgeted LSH, the pre-vote pool) for a
 * grid of LSH/IVF knobs against driver-side exhaustive top-k. Not part of
 * the query surface — run with
 * `sbt "runMain graft.tools.AnnTune [lsh|vote|budget|ship|seeds|ivfseeds|ivf|ivfwide|ivfdrift|lshdrift|lshmix|pq|pqdrift|ivfpq|ivfpqdrift|both]"`
 * (an unknown mode fails loud instead of printing an empty grid).
 */
object AnnTune {
  private val modes =
    Set("lsh", "vote", "budget", "ship", "seeds", "ivfseeds", "ivf", "ivfwide",
      "ivfdrift", "lshdrift", "lshmix", "pq", "pqdrift", "ivfpq", "ivfpqdrift", "both")
  def main(args: Array[String]): Unit = {
    val which = args.headOption.getOrElse("both")
    require(modes.contains(which),
      s"unknown AnnTune mode '$which' — expected one of ${modes.toSeq.sorted.mkString("|")}")
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val nProbes = 25
    val k = 5
    val spark = SparkSession.builder()
      .master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
      .selectExpr("vec_id", "transform(embedding, x -> cast(x AS double)) AS e")
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    val total = emb.size
    def cosineOf(a: Array[Double], b: Array[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val brute = (0 until nProbes).map { q =>
      val qv = emb(q.toLong)
      q.toLong -> emb.view.filter(_._1 != q.toLong)
        .map { case (id, v) => (cosineOf(qv, v), id) }
        .toSeq.sortBy { case (c, id) => (-c, id) }.take(k).map(_._2).toSet
    }.toMap

    def evalOne(label: String, cands: org.apache.spark.sql.DataFrame,
        top: org.apache.spark.sql.DataFrame,
        prevote: Option[org.apache.spark.sql.DataFrame] = None): Unit = {
      val scanned = cands.groupBy("q_id").count().collect().map(_.getLong(1)).sum
      val frac = scanned.toDouble / (nProbes.toLong * total)
      val ann = top.collect().map(r => (r.getLong(0), r.getLong(1)))
        .groupBy(_._1).map { case (q, xs) => q -> xs.map(_._2).toSet }
      val recall = (0 until nProbes).map(q =>
        ann.getOrElse(q.toLong, Set.empty[Long]).intersect(brute(q.toLong)).size.toDouble / k
      ).sum / nProbes
      // prevote = the id-only pool the collision vote aggregates before
      // filtering (the no-vote candidate set at the same knobs) — the cheap
      // work the scan number excludes; reported so the sweep can minimize
      // it alongside the scored fraction.
      val pre = prevote.map { pc =>
        val n = pc.groupBy("q_id").count().collect().map(_.getLong(1)).sum
        f" prevote=${n.toDouble / (nProbes.toLong * total)}%.3f"
      }.getOrElse("")
      println(f"$label%-46s recall@$k=$recall%.3f scan=$frac%.3f$pre")
    }

    def rm(p: java.io.File): Unit = {
      Option(p.listFiles).foreach(_.foreach(rm))
      p.delete()
    }

    /** `body` over a temp copy of the corpus's first N/(1+f) vec_ids —
      * the build-time corpus of an index then appended by fraction f —
      * removed afterwards (each fraction copies up to the whole corpus;
      * undeleted copies would accrete in tmp until the disk fills). */
    def withPrefix(mode: String, f: Double)(body: (String, Long) => Unit): Unit = {
      val cutoff = math.round(total / (1.0 + f))
      val prefix = java.nio.file.Files.createTempDirectory(s"graft-$mode-$f-").toString
      try {
        spark.read.parquet(s"$dir/embeddings.parquet")
          .where(s"vec_id < $cutoff")
          .write.mode("overwrite").parquet(s"$prefix/embeddings.parquet")
        body(prefix, cutoff)
      } finally rm(new java.io.File(prefix))
    }

    /** FROZEN geometry: `tier`'s knobs resolved and its geometry fit on
      * the prefix corpus at `prefix`, scanning the FULL corpus — what a
      * persisted index built at the prefix's size and appended to the
      * full size serves (undersized knobs, stale fit, the training
      * corpus's re-rank depth). Returns (candidates, top-k). */
    def frozen(tier: AnnTier, prefix: String)
        : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
      val (t, emb, cands) = AnnTier.fitScan(spark, dir, tier, nProbes, prefix)
      (cands, t.rank(spark, cands, emb, nProbes, k, AnnIvf.corpusCount(spark, prefix)))
    }

    /** `tier`'s candidates and top k on the corpus, fit on the fly. */
    def evalTier(label: String, tier: AnnTier,
        prevote: Option[org.apache.spark.sql.DataFrame] = None): Unit =
      evalOne(label, AnnTier.candidates(spark, dir, tier, nProbes),
        AnnTier.topK(spark, dir, tier, nProbes, k), prevote)

    /** `tier` with its no-vote candidates as the prevote pool. */
    def evalVoted(label: String, tier: LshTier): Unit =
      evalTier(label, tier,
        Some(AnnTier.candidates(spark, dir, tier.copy(minCollisions = 1), nProbes)))

    if (which == "lsh" || which == "both") {
      // r7 shipped point for reference, then the grid under the fixed
      // per-table quota (TUNE_r9.txt also swept a global merge of the
      // same probe budget; it lost on both axes at every point).
      for {
        (planes, tables, probes) <- Seq((8, 5, 28)) ++ (for {
          p <- Seq(10, 12); t <- Seq(4, 6, 8); pr <- Seq(32, 48, 64, 96, 128)
        } yield (p, t, pr))
      } evalTier(s"lsh planes=$planes tables=$tables probes=$probes",
        LshTier(planes, tables, probes))
    }
    if (which == "vote" || which == "both") {
      // Collision-voting variant: high-recall knobs + a >=minC-collision
      // filter on the scored pool — recall from wide probing, scan cost
      // from the vote filter. Round 10 extends the sweep beyond planes=10
      // (the only voted section of TUNE_r9.txt): finer buckets shrink the
      // id-only PRE-VOTE pool the vote must aggregate (the dominant term at
      // scale once the scored fraction is pruned), with wider probing + the
      // vote recovering border recall. Each point also reports that pool.
      for {
        (planes, tables, probes, minC) <- Seq(
          // r9 shipped point, for reference (now with its prevote printed)
          (10, 10, 160, 3),
          // planes=12: 4096 buckets, probe budgets scaled ~4x
          (12, 10, 256, 2), (12, 10, 320, 2), (12, 10, 384, 2),
          (12, 10, 320, 3), (12, 10, 384, 3), (12, 10, 448, 3),
          (12, 12, 256, 2), (12, 12, 320, 2), (12, 12, 256, 3),
          (12, 12, 320, 3), (12, 12, 384, 3), (12, 12, 448, 3),
          (12, 14, 256, 3), (12, 14, 320, 3), (12, 14, 384, 3),
          // planes=14: 16384 buckets
          (14, 10, 768, 2), (14, 12, 768, 2), (14, 12, 1024, 2),
          (14, 12, 1024, 3), (14, 14, 1024, 3),
          // refinement pass: the first grid put the frontier at minC=2 with
          // fine buckets (p14 t12 pr1024 = 0.904/0.230/pre 0.540) — walk
          // planes 13-15 in that regime hunting prevote <= ~0.45
          (13, 10, 512, 2), (13, 12, 384, 2), (13, 12, 512, 2), (13, 12, 640, 2),
          (13, 14, 384, 2), (13, 14, 512, 2),
          (14, 10, 1280, 2), (14, 12, 896, 2), (14, 14, 640, 2), (14, 14, 768, 2),
          (14, 16, 640, 2),
          (15, 12, 1536, 2), (15, 14, 1280, 2), (15, 16, 1024, 2))
      } evalVoted(s"lsh planes=$planes tables=$tables probes=$probes minC=$minC",
        LshTier(planes, tables, probes, minCollisions = minC))
    }
    if (which == "budget") {
      // Occupancy-budgeted probing (round 10): the probe side takes
      // margin-ordered buckets merged across tables while their summed
      // occupancy fits ceil(poolFrac * corpusN) rows — the id-only
      // pre-vote pool becomes a HARD per-probe bound spent in neighbor-
      // likelihood order, instead of an emergent number dominated by
      // whichever mega-buckets the fixed quota happened to probe. Sweep
      // hunts the box (recall >= 0.85, scan <= 0.25) at poolFrac <= 0.45,
      // the pre-vote target the plain grid could not reach (best
      // non-budgeted point with recall >= 0.85: prevote 0.494).
      // probesPerTable here is the per-table enumeration CAP for the
      // merge, not a quota — set generously (the budget does the cutting).
      // NOTE the budget bounds the MULTIPLICITY pool (every probed-bucket
      // occurrence charges it); the gated prevote number counts DISTINCT
      // (probe, vector) pairs, measured ~0.6-0.75x of the multiplicity
      // bound at these knobs — so the interesting budget range sits well
      // above the 0.45 distinct-pool target. First pass (0.35-0.45)
      // measured recall 0.39-0.60: too tight for the vote to see double
      // collisions.
      for {
        (planes, tables) <- Seq((12, 10), (12, 12), (13, 12), (13, 14),
          (14, 12), (14, 14))
        frac <- Seq(0.35, 0.40, 0.45, 0.55, 0.70, 0.85, 1.00, 1.20)
        minC <- Seq(2)
      } evalVoted(s"lsh planes=$planes tables=$tables budget=$frac minC=$minC",
        LshTier(planes, tables, 1024, minCollisions = minC, poolFrac = frac))
    }
    if (which == "ship") {
      // Ship-point shortlist: the voted frontier's box-satisfying points,
      // re-measured on whatever corpus SPARK_GRAFT_SF_DIR selects — the
      // operating point must hold on BOTH sf0.001 (500 vectors) and sf0.1
      // (2000 vectors) before it becomes the library default, since bucket
      // occupancy (and so the recall/scan/prevote frontier) shifts with
      // corpus size.
      for {
        (planes, tables, probes, minC) <- Seq(
          (10, 10, 160, 3), (13, 14, 384, 2), (14, 12, 896, 2),
          (14, 12, 1024, 2), (13, 12, 512, 2))
      } evalVoted(s"lsh planes=$planes tables=$tables probes=$probes minC=$minC",
        LshTier(planes, tables, probes, minCollisions = minC))
    }
    if (which == "seeds") {
      // SEED-SENSITIVITY (r10 verdict: the sf0.001 gate passed 0.872 vs a
      // 0.85 floor at the single seed 7919L — this sweep turns "green at
      // this seed" into "green with known margin"). First finding, r11:
      // the r10 default (14, 12, 896) spans 0.784-0.872 across 5 seeds on
      // sf0.001 — BELOW the floor at 3 of 5 draws — while holding
      // 0.872-0.960 on sf0.1; so the sweep also walks neighboring points
      // (more tables / wider probing, still inside the scan <= 0.25,
      // prevote <= 0.55 box) hunting one whose 5-seed MIN clears the
      // floor on both corpora. The gates stay deterministic at 7919L;
      // the other seeds measure how much of the margin is plane-draw
      // luck vs the operating point.
      for {
        (planes, tables, probes, minC) <- Seq(
          (14, 12, 896, 2), (14, 14, 768, 2), (14, 14, 896, 2),
          (14, 16, 768, 2), (13, 14, 512, 2))
        seed <- Seq(7919L, 104729L, 1299709L, 15485863L, 32452843L)
      } evalVoted(s"lsh planes=$planes tables=$tables probes=$probes minC=$minC seed=$seed",
        LshTier(planes, tables, probes, seed, minCollisions = minC))
    }
    if (which == "ivfseeds") {
      // IVF's analogue of the LSH seed sweep: the gated operating point
      // (corpus-adaptive nlist/nprobe) rests on the k-means seed 4099L —
      // centroid quality varies by initialization, so the margin over the
      // 0.85 floor must be measured across draws, not assumed. Each seed
      // runs at three nprobe rules (nlist/8 — the r10 default — and the
      // wider /6 and /5) so a failing draw can be priced against the scan
      // headroom (the box ceiling is 0.25; the /8 rule sits at ~0.17).
      val (rl, _) = AnnIvf.resolveKnobs(spark, dir, 0, 0)
      for {
        denom <- Seq(8, 7, 6, 5)
        seed <- Seq(4099L, 104729L, 1299709L, 15485863L, 32452843L)
      } {
        val np = math.max(1, rl / denom)
        evalTier(s"ivf nlist=$rl nprobe=$np (rule /$denom) seed=$seed", IvfTier(rl, np, seed))
      }
    }
    if (which == "ivfdrift") {
      // APPEND-DRIFT measurement (r12): an appended IVF index keeps the
      // geometry trained at build time — both nlist (sized to the
      // build-time corpus) and the centroids themselves freeze while the
      // corpus grows. This mode prices that decay: for appended fraction
      // f (appended rows / trained rows), the quantizer trains on the
      // first N/(1+f) vec_ids (written to a temp corpus so the adaptive
      // knob rule sees the BUILD-time size, exactly like a real build),
      // every vector of the FULL corpus is assigned to the frozen
      // centroids, and recall@5 over the standard 25 probes is measured
      // against brute force on the full corpus. f = 0 is the
      // fresh-rebuild baseline; the knee picks the IVF append bound.
      for (f <- Seq(0.0, 0.25, 0.5, 1.0, 2.0)) withPrefix("ivfdrift", f) { (prefix, cutoff) =>
        val (cands, top) = frozen(IvfTier(), prefix)
        evalOne(f"ivfdrift appended=${(f * 100).toInt}%d%% trained=$cutoff of $total", cands, top)
      }
    }
    if (which == "lshdrift") {
      // LSH APPEND-DRIFT measurement (r13): LSH geometry (hyperplanes) is
      // a pure function of (seed, dim) — an LSH append SHOULD be structurally
      // drift-free, unlike IVF whose frozen centroids decay (ivfdrift).
      // This mode turns that argument into numbers instead of trust: for
      // appended fraction f, build a persisted index over the first
      // N/(1+f) vec_ids, grow the corpus by new part files, append the
      // rest, and compare against a FRESH rebuild over the full corpus —
      //  - deltaAssign: symmetric difference of (vec_id, tb) assignment
      //    sets (0 = the appended index is bit-identical structure);
      //  - recall@5 of the appended index on the full corpus;
      //  - bucket-occupancy distribution of the appended index (mean,
      //    max bucket share, top-1%-of-buckets share): occupancy skew
      //    amplification under append-heavy growth is the cost knee that
      //    would warrant an LSH append bound the way ivfdrift's recall
      //    knee bounded the IVF append.
      for (f <- Seq(0.0, 0.25, 0.5, 1.0)) {
        val cutoff = math.round(total / (1.0 + f))
        val work = java.nio.file.Files
          .createTempDirectory(s"graft-lshdrift-$f-").toString
        try {
          val corpus = s"$work/corpus"
          spark.read.parquet(s"$dir/embeddings.parquet")
            .where(s"vec_id < $cutoff")
            .write.parquet(s"$corpus/embeddings.parquet")
          val appended = s"$work/appended"
          AnnIndex.build(spark, corpus, appended, LshTier())
          if (f > 0) {
            spark.read.parquet(s"$dir/embeddings.parquet")
              .where(s"vec_id >= $cutoff")
              .write.mode("append").parquet(s"$corpus/embeddings.parquet")
            AnnIndex.append(spark, corpus, appended, "lsh")
          }
          val rebuilt = s"$work/rebuilt"
          AnnIndex.build(spark, corpus, rebuilt, LshTier())
          def assigns(p: String): Set[(Long, Int)] =
            spark.read.parquet(s"$p/assignments")
              .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
          val a = assigns(appended)
          val b = assigns(rebuilt)
          val delta = (a diff b).size + (b diff a).size
          val occ = a.groupBy(_._2).map(_._2.size.toLong).toSeq.sorted
          val rows = occ.sum
          val maxShare = occ.last.toDouble / rows
          val top1Share = occ.takeRight(math.max(1, occ.size / 100))
            .sum.toDouble / rows
          val ann = AnnIndex.topK(spark, corpus, appended, "lsh", nProbes, k)
            .collect().map(r => (r.getLong(0), r.getLong(1)))
            .groupBy(_._1).map { case (q, xs) => q -> xs.map(_._2).toSet }
          val recall = (0 until nProbes).map(q =>
            ann.getOrElse(q.toLong, Set.empty[Long])
              .intersect(brute(q.toLong)).size.toDouble / k).sum / nProbes
          println(f"lshdrift appended=${(f * 100).toInt}%d%% trained=$cutoff of $total " +
            f"deltaAssign=$delta recall@$k=$recall%.3f " +
            f"occ[buckets=${occ.size} mean=${rows.toDouble / occ.size}%.1f " +
            f"maxShare=$maxShare%.4f top1pctShare=$top1Share%.4f]")
        } finally rm(new java.io.File(work))
      }
    }
    if (which == "ivf" || which == "both") {
      for {
        nlist <- Seq(128, 192, 256)
        nprobe <- Seq(26, 28, 32, 40, 48)
      } evalTier(s"ivf nlist=$nlist nprobe=$nprobe", IvfTier(nlist, nprobe))
    }
    if (which == "ivfwide") {
      // Larger-corpus IVF sweep (run with SPARK_GRAFT_SF_DIR=sf0.1): the
      // sf0.001-tuned nlist=256/nprobe=32 point measures 0.752 recall on
      // 2000 vectors — nlist must SCALE with corpus size (FAISS guidance:
      // 4*sqrt(N)..16*sqrt(N)); this grid locates the sf0.1 box point that
      // anchors the corpus-adaptive default.
      for {
        nlist <- Seq(384, 512, 768)
        nprobe <- Seq(48, 64, 80, 96)
      } evalTier(s"ivf nlist=$nlist nprobe=$nprobe", IvfTier(nlist, nprobe))
    }
    /** A PQ-family tier's ADC pool at re-rank depth `rr` and its top k. */
    def evalPool(label: String, tier: AnnTier, rr: Int): Unit =
      evalOne(label, graft.plans.TopKPerKey.topK(AnnTier.candidates(spark, dir, tier, nProbes),
        "q_id", "adc", "neighbor_id", rr, "adc", roundTo = 9),
        AnnTier.topK(spark, dir, tier, nProbes, k))
    if (which == "pq") {
      // PQ sweep: codebook geometry (m subspaces × kc codes) × rerank
      // depth. The "scan" column here is the EXACT-distance fraction
      // (rerank pool / corpus per probe) — the ADC pass reads every row
      // by construction (that is PQ's deal: exhaustive but 8-byte rows),
      // so the number that must stay bounded is the float-rehydration
      // pool, not a pruning fraction.
      for {
        (m, kc) <- Seq((8, 16), (16, 16))
        rr <- Seq(16, 32, 64, 128)
      } evalPool(s"pq m=$m k=$kc rerank=$rr", PqTier(m, kc, rerank = rr), rr)
      // shipped point (m=16, k=16, rerank=n/16) across five k-means
      // initializations — the 5-seed-minimum discipline every shipped
      // ANN default follows
      val rr = math.max(64, total / 16)
      for (seed <- Seq(4099L, 17L, 293L, 7919L, 104729L))
        evalPool(s"pq ship m=16 k=16 rerank=$rr seed=$seed", PqTier(seed = seed), rr)
    }
    if (which == "lshmix") {
      // MIXED-APPEND occupancy telemetry (r15, carried from the r12
      // list): lshdrift measured pure appends of the SAME distribution
      // (deltaAssign=0, flat skew). The open channel was INTERLEAVED
      // appends of a SHIFTED distribution — arrivals whose embedding
      // statistics drift (new domain, new encoder checkpoint). The
      // geometry is frozen, so appended ≡ rebuilt still holds per
      // assignment (deltaAssign pins it); the question is the COST
      // channel: shifted arrivals crowd into the hyperplane cells
      // aligned with the shift, skewing bucket occupancy and growing
      // per-probe candidate pools. Protocol: build over the first half;
      // stage A appends the next quarter RAW; stage B appends the last
      // quarter SHIFTED (+0.6 per dimension before the float cast — a
      // strong mean shift); after each stage report deltaAssign vs a
      // fresh rebuild, occupancy stats, the scanned candidate fraction
      // at the index's knobs, and recall@5 against brute force on the
      // LIVE (mixed) corpus.
      val work = java.nio.file.Files.createTempDirectory("graft-lshmix-").toString
      try {
        val corpus = s"$work/corpus"
        val idx = s"$work/idx"
        val half = total / 2
        val threeQ = (total * 3) / 4
        val src = spark.read.parquet(s"$dir/embeddings.parquet")
        src.where(s"vec_id < $half").write.parquet(s"$corpus/embeddings.parquet")
        AnnIndex.build(spark, corpus, idx, LshTier())
        def stage(label: String): Unit = {
          val rebuilt = s"$work/rebuilt_$label"
          AnnIndex.build(spark, corpus, rebuilt, LshTier())
          def assigns(p: String): Set[(Long, Int)] =
            spark.read.parquet(s"$p/assignments")
              .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
          val a = assigns(idx)
          val delta = {
            val b = assigns(rebuilt)
            (a diff b).size + (b diff a).size
          }
          val occ = a.groupBy(_._2).map(_._2.size.toLong).toSeq.sorted
          val rows = occ.sum
          // live-corpus brute force: the shifted tail changes the truth
          val live = spark.read.parquet(s"$corpus/embeddings.parquet")
            .selectExpr("vec_id", "transform(embedding, x -> cast(x AS double)) AS e")
            .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
          val liveBrute = (0 until nProbes).map { q =>
            val qv = live(q.toLong)
            q.toLong -> live.view.filter(_._1 != q.toLong)
              .map { case (id, v) => (cosineOf(qv, v), id) }
              .toSeq.sortBy { case (c, id) => (-c, id) }.take(k).map(_._2).toSet
          }.toMap
          val cands = AnnTier.candidates(spark, corpus, LshTier(), nProbes)
          val scanned = cands.groupBy("q_id").count()
            .collect().map(_.getLong(1)).sum
          val frac = scanned.toDouble / (nProbes.toLong * live.size)
          val ann = AnnIndex.topK(spark, corpus, idx, "lsh", nProbes, k)
            .collect().map(r => (r.getLong(0), r.getLong(1)))
            .groupBy(_._1).map { case (q, xs) => q -> xs.map(_._2).toSet }
          val recall = (0 until nProbes).map(q =>
            ann.getOrElse(q.toLong, Set.empty[Long])
              .intersect(liveBrute(q.toLong)).size.toDouble / k).sum / nProbes
          println(f"lshmix $label%-28s rows=$rows deltaAssign=$delta " +
            f"recall@$k=$recall%.3f scan=$frac%.3f " +
            f"occ[buckets=${occ.size} mean=${rows.toDouble / occ.size}%.1f " +
            f"maxShare=${occ.last.toDouble / rows}%.4f " +
            f"top1pctShare=${occ.takeRight(math.max(1, occ.size / 100)).sum.toDouble / rows}%.4f]")
        }
        stage("base(50%raw)")
        src.where(s"vec_id >= $half AND vec_id < $threeQ")
          .write.mode("append").parquet(s"$corpus/embeddings.parquet")
        AnnIndex.append(spark, corpus, idx, "lsh")
        stage("appendA(+25%raw)")
        src.where(s"vec_id >= $threeQ")
          .selectExpr("vec_id", "label",
            "transform(embedding, x -> cast(x + 0.6 AS float)) AS embedding")
          .write.mode("append").parquet(s"$corpus/embeddings.parquet")
        AnnIndex.append(spark, corpus, idx, "lsh")
        stage("appendB(+25%shifted)")
      } finally rm(new java.io.File(work))
    }
    if (which == "ivfpq") {
      // COMPOSED IVF-PQ (residual ADC over inverted lists): recall is
      // bounded above by the IVF pruning recall at the same (nlist,
      // nprobe) — the grid prices what the 16-byte residual codes give
      // back vs whole-vector PQ (q130) and float-scored IVF (q49).
      // Also 5-seed minima at the shipped point (the ModulesSpec gate).
      for (seed <- Seq(4099L, 17L, 291L, 5843L, 90001L))
        evalTier(s"ivfpq auto-knobs rerank=auto seed=$seed", IvfPqTier(seed = seed))
    }
    if (which == "ivfpqdrift") {
      // COMPOSED frozen-geometry drift: coarse quantizer, residual
      // codebooks, knobs, AND re-rank depth all resolve from the first
      // N/(1+f) ids while the whole corpus is scanned — exactly what a
      // persisted q138 index appended without refitting serves. Measures
      // whether the coarse half's 1.25x knee (ivfdrift) indeed BINDS the
      // composition, or the residual codes decay it sooner.
      for (f <- Seq(0.0, 0.25, 0.5, 1.0)) withPrefix("ivfpqdrift", f) { (prefix, cutoff) =>
        val (cands, top) = frozen(IvfPqTier(), prefix)
        evalOne(f"ivfpqdrift appended=${(f * 100).toInt}%d%% trained=$cutoff of $total", cands, top)
      }
    }
    if (which == "pqdrift") {
      // FROZEN-CODEBOOK drift (the ivfdrift protocol for PQ): for
      // appended fraction f, codebooks fit on the first N/(1+f) vec_ids
      // and the WHOLE corpus is encoded/scanned against them, with the
      // re-rank depth also resolved at build-time size — exactly what a
      // persisted PQ index appended without refitting would serve. Two
      // decay channels: the frozen pool's shrinking effective fraction
      // (rr/N vs rr/N(1+f)) and codebook mismatch on the appended tail
      // (nil on this isotropic corpus; real on drifting embeddings).
      for (f <- Seq(0.0, 0.25, 0.5, 1.0, 2.0)) withPrefix("pqdrift", f) { (prefix, cutoff) =>
        val (cands, top) = frozen(PqTier(), prefix)
        val pool = graft.plans.TopKPerKey.topK(
          cands, "q_id", "adc", "neighbor_id", math.max(64L, cutoff / 16L).toInt, "adc",
          roundTo = 9)
        evalOne(f"pqdrift appended=${(f * 100).toInt}%d%% trained=$cutoff of $total", pool, top)
      }
    }
    spark.stop()
  }
}
