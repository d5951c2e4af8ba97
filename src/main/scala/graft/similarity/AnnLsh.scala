package graft.similarity

import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Approximate nearest neighbors via random-hyperplane (sign) LSH.
 *
 * Scale path for similarity search: instead of scoring every probe against
 * every vector (q28's brute-force baseline), vectors are bucketed by the
 * sign pattern of `numPlanes` random hyperplane projections, and probes
 * only score against their own bucket — an IVF-style candidate prune that
 * cuts the scan by ~2^numPlanes per table.
 *
 * Recall near bucket borders is recovered two standard ways, compounding:
 * `numTables` INDEPENDENT hash tables (per-table miss probabilities
 * multiply), and MARGIN-ORDERED MULTIPROBE on the query side — each probe
 * also searches the `probesPerTable - 1` next-most-likely buckets of each
 * table, enumerated best-first by the summed |projection| margin of the
 * flipped bits (the query-directed probing sequence of Lv et al., VLDB'07,
 * as used in FAISS/E2LSH). Probability-ordered probing dominates blind
 * Hamming-ball probing at equal scan cost: a bit whose projection sits
 * near zero is far likelier to separate a true neighbor than a
 * high-margin bit, so the ball is crossed in likelihood order, not index
 * order. Only probes fan out; corpus rows still index
 * into one bucket per table, so the index stays L rows per vector and the
 * scanned fraction is bounded by L*probesPerTable/2^numPlanes of the
 * corpus before the collision vote below cuts it further.
 *
 * SCAN COST is then decoupled from probe width by COLLISION VOTING
 * (`minCollisions`): candidate pairs are counted per (probe, vector)
 * across all probed buckets first — ids only — and only pairs colliding
 * in at least `minCollisions` buckets are cosine-scored. A true neighbor
 * multi-collides (per-table collision probabilities compound across wide
 * probing); a background vector that stumbled into one probed bucket
 * stops there. The vote moves the whole recall/scan frontier.
 *
 * Once the vote prunes the SCORED pool, the dominant scale term becomes
 * the id-only PRE-VOTE pool the vote aggregates, and that pool shrinks
 * with FINER BUCKETS: more planes per table cut each probed bucket's
 * occupancy, wider probing + the vote recover border recall.
 *
 * The SHIPPED DEFAULT — 14 planes x 16 tables, 768 probes per table,
 * minCollisions=2 — is chosen by 5-SEED MINIMUM recall, not single-seed
 * recall (TUNE_r11.txt "seeds" grids, the committed AnnTune output this
 * file's numbers are required to come from): round 10's point (12
 * tables, 896 probes) measured 0.872 at its shipped seed but spanned
 * 0.784-0.872 across five plane draws on sf0.001 — below the 0.85 floor
 * at three of them; the extra independent tables buy draw-robustness
 * (min 0.864 on sf0.001, 0.936 on sf0.1 across the same five seeds).
 * At the gate seed (7919): recall 0.888 at scan 0.238, pre-vote pool
 * 0.543 on sf0.001; 0.944 at 0.235, pre-vote 0.537 on sf0.1. The costs
 * of the move are measured and gated, not hidden: the index carries 16
 * rows per vector instead of 12, and the multiplicity pool (the rows
 * the bucket join feeds the counting aggregate) rises to 0.929/0.915
 * (~1.71 collisions per distinct pair, vs 1.59 at 12 tables).
 * ModulesSpec gates the default at (recall >= 0.85, scan <= 0.25,
 * prevote <= 0.55, multiplicity <= 0.95) on BOTH corpora and logs all
 * four numbers to RECALL.jsonl — so the cheap-filter work the scan
 * number excludes stays visible and bounded on both axes.
 *
 * `poolFrac > 0` additionally switches the probe side to OCCUPANCY-
 * BUDGETED probing: per-bucket occupancies (one ids-only aggregation,
 * broadcast as a lattice-sized int array) let each probe take margin-
 * ordered buckets only while their summed occupancy fits
 * ceil(poolFrac * corpusN) rows — the pre-vote pool becomes a HARD
 * per-probe bound instead of an emergent number. Measured
 * (TUNE_r10.txt "budget" grids, both corpora, at the 12-table
 * configuration those grids swept): on THESE isotropic embeddings the
 * mode does not dominate the fixed quota at equal distinct pool (e.g.
 * budget=0.85: 0.848 recall at distinct pool 0.515 vs that grid's
 * default 0.872 at 0.502) — with no cluster structure, bucket occupancy
 * is proportional to neighbor probability mass, so skipping crowded
 * buckets forfeits proportional recall. It therefore ships as the
 * worst-case-control knob (bounding per-query cost on real, clustered
 * corpora where a handful of mega-buckets would otherwise eat the
 * pool), NOT as the default; q60 and ModulesSpec pin the bound property
 * and the measured point at numTables=12 explicitly.
 *
 * The hyperplanes are seeded and broadcast; bucketing is a native codegen
 * expression ([[LshBuckets]]) over the embedding array, run once per
 * (row, table), not once per pair.
 * Not SQL-expressible cross-engine (gaussian planes), so the driver records
 * the rows-only check for this query; correctness against brute force is
 * asserted in ModulesSpec instead.
 */
object AnnLsh {

  /** Deterministic gaussian hyperplanes, `numTables * numPlanes` of them
    * (table t owns the contiguous slice [t*numPlanes, (t+1)*numPlanes)). */
  private[similarity] def planes(numPlanes: Int, dim: Int, seed: Long): Array[Array[Double]] = {
    val rng = new Random(seed)
    Array.fill(numPlanes)(Array.fill(dim)(rng.nextGaussian()))
  }

  /** NOTE both kernels take Array, not Seq: a Seq-typed wrapper can hand
    * array<double> through as a LIST, making positional access in a
    * dim-length loop O(dim^2) pointer chasing — measured as ~0.9 s of the
    * 2000-row index pass at sf0.1 in the former UDF. [[LshBuckets]] bulk-
    * copies the catalyst array to a primitive Array once per row. */
  private[similarity] def projections(vec: Array[Double], ps: Array[Array[Double]],
      from: Int, len: Int): Array[Double] = {
    val dots = new Array[Double](len)
    var p = 0
    while (p < len) {
      var dot = 0.0
      val plane = ps(from + p)
      var i = 0
      while (i < plane.length && i < vec.length) {
        dot += plane(i) * vec(i)
        i += 1
      }
      dots(p) = dot
      p += 1
    }
    dots
  }

  private[similarity] def bucketOf(vec: Array[Double], ps: Array[Array[Double]],
      from: Int, len: Int): Int = {
    val dots = projections(vec, ps, from, len)
    var b = 0
    var p = 0
    while (p < len) {
      b = (b << 1) | (if (dots(p) >= 0) 1 else 0)
      p += 1
    }
    b
  }

  /**
   * The `t` most-probable buckets for a query with per-plane signed
   * projections `dots`, best-first (Lv et al.'s query-directed probing
   * sequence). Flipping bit p costs |dots(p)|; perturbation sets are
   * enumerated in increasing total cost with the classic heap over
   * (extend-with-next, shift-last) successors, so generating t buckets
   * touches O(t log t) heap entries — never the full 2^planes lattice.
   * The first emitted bucket (empty flip set) is the query's own.
   */
  private[similarity] def probeSequence(dots: Array[Double], t: Int): Array[Int] =
    probeSequenceWithCosts(dots, t).map(_._2)

  /** [[probeSequence]] plus each bucket's total flip cost, so callers can
    * merge sequences from several tables into one global cheapest-first
    * order (see [[LshBuckets]]'s occupancy-budgeted probing). */
  private[similarity] def probeSequenceWithCosts(dots: Array[Double], t: Int): Array[(Double, Int)] = {
    val planes = dots.length
    var base = 0
    var p = 0
    while (p < planes) {
      base = (base << 1) | (if (dots(p) >= 0) 1 else 0)
      p += 1
    }
    val margins = dots.map(math.abs)
    val order = margins.zipWithIndex.sortBy(_._1).map(_._2)
    // heap entries: (total flip cost, flip set as indices into `order`,
    // ascending). extend/shift generation emits each subset exactly once.
    val heap = scala.collection.mutable.PriorityQueue.empty[(Double, List[Int])](
      Ordering.by[(Double, List[Int]), Double](_._1).reverse)
    heap.enqueue((0.0, Nil))
    val out = scala.collection.mutable.ArrayBuffer.empty[(Double, Int)]
    while (heap.nonEmpty && out.length < t) {
      val (cost, subset) = heap.dequeue()
      var b = base
      subset.foreach(oi => b ^= 1 << (planes - 1 - order(oi)))
      out += ((cost, b))
      val last = if (subset.isEmpty) -1 else subset.head
      if (last + 1 < planes) {
        // subset lists are kept newest-first so head is the max element
        heap.enqueue((cost + margins(order(last + 1)), (last + 1) :: subset))
        if (subset.nonEmpty) {
          heap.enqueue((cost - margins(order(last)) + margins(order(last + 1)),
            (last + 1) :: subset.tail))
        }
      }
    }
    out.toArray
  }

  /** THE representation switch, in one place: the carried-vector column
    * for scoring — int8 (registering quantize_vec) or the raw doubles —
    * so the probe and candidate sides can never drift onto different
    * representations. */
  private[similarity] def vecOf(s: SparkSession, quantized: Boolean, c: String) =
    if (quantized) { graft.functions.QuantizeVec.register(s); expr(s"quantize_vec($c)") }
    else col(c)

  /**
   * Diagnostic surface for the gates: the vote's INPUT (q_id, vec_id,
   * n_hits) of `tier`, over exactly the frames its scan joins.
   * `sum(n_hits)` is the MULTIPLICITY pool — the rows the bucket join
   * emits into the counting aggregate, i.e. the true id-only
   * shuffle/aggregation cost the scan fraction excludes; `count(*)` is
   * the DISTINCT pool RECALL.jsonl has always carried. Both are gated
   * (ModulesSpec) so neither can silently regress.
   */
  def collisionStats(s: SparkSession, dir: String, tier: LshTier,
      numProbes: Int = 5): DataFrame = {
    val emb = AnnTier.vectors(s, dir)
    val planes = tier.fit(s, dir, AnnTier.dimOf(emb))
    val indexed = tier.encode(s, planes, emb)
    collisionCounts(tier.probes(s, planes, emb, indexed, numProbes), indexed)
  }

  /** The pre-threshold collision counts (q_id, vec_id, n_hits) of probe
    * buckets (q_id, tb) against index buckets (vec_id, tb) — the id-only
    * aggregation [[LshTier.scan]]'s vote filters and [[collisionStats]]
    * reports. */
  private[similarity] def collisionCounts(
      probeIds: DataFrame, indexIds: DataFrame): DataFrame =
    broadcast(probeIds)
      .join(indexIds, Seq("tb"))
      .filter(col("vec_id") =!= col("q_id"))
      .groupBy("q_id", "vec_id").agg(count(lit(1)).as("n_hits"))
}

/**
 * The LSH tier: the geometry is the `numTables * numPlanes` seeded
 * hyperplanes (a pure function of (seed, dim), so an appended index is
 * bit-for-bit a rebuild — hence no drift bound); the assignments are one
 * (vec_id, tb) row per table, `tb = table * 2^numPlanes + bucket`, so
 * buckets from different tables never collide. Every knob, including the
 * query-side vote threshold and budget, goes into the metadata, so a
 * loaded index probes as it was built even if library defaults move.
 * `quantized` is the one live-only knob: the q62 scoring representation,
 * never persisted (a persisted index scores on the raw doubles).
 */
final case class LshTier(
    numPlanes: Int = 14,
    numTables: Int = 16,
    probesPerTable: Int = 768,
    seed: Long = 7919L,
    minCollisions: Int = 2,
    poolFrac: Double = 0.0,
    quantized: Boolean = false) extends AnnTier {
  import org.apache.spark.sql.graftbridge.ColumnBridge
  import org.json4s.JsonDSL._

  type Geometry = Array[Array[Double]]

  def method: String = "lsh"

  def knobs: org.json4s.JObject =
    ("numPlanes" -> numPlanes) ~ ("numTables" -> numTables) ~
      ("probesPerTable" -> probesPerTable) ~ ("minCollisions" -> minCollisions) ~ ("poolFrac" -> poolFrac) ~ ("seed" -> seed)

  def fit(s: SparkSession, dir: String, dim: => Int): Geometry =
    AnnLsh.planes(numTables * numPlanes, dim, seed)

  def writeGeometry(s: SparkSession, path: String, planes: Geometry): Unit =
    AnnTier.writeModel(path, AnnTier.idVectorRows(s, planes, "plane_id", "weights"))

  def readGeometry(s: SparkSession, path: String): Geometry = AnnTier.readIdVectors(s, path)

  /** Corpus side: ONE bucket per table per row — index size L per vector
    * (codegen'd [[LshBuckets]], no ScalaUDF on the index pass). */
  def encode(s: SparkSession, planes: Geometry, rows: DataFrame): DataFrame = {
    val bc = s.sparkContext.broadcast(planes)
    rows.select(col("vec_id"), explode(ColumnBridge.column(
      LshBuckets(ColumnBridge.expression(col("e")), bc, numTables, numPlanes, 1))).as("tb"))
  }

  /** The probe side, (q_id, tb): each table's `probesPerTable` most
    * probable buckets in margin order — query-time fan-out only, the
    * index is untouched. `poolFrac > 0` switches to OCCUPANCY-BUDGETED
    * probing: per-bucket occupancies come from an ids-only aggregation
    * over `assignments` (sized by the lattice — numTables * 2^numPlanes
    * longs — not the corpus, so the broadcast stays sub-MB at 100 TB; a
    * persisted index never re-touches a vector byte for it), and each
    * probe takes margin-ordered buckets merged across tables while their
    * summed occupancy fits ceil(poolFrac * corpusN) rows — a HARD bound on
    * the id-only pre-vote pool. */
  private[similarity] def probes(s: SparkSession, planes: Geometry, emb: DataFrame,
      assignments: DataFrame, numProbes: Int): DataFrame = {
    val bc = s.sparkContext.broadcast(planes)
    val e = ColumnBridge.expression(col("e"))
    val buckets =
      if (poolFrac > 0) {
        // Long counts + Long budget: a >2^31-row bucket (or budget) would
        // wrap an Int and silently break the hard per-probe bound — the
        // guarantee only matters at exactly that scale.
        val counts = new Array[Long](numTables << numPlanes)
        var totalAssign = 0L
        assignments.groupBy("tb").count().collect().foreach { r =>
          counts(r.getInt(0)) = r.getLong(1)
          totalAssign += r.getLong(1)
        }
        val budget = math.max(1L, math.ceil(poolFrac * (totalAssign / numTables)).toLong)
        LshBuckets(e, bc, numTables, numPlanes, probesPerTable,
          s.sparkContext.broadcast(counts), budget)
      } else LshBuckets(e, bc, numTables, numPlanes, probesPerTable)
    emb.filter(col("vec_id") < numProbes)
      .select(col("vec_id").as("q_id"), explode(ColumnBridge.column(buckets)).as("tb"))
  }

  /**
   * COLLISION VOTING: the probe buckets x `assignments` bucket equi-join
   * counts co-occurrences per (probe, vector) pair FIRST — ids only, no
   * vectors through the shuffle — and scores only pairs colliding in
   * >= minCollisions probed buckets, each pair once. A true neighbor
   * multi-collides (its per-table collision probabilities compound); a
   * background vector that stumbled into one probed bucket usually stops
   * there, so the vote drops a large slice of the candidate pool while
   * costing only the neighbors that collided exactly once. minCollisions
   * = 1 keeps every distinct colliding pair. Vectors are rehydrated
   * afterwards: probes from a broadcast (numProbes rows), candidates from
   * a hash join against the corpus that scales with the voted pool.
   * `quantized` scores on TRUE int8 vectors (QuantizeVec →
   * array<tinyint>, CosineSimilarityI8): the buckets and the vote — so
   * the pool and every pool gate — are unchanged, only the carried
   * vectors and the cosine kernel run 8x narrower.
   */
  def scan(s: SparkSession, planes: Geometry, emb: DataFrame, assignments: DataFrame,
      numProbes: Int): DataFrame = {
    val cosExpr =
      if (quantized) { graft.functions.CosineSimilarityI8.register(s)
        "cosine_similarity_i8(ae, be)" }
      else { graft.functions.CosineSimilarity.register(s)
        "cosine_similarity(ae, be)" }
    val probeVecs = emb.filter(col("vec_id") < numProbes)
      .select(col("vec_id").as("q_id"), AnnLsh.vecOf(s, quantized, "e").as("ae"))
    AnnLsh.collisionCounts(probes(s, planes, emb, assignments, numProbes), assignments)
      .filter(col("n_hits") >= minCollisions)
      .join(broadcast(probeVecs), Seq("q_id"))
      .join(emb.select(col("vec_id"), AnnLsh.vecOf(s, quantized, "e").as("be")), Seq("vec_id"))
      .selectExpr("q_id", "vec_id AS neighbor_id", s"$cosExpr AS cos")
  }
}
