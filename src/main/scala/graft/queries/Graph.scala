package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Iterative graph analytics on a DERIVED graph — the missing shape
 * between one-shot joins and the ConnectedComponents closure: a
 * fixed-iteration PageRank (Brin & Page 1998) over the nation-level
 * trade graph (edge c_nation → s_nation weighted by how many lineitems
 * that customer-nation bought from that supplier-nation).
 *
 * Scale split: the EXPENSIVE part is building the edge list — a full
 * lineitem ⋈ orders ⋈ customer ⋈ supplier chain that shuffles on its
 * join keys and aggregates down to at most |nation|² rows. The
 * iteration then runs on that bounded aggregate: rank and contribution
 * tables are |nation|-sized, explicitly broadcast, so five iterations
 * add ZERO corpus-scale exchanges — the plan is one heavy
 * aggregation followed by driver-cheap broadcast loops. (For graphs
 * whose node set scales with the data, the iteration becomes the
 * checkpointed self-join loop ConnectedComponents already implements;
 * this operator is the bounded-node-set regime.)
 *
 * Cross-engine determinism: PageRank in doubles would diverge across
 * engines on aggregation order, so the whole computation is FIXED-POINT
 * integer — ranks in units of 1e-12 (S = 1e12), edge weights normalized
 * to per-million fractions with integer division, per-edge contributions
 * divided down BEFORE the sum (integer sums are order-independent),
 * damping 85/100. The DuckDB oracle chains five generated CTEs through
 * the same arithmetic, so all 25 ranks hash-match exactly. Truncation
 * loss from the integer divisions stays in the dropped remainders
 * (bounded by #edges per node, ~1e-6 relative) — the same loss on both
 * engines, by construction.
 */
object Graph {

  private val S = 1000000000000L // rank scale: 1.0 == 1e12
  private val iterations = 5

  /** c_nation → s_nation edge list with per-million out-weight
    * fractions. Bounded by |nation|² regardless of data scale. */
  private def edgeFractions(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.t(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_suppkey"))
    val ord = Tables.t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
    val cust = Tables.t(s, dir, "customer").select(col("c_custkey"), col("c_nationkey"))
    val supp = Tables.t(s, dir, "supplier").select(col("s_suppkey"), col("s_nationkey"))
    val edges = li
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .join(supp, col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("c_nationkey").as("src"), col("s_nationkey").as("dst"))
      .agg(count(lit(1)).as("w"))
    val outw = edges.groupBy(col("src")).agg(sum(col("w")).as("ow"))
      .select(col("src").as("o_src"), col("ow"))
    edges.join(broadcast(outw), col("src") === col("o_src"))
      .selectExpr("src", "dst", "(w * 1000000L) div ow AS wfrac")
  }

  /** The fixed-point iteration over arbitrary bounded (node) /
    * (src, dst, wfrac) frames — `nNodes` must equal the node count (the
    * caller's one bounded-dimension driver action).
    *
    * r21: the loop runs DRIVER-SIDE over the collected aggregates. Both
    * inputs are bounded dimensions by the caller's contract (≤ |nation|
    * nodes, ≤ |nation|² edge fractions — the same model-sized-state
    * class as the k-means centroid loop), so the corpus-scale work
    * remains exactly the distributed join chain + aggregation that
    * PRODUCES the edge table; the five rank rounds over ≤625 longs were
    * paying ~3 scheduled stages each (contribution exchange + two
    * broadcast builds) to move kilobytes. The arithmetic is the same
    * integer fixed-point sequence, term for term (per-edge div BEFORE
    * the sum; long sums are order-independent), so the oracle and
    * IncrementalOpsSpec's closed-form expectations hold unchanged. */
  def pagerankOf(nodes: DataFrame, edgeFracs: DataFrame, nNodes: Long,
      iters: Int = iterations): DataFrame = {
    val base = S / nNodes
    val tp = 15L * base / 100L
    // node keys arrive as int (nation keys) or long (test fixtures):
    // widen to long for the loop, cast the output column back below so
    // the result schema is exactly the distributed form's
    val nodeType = nodes.schema("node").dataType
    def asL(v: Any): Long = v.asInstanceOf[Number].longValue
    val nodeIds = nodes.select(col("node")).collect().map(r => asL(r.get(0)))
    val edges = edgeFracs.select(col("src"), col("dst"), col("wfrac"))
      .collect().map(r => (asL(r.get(0)), asL(r.get(1)), asL(r.get(2))))
    var pr = nodeIds.map(_ -> base).toMap
    for (_ <- 1 to iters) {
      val contrib = scala.collection.mutable.HashMap.empty[Long, Long]
      edges.foreach { case (src, dst, w) =>
        pr.get(src).foreach { p =>
          contrib.update(dst, contrib.getOrElse(dst, 0L) + (p * w) / 1000000L)
        }
      }
      pr = nodeIds.map(n =>
        n -> (tp + (85L * contrib.getOrElse(n, 0L)) / 100L)).toMap
    }
    import nodes.sparkSession.implicits._
    nodeIds.toSeq.map(n => (n, pr(n))).toDF("node", "pr")
      .withColumn("node", col("node").cast(nodeType))
  }

  def pagerank(s: SparkSession, dir: String): DataFrame = {
    val nation = Tables.t(s, dir, "nation")
      .select(col("n_nationkey").as("node"), col("n_name"))
    // |nation| is a bounded dimension (25 at every SF) — the one driver
    // action here reads a 25-row table, not the corpus.
    val nn = nation.count()
    pagerankOf(nation, edgeFractions(s, dir), nn)
      .join(broadcast(nation), Seq("node"))
      .select(col("node"), col("n_name"), col("pr"))
      .orderBy(col("node"))
  }

  // ---- q128: triangle participation on the co-purchase backbone ----

  /** Backbone size cap. Exact triangle counting is Ω(m^1.5) in the edge
    * count, so at corpus scale you NEVER run it on the raw co-occurrence
    * graph (at sf0.1 the full part co-purchase graph already has 1.2M
    * edges; at 100 TB it is the corpus squared over the order key). The
    * standard move — and the one every production graph pipeline makes —
    * is to cut the graph to its strongest-edge BACKBONE first: the top-M
    * edges by co-occurrence weight under a TOTAL order (w desc, a, b), so
    * the cut is deterministic and cross-engine exact. M bounds every
    * downstream stage no matter how large the corpus grows. */
  private[queries] val backboneM = 10000

  /** All triangles of a CANONICAL (a < b) bounded edge list, one row per
    * triangle as x < y < z. A triangle appears exactly once as
    * e1=(x,y), e2=(y,z), e3=(x,z): wedge-extend on the shared middle
    * node, close against the third edge — both against broadcast copies
    * of the bounded edge set. */
  private[graft] def trianglesOf(edges: DataFrame): DataFrame =
    edges.as("e1")
      .join(broadcast(edges.as("e2")), col("e1.b") === col("e2.a"))
      .join(broadcast(edges.as("e3")),
        col("e3.a") === col("e1.a") && col("e3.b") === col("e2.b"))
      .select(col("e1.a").as("x"), col("e1.b").as("y"), col("e2.b").as("z"))

  /** q128: for each part, the number of triangles it participates in on
    * the co-purchase backbone (parts co-ordered in the same order, top-M
    * edges by weight). Motif counting — the structural signal between
    * PageRank (global centrality, q106) and connected components
    * (reachability, q66): a part in many triangles sits in a densely
    * cross-purchased cluster, not just a popular one.
    *
    * Scale shape: the CORPUS-scale work is (1) the distinct
    * (order, part) projection (one shuffle) and (2) the within-order
    * pair generation — a self-equi-join on the order key whose fan-out
    * is bounded by lines-per-order (≤ 7 in TPC-H shapes, so ≤ 21 pairs
    * per order — never quadratic in the corpus), then (3) the pair-key
    * aggregation (one shuffle). Edge selection is TakeOrdered (top-M
    * heap per partition + driver merge of M rows — no global sort). The
    * triangle join itself runs on the BOUNDED backbone: both the wedge
    * extension and the closure check join against broadcast copies of
    * the 10k-row edge set, so no triangle-stage exchange scales with the
    * corpus. (In an unbounded-edge regime you'd orient edges by degree
    * and pay the m^1.5; the backbone cap is the declared contract here,
    * applied identically by the oracle.) */
  /** The deterministic top-M co-purchase backbone (canonical a < b
    * edges) — the corpus-scale stage shared by q128 and q132, cut at
    * [[backboneM]] (TUNE_r15.txt's sensitivity grid: how triangle
    * counts and runtime move with the cut). */
  private[graft] def coPurchaseBackbone(s: SparkSession, dir: String): DataFrame =
    backboneOf(coPairsOf(Tables.t(s, dir, "lineitem")
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))), backboneM)

  /** Weighted canonical co-occurrence pairs of an (o, p) frame: distinct
    * (order, part), within-order pair fan-out (bounded by lines-per-order),
    * pair-key aggregation. Because pairs are INTRA-order, pair weights
    * over any partition of the orders sum to the full-table weights —
    * the mergeability [[GraphStore]] exploits. */
  private[queries] def coPairsOf(op: DataFrame): DataFrame = {
    val os = op.distinct()
    os.as("x").join(os.as("y"),
        col("x.o") === col("y.o") && col("x.p") < col("y.p"))
      .groupBy(col("x.p").as("a"), col("y.p").as("b"))
      .agg(count(lit(1)).as("w"))
  }

  /** The deterministic top-m cut of a weighted (a, b, w) edge frame under
    * the TOTAL order (w desc, a, b) — TakeOrdered, no global sort. */
  private[queries] def backboneOf(edges: DataFrame, m: Int = backboneM): DataFrame =
    edges.orderBy(col("w").desc, col("a"), col("b"))
      .limit(m)
      .select(col("a"), col("b"))

  /** The backbone cut as a DuckDB CTE chain (os → e0 → e), kept next to
    * [[coPurchaseBackbone]] so both q128's and q132's oracles inherit the
    * identical cut. */
  private def backboneCte: String =
    s"""os AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
       |    FROM lineitem),
       |e0 AS (SELECT x.p AS a, y.p AS b, count(*)::BIGINT AS w
       |  FROM os x JOIN os y ON x.o = y.o AND x.p < y.p GROUP BY 1, 2),
       |e AS (SELECT a, b FROM e0 ORDER BY w DESC, a, b LIMIT $backboneM)"""
      .stripMargin

  def triangleBackbone(s: SparkSession, dir: String): DataFrame =
    triangleCountsOf(coPurchaseBackbone(s, dir))

  /** Per-part triangle participation of a bounded canonical edge frame,
    * top 20 — the q128 read, shared by [[GraphStore]]'s store-backed
    * path. */
  private[queries] def triangleCountsOf(edges: DataFrame): DataFrame =
    trianglesOf(edges).selectExpr("explode(array(x, y, z)) AS p_partkey")
      .groupBy(col("p_partkey"))
      .agg(count(lit(1)).as("n_triangles"))
      .orderBy(col("n_triangles").desc, col("p_partkey"))
      .limit(20)

  // ---- q132: semi-supervised label propagation on the backbone ----

  private val lpIters = 3

  /** q132: label propagation (Zhu & Ghahramani 2002's hard-label variant)
    * over the co-purchase backbone — 20% of backbone parts are SEEDED
    * with their true brand (p_partkey % 5 = 0) and every other part
    * adopts, for [[lpIters]] synchronous rounds, the most common label
    * among its labeled neighbors (ties to the smallest label; unlabeled
    * neighbors don't vote; a node with no labeled neighbor stays
    * unlabeled; seeds are CLAMPED). Output is the per-label histogram
    * with seed counts — the community/diffusion primitive next to q106
    * (centrality), q66 (reachability) and q128 (motifs).
    *
    * Scale shape: the only corpus-scale stage is the shared backbone cut
    * ([[coPurchaseBackbone]]); the iteration state is one label per
    * BACKBONE node and each round is (bounded directed edges) ⋈
    * broadcast(labeled nodes) → a per-(node, label) count and an argmax
    * window over the bounded node set — like q106's loop, no round
    * touches the corpus. Everything is counts and string labels: no
    * floats anywhere, so cross-engine exactness is structural. */
  def labelProp(s: SparkSession, dir: String): DataFrame =
    labelPropOver(s, dir, coPurchaseBackbone(s, dir))

  /** [[labelProp]] over an EXPLICIT backbone edge frame — the direct
    * path passes the full-table cut; [[GraphStore]]'s q152 passes the
    * cut of its merged incremental edges (identical by the additive-
    * weight argument, so q132's oracle applies verbatim there).
    *
    * r22: the propagation rounds run DRIVER-SIDE over the collected
    * backbone (q106's model-sized-driver-state device). The iteration
    * state is bounded BY CONTRACT, not by data: the backbone is the
    * top-[[backboneM]] (10k) edge cut at every corpus size, so the
    * loop state is ≤ 2·M directed edges + ≤ 2·M (node, brand) rows —
    * a few hundred KB, the same class as q106's ≤|nation|² edge
    * fractions and the k-means k×dim centroids. The r21 min_by form
    * still paid ~3 scheduled aggregation stages + a broadcast build
    * per round (≈2.1 s of the 5.2 s grid median — q128 shares the
    * backbone cut and runs 3.1 s) to move kilobytes. The corpus-scale
    * work — the backbone cut itself and the node⋈part brand join —
    * stays distributed; only their contract-bounded OUTPUTS are
    * collected. Semantics are replicated term for term (synchronous
    * rounds, seeds clamped, unlabeled neighbors don't vote, argmax by
    * (cnt desc, label asc) under Spark's binary UTF8 string order —
    * [[graft.GraphLabelPropSpec]] pins this form row-identical to the
    * distributed min_by form on the real corpus and on tie-heavy
    * fixtures; the DuckDB oracle is unchanged). */
  private[queries] def labelPropOver(s: SparkSession, dir: String,
      backbone: DataFrame): DataFrame = {
    val edges = Caches.persist(backbone)
    // undirected: each edge carries votes both ways
    val dirEdges = edges.select(col("a").as("src"), col("b").as("dst"))
      .unionByName(edges.select(col("b").as("src"), col("a").as("dst")))
    val nodes = dirEdges.select(col("src").as("node")).distinct()
    val brands = Tables.t(s, dir, "part")
      .select(col("p_partkey").as("node"), col("p_brand"))
    // the two bounded collects: ≤ 2·backboneM directed edges, and the
    // DISTRIBUTED node⋈brands join's ≤ 2·backboneM-row output (the part
    // table itself is corpus-scale and never collected)
    def asL(v: Any): Long = v.asInstanceOf[Number].longValue
    val dEdges = dirEdges.collect().map(r => (asL(r.get(0)), asL(r.get(1))))
    val lab0 = nodes.join(brands, Seq("node"))
      .select(col("node"), col("p_brand")).collect()
      .map(r => (asL(r.get(0)), r.getString(1)))
    // Spark's string comparisons are binary over UTF-8 bytes; UTF8String
    // implements exactly that order, so label ties break identically
    def lt(a: String, b: String): Boolean =
      org.apache.spark.unsafe.types.UTF8String.fromString(a)
        .compareTo(org.apache.spark.unsafe.types.UTF8String.fromString(b)) < 0
    val isSeed = lab0.map { case (n, _) => n -> (n % 5 == 0) }.toMap
    var lab: Map[Long, String] = lab0.map { case (n, brand) =>
      n -> (if (n % 5 == 0) brand else null)
    }.toMap
    for (_ <- 1 to lpIters) {
      // synchronous round: votes read the PREVIOUS round's labels
      val votes = scala.collection.mutable.HashMap.empty[(Long, String), Long]
      dEdges.foreach { case (src, dst) =>
        lab.get(src) match {
          case Some(l) if l != null =>
            votes.update((dst, l), votes.getOrElse((dst, l), 0L) + 1L)
          case _ => ()
        }
      }
      val best = scala.collection.mutable.HashMap.empty[Long, (Long, String)]
      votes.foreach { case ((dst, l), c) =>
        best.get(dst) match {
          case Some((bc, bl)) if c < bc || (c == bc && !lt(l, bl)) => ()
          case _ => best.update(dst, (c, l))
        }
      }
      lab = lab.map { case (n, l) =>
        if (isSeed(n)) (n, l)
        else (n, best.get(n).map(_._2).getOrElse(l))
      }
    }
    val hist = lab.toSeq
      .groupBy { case (_, l) => if (l == null) "unlabeled" else l }
      .map { case (label, ns) =>
        (label, ns.size.toLong,
          ns.count { case (n, _) => isSeed(n) }.toLong)
      }.toSeq
    import s.implicits._
    hist.toDF("label", "n_nodes", "n_seeds").orderBy(col("label"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q106_pagerank" -> ((s, dir) => pagerank(s, dir)),
    "q128_triangle_backbone" -> ((s, dir) => triangleBackbone(s, dir)),
    "q132_label_prop" -> ((s, dir) => labelProp(s, dir))
  )

  // The oracle chains pr0..pr5 CTEs generated from the same constants —
  // one source of truth for the damping/scale arithmetic.
  private lazy val pagerankOracle: String = {
    val iterCtes = (1 to iterations).map { k =>
      s"""pr$k AS (SELECT n.node, b.tp + (85 * coalesce(s.c, 0)) // 100 AS pr
         |  FROM nodes n CROSS JOIN b
         |  LEFT JOIN (SELECT ef.dst, sum((p.pr * ef.wfrac) // 1000000)::BIGINT AS c
         |             FROM ef JOIN pr${k - 1} p ON p.node = ef.src
         |             GROUP BY ef.dst) s ON s.dst = n.node)"""
        .stripMargin
    }.mkString(",\n")
    s"""WITH e AS (SELECT c_nationkey AS src, s_nationkey AS dst,
       |    count(*)::BIGINT AS w
       |  FROM lineitem
       |  JOIN orders ON o_orderkey = l_orderkey
       |  JOIN customer ON c_custkey = o_custkey
       |  JOIN supplier ON s_suppkey = l_suppkey
       |  GROUP BY src, dst),
       |outw AS (SELECT src, sum(w)::BIGINT AS ow FROM e GROUP BY src),
       |ef AS (SELECT e.src, e.dst, (e.w * 1000000) // o.ow AS wfrac
       |  FROM e JOIN outw o ON o.src = e.src),
       |nodes AS (SELECT n_nationkey AS node FROM nation),
       |b AS (SELECT (1000000000000 // count(*)) AS base,
       |    ((15 * (1000000000000 // count(*))) // 100) AS tp
       |  FROM nation),
       |pr0 AS (SELECT node, b.base AS pr FROM nodes CROSS JOIN b),
       |$iterCtes
       |SELECT p.node, n.n_name, p.pr::BIGINT AS pr
       |FROM pr$iterations p JOIN nation n ON n.n_nationkey = p.node
       |ORDER BY p.node""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    "q106_pagerank" -> pagerankOracle,
    // same deterministic backbone cut ((w desc, a, b), LIMIT M — shared
    // CTE generator), same canonical wedge-close triple join
    "q128_triangle_backbone" ->
      s"""WITH $backboneCte,
         |t AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
         |  FROM e e1 JOIN e e2 ON e2.a = e1.b
         |  JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
         |p AS (SELECT x AS pk FROM t UNION ALL SELECT y FROM t
         |  UNION ALL SELECT z FROM t)
         |SELECT pk AS p_partkey, count(*)::BIGINT AS n_triangles
         |FROM p GROUP BY pk
         |ORDER BY n_triangles DESC, p_partkey LIMIT 20""".stripMargin,

    // same synchronous rounds: votes from the PREVIOUS round's labeled
    // nodes only, argmax by (cnt desc, label), seeds clamped
    "q132_label_prop" -> labelPropOracle
  )

  private lazy val labelPropOracle: String = {
    val iterCtes = (1 to lpIters).map { k =>
      s"""lp$k AS (SELECT l.node, l.is_seed,
         |    CASE WHEN l.is_seed THEN l.label
         |         ELSE coalesce(b.new_label, l.label) END AS label
         |  FROM lp${k - 1} l LEFT JOIN (
         |    SELECT dst AS node, label AS new_label FROM (
         |      SELECT de.dst, v.label, count(*) AS cnt,
         |        row_number() OVER (PARTITION BY de.dst
         |          ORDER BY count(*) DESC, v.label) AS rn
         |      FROM de JOIN lp${k - 1} v
         |        ON v.node = de.src AND v.label IS NOT NULL
         |      GROUP BY de.dst, v.label) x WHERE rn = 1) b
         |  ON b.node = l.node)""".stripMargin
    }.mkString(",\n")
    s"""WITH $backboneCte,
       |de AS (SELECT a AS src, b AS dst FROM e
       |  UNION ALL SELECT b, a FROM e),
       |nodes AS (SELECT DISTINCT src AS node FROM de),
       |lp0 AS (SELECT n.node, (n.node % 5 = 0) AS is_seed,
       |    CASE WHEN n.node % 5 = 0 THEN p.p_brand END AS label
       |  FROM nodes n JOIN part p ON p.p_partkey = n.node),
       |$iterCtes
       |SELECT coalesce(label, 'unlabeled') AS label,
       |  count(*)::BIGINT AS n_nodes,
       |  sum(CASE WHEN is_seed THEN 1 ELSE 0 END)::BIGINT AS n_seeds
       |FROM lp$lpIters GROUP BY 1 ORDER BY 1""".stripMargin
  }
}
