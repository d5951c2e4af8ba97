package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * INCREMENTAL GRAPH-EDGE STORE — the graph sibling of [[StatsStore]].
 * Every graph query in this engine (q106/q128/q132) pays ONE corpus-scale
 * stage: the edge aggregation. At 100 TB that stage dominates — and it is
 * also the only stage that is incrementally maintainable, because
 * co-purchase edge weights are pure ADDITIVE partials: pairs are
 * generated WITHIN an order (q128's bounded fan-out), each order lives in
 * exactly one ingest batch, and pair weights sum across orders. So the
 * edge list persists as a layered (a, b, w) store, a new batch of orders
 * appends only its OWN pair aggregation, and the merged store equals the
 * full-table edge list EXACTLY (integer counts) — the backbone cut and
 * every downstream motif/propagation read run from the store without
 * re-scanning ingested lineitems.
 *
 * Store lifecycle matches the family contract: order-sliced corpus/delta
 * (l_orderkey mod 10: 0-6 corpus, 7-9 delta), fingerprint-guarded build
 * with meta written LAST, append-only absorb that flips meta first
 * (invalidate-before-mutate), and a merged read that is O(|store|) — the
 * store is #distinct-pairs-sized, orders of magnitude below the corpus
 * (and the q143-style compact applies verbatim if layers accumulate).
 *
 * q150 runs the full lifecycle and reads q128's triangle participation
 * from the merged store; because the merged weights equal the full-table
 * weights exactly and the backbone cut is a TOTAL order, q128's oracle
 * applies VERBATIM — the cross-engine proof that incremental edge
 * maintenance is invisible to the analytics on top.
 */
object GraphStore {

  /** LAYERED meta: `base` tracks the corpus slice, `batch1` the absorbed
    * delta, `compacted` stamps an already-folded layer set — so the
    * steady-state lifecycle (build + absorb + compact on an unchanged
    * corpus) is a NO-OP beyond the two fingerprint aggregations.
    * StoreTxn's immutable base lives under the "tx" variant. */
  private val store = new StoreMeta.Store("graph_store", fingerprint,
    StoreMeta.layered)

  private[graft] def root(dir: String, variant: String = ""): String =
    store.root(dir, variant)

  private def orderParts(s: SparkSession, dir: String): DataFrame =
    Tables.t(s, dir, "lineitem")
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))

  private def corpusOp(s: SparkSession, dir: String): DataFrame =
    orderParts(s, dir).where("o % 10 < 7")

  private def deltaOp(s: SparkSession, dir: String): DataFrame =
    orderParts(s, dir).where("o % 10 >= 7")

  /** The delta batch's own pair aggregation — the additive partial a
    * transaction stages as its graph layer (StoreTxn). */
  private[queries] def deltaPairs(s: SparkSession, dir: String): DataFrame =
    Graph.coPairsOf(deltaOp(s, dir))

  /** Corpus-slice content fingerprint: distinct (o, p) count +
    * order-independent hash-sum — any membership change moves it. */
  private def fingerprint(s: SparkSession, dir: String): String =
    Tables.memoFingerprint(s, dir, "graph.base")(
      StoreMeta.fingerprintOf(corpusOp(s, dir).distinct(), pairKey))

  private val pairKey = "concat_ws('|', cast(o AS string), cast(p AS string))"

  private def deltaFingerprint(s: SparkSession, dir: String): String =
    Tables.memoFingerprint(s, dir, "graph.delta")(
      StoreMeta.fingerprintOf(deltaOp(s, dir).distinct(), pairKey))

  def build(s: SparkSession, dir: String, variant: String = ""): String = {
    val path = root(dir, variant)
    Graph.coPairsOf(corpusOp(s, dir))
      .write.mode("overwrite").parquet(s"$path/edges")
    store.built(s, dir, variant)
    path
  }

  /** Current = base matches the corpus slice AND no verb died
    * mid-write. An absorbed batch row does NOT make the store stale. */
  def isCurrent(s: SparkSession, dir: String, variant: String = ""): Boolean =
    store.isCurrent(s, dir, variant)

  def buildIfStale(s: SparkSession, dir: String, variant: String = ""): String =
    store.buildIfStale(s, dir, variant)(build(s, dir, variant))

  private[graft] def invalidate(s: SparkSession, dir: String,
      variant: String = ""): Unit = store.invalidate(s, dir, variant)

  /** Absorb the delta orders: ONE pair aggregation over the batch,
    * appended as a layer — idempotent under the kernel's verified
    * absorb. */
  def absorb(s: SparkSession, dir: String): Unit =
    store.absorbOnce(s, dir, "", deltaFingerprint(s, dir), build(s, dir))(
      Graph.coPairsOf(deltaOp(s, dir))
        .write.mode("append").parquet(s"${root(dir)}/edges"))

  /** The merged edge list: one groupBy over the #pairs-sized store.
    * Equals the full-table [[Graph.coPairsOf]] exactly — additive
    * weights over an order-partitioned corpus. */
  def mergedEdges(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"${root(dir)}/edges")
      .groupBy(col("a"), col("b")).agg(sum(col("w")).as("w"))

  /** COMPACT the layered edges to one row per pair — the additive merge
    * IS the compaction (StatsStore.compact's algebra), under the
    * kernel's staged compact with the fold stamp: a no-op when the
    * current layer set is already folded. O(|store|), never O(corpus). */
  def compact(s: SparkSession, dir: String): Unit =
    store.compact(s, dir, "", Seq("edges"), foldOnce = true) { staging =>
      mergedEdges(s, dir)
        .coalesce(4).write.mode("overwrite").parquet(s"$staging/edges")
    }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // build the corpus edge store, absorb the delta orders' pairs, then
    // answer q128's triangle participation FROM THE STORE: backbone cut
    // + wedge-close joins over the merged (store-only) edges. Under the
    // layered meta an absorbed-and-current lap skips both verbs (two
    // fingerprint aggregations, no rebuild) — the lap then prices the
    // store READ, the daily-ingest steady state.
    "q150_graph_store" -> ((s, dir) => {
      buildIfStale(s, dir)
      absorb(s, dir)
      Graph.triangleCountsOf(Graph.backboneOf(mergedEdges(s, dir)))
    }),
    // the same lifecycle with a COMPACTION between absorb and the read,
    // serving q132's label propagation from the store: compaction is the
    // additive merge, so the backbone cut — and every propagation round
    // on it — must be invisible to the rewrite (q132's oracle verbatim,
    // the q143 device applied to graph maintenance).
    "q152_graph_store_lp" -> ((s, dir) => {
      buildIfStale(s, dir)
      absorb(s, dir)
      compact(s, dir)
      Graph.labelPropOver(s, dir, Graph.backboneOf(mergedEdges(s, dir)))
    })
  )

  // q128's/q132's oracles VERBATIM: full-table backbone + read — the
  // incremental store must be invisible to the read (the q143 device).
  val oracles: Map[String, String] = Map(
    "q150_graph_store" -> Graph.oracles("q128_triangle_backbone"),
    "q152_graph_store_lp" -> Graph.oracles("q132_label_prop")
  )
}
