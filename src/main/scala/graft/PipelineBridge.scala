package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/**
 * The JVM half of the Python pipeline access (python/graft_iforest/
 * pipeline.py). Python reaches the library's Scala objects directly
 * through `pipeline.call`, which resolves `graft.<Object>.<method>` over
 * Py4J and invokes its static forwarder, so a plain forwarding method
 * here would only repeat the library. What stays are the verbs Py4J
 * cannot express in one call: the named-query map (a Scala `Map` of
 * function values), parallel arrays into tuples, `Seq` results returned
 * as arrays, and verbs that build their input slice before delegating.
 */
object PipelineBridge {

  /** Run any named query from [[SparkEntry.queries]] against a data dir;
    * throws with the known names on a typo instead of a bare None.get. */
  def query(s: SparkSession, dir: String, name: String): DataFrame =
    SparkEntry.queries.getOrElse(name,
      throw new IllegalArgumentException(
        s"unknown query '$name' — known: ${SparkEntry.queries.keys.toSeq.sorted.mkString(", ")}")
    )(s, dir)

  def queryNames(): Array[String] = SparkEntry.queries.keys.toSeq.sorted.toArray

  /** The live top k of the `method` ANN tier (lsh, ivf, pq or ivfpq) at
    * its default knobs — the live twin of [[SparkEntry.annPersistedTopK]]. */
  def annTopK(s: SparkSession, dir: String, method: String, numProbes: Int,
      k: Int): DataFrame =
    similarity.AnnTier.topK(s, dir, similarity.AnnTier.defaults(method), numProbes, k)

  /** The q79 redaction chain over the RAW documents table with a
    * caller-chosen pattern set: parallel arrays of (category name, Java
    * regex, replacement token), applied in order, per-category counts +
    * residual re-scan in the output. */
  def scrub(s: SparkSession, dir: String, names: Array[String],
      patterns: Array[String], replacements: Array[String]): DataFrame = {
    require(names.length == patterns.length && names.length == replacements.length,
      "names/patterns/replacements must be parallel arrays")
    queries.TextPipeline.scrubChain(
      queries.Tables.t(s, dir, "documents").select("doc_id", "text"),
      names.toSeq.lazyZip(patterns.toSeq).lazyZip(replacements.toSeq).map((_, _, _)))
  }

  /** Stats as they stood after `epoch` (q148) — a layer filter, no
    * snapshots. Ensures the tagged store first (build-once,
    * fingerprint-guarded). */
  def statsAsOf(s: SparkSession, dir: String, epoch: Long): DataFrame = {
    queries.StatsStore.ensureTagged(s, dir)
    queries.StatsStore.statsAsOf(s, dir, epoch)
  }

  /** The stats contribution of epochs (from, to] alone (q149). */
  def statsChanges(s: SparkSession, dir: String, from: Long, to: Long): DataFrame = {
    queries.StatsStore.ensureTagged(s, dir)
    queries.StatsStore.statsChanges(s, dir, from, to)
  }

  /** Atomically absorb the delta slice into BOTH the dedup and stats
    * stores (stage layers, then the one-row commit, q147); returns the
    * transaction id. */
  def txAbsorbDelta(s: SparkSession, dir: String): Long =
    queries.StoreTxn.absorbBoth(s, dir,
      queries.DedupIndex.deltaDocs(s, dir),
      queries.Tables.t(s, dir, "documents").where("doc_id % 10 >= 7"))

  /** Reclaim orphaned transaction staging (abandoned uncommitted t<id>
    * dirs + pre-marker checkpoint staging); returns reclaimed txn ids. */
  def txVacuum(s: SparkSession, dir: String): Array[Long] =
    queries.StoreTxn.vacuum(s, dir).toArray

  /** Atomically absorb one doc tranche's postings + stats as a
    * transaction (q185); returns the txn id. */
  def txAbsorbSearch(s: SparkSession, dir: String, tranchePred: String): Long =
    queries.StoreTxn.absorbSearch(s, dir,
      queries.Tables.t(s, dir, "documents").where(tranchePred))

  /** Atomically append one order tranche (data files + manifest rows
    * behind one commit row, q191); returns the txn id. */
  def txAbsorbTableAppend(s: SparkSession, dir: String,
      tranchePred: String): Long =
    queries.StoreTxn.absorbTableAppend(s, dir,
      queries.Tables.t(s, dir, "orders").where(tranchePred))

  /** INSERT OVERWRITE: swap the table content for the tranche (q198). */
  def txAbsorbTableReplace(s: SparkSession, dir: String,
      tranchePred: String): Long =
    queries.StoreTxn.absorbTableReplace(s, dir,
      queries.Tables.t(s, dir, "orders").where(tranchePred))

  /** Reclaim layout files no manifest references; returns their paths. */
  def txVacuumTable(s: SparkSession, dir: String): Array[String] =
    queries.StoreTxn.vacuumTable(s, dir).toArray

  /** Atomically absorb the delta orders' graph pairs and embed batch 1's
    * unique survivors as one transaction (q162/q163); returns the txn id. */
  def txAbsorbIngest(s: SparkSession, dir: String): Long =
    queries.StoreTxn.absorbIngest(s, dir,
      queries.EmbedIndex.batch1Vecs(s, dir))

  /** Judge embed batch 2 against the transactional index (base ∪
    * committed layers) — q142's verdicts when batch 1 rode a txn. */
  def txJudgeEmbedBatch2(s: SparkSession, dir: String): DataFrame =
    queries.StoreTxn.judgeEmbedTx(s, dir,
      queries.EmbedIndex.batch2Vecs(s, dir))
}
