package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * ZONE-MAP DATA-SKIPPING STORE (q183) — file-level min/max pruning, the
 * scan-elimination device lakehouse table formats (Delta/Iceberg/Hudi
 * manifests, ClickHouse/ORC zone maps) put in front of every range
 * query. Spark's built-in pruning works at two coarser levels —
 * directory (hive partitions, q56) and row group (parquet footer stats,
 * consulted only AFTER a task opens the file); the zone map closes the
 * gap: a persisted (file, min_key, max_key, n_rows) table lets the
 * PLANNER hand the scan only the files whose key range intersects the
 * predicate, so at 100 TB a selective range query schedules tasks for a
 * few percent of the files instead of opening all of them to discover
 * their footers say "skip me".
 *
 * Store family lifecycle: `build` writes the base slice as a RANGE-
 * CLUSTERED layout (repartitionByRange + sortWithinPartitions on the
 * key — clustering is what makes zones tight; unclustered data gives
 * every file the full key range and prunes nothing) and derives its
 * zone rows from the written files; `absorb` appends the delta's files
 * and zone rows for ONLY the new files (listed by diffing the layout
 * dir against the zone table — O(#files) driver work, never a corpus
 * re-scan; appended files may overlap the base's ranges, exactly like
 * real ingestion, and per-file min/max stays correct under overlap);
 * `meta` brackets both (written last, flipped non-pristine by absorb).
 *
 * The q183 read picks the 30-50% band of the keyspace (bounds derived
 * from the zone table itself — no corpus scan), prunes the file list
 * against the zones (a #files-sized driver-side collect, the same
 * manifest-pruning step a Delta/Iceberg planner runs), reads only the
 * surviving files, and re-applies the exact predicate (zones are
 * conservative; the residual filter is what makes pruning safe). The
 * DuckDB oracle recomputes the aggregate straight off the source table
 * — proving layout + zones + pruning lose nothing — and ZoneMapSpec
 * pins that the pruned read really does skip files.
 */
object ZoneMapStore {

  private val store = new StoreMeta.Store("zonemap_store", fingerprint,
    StoreMeta.pristine)

  private def root(dir: String, variant: String = ""): String =
    store.root(dir, variant)

  private def baseOrders(s: SparkSession, dir: String): DataFrame =
    Tables.t(s, dir, "orders").where("o_orderkey % 10 < 7")
  private def deltaOrders(s: SparkSession, dir: String): DataFrame =
    Tables.t(s, dir, "orders").where("o_orderkey % 10 >= 7")

  private def cols(df: DataFrame): DataFrame =
    df.select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))

  /** Base-slice content fingerprint (the family's md5-sum device). */
  private def fingerprint(s: SparkSession, dir: String): String =
    Tables.memoFingerprint(s, dir, "zonemap.base")(
      StoreMeta.fingerprintOf(baseOrders(s, dir), "cast(o_orderkey AS string)"))

  /** Scheme-free path ("/tmp/...") so zone rows, Hadoop listings
    * (file:/...), and input_file_name URIs (file:///...) all compare. */
  private[queries] def normPath(p: String): String = new java.net.URI(p).getPath

  /** Zone rows of an explicit file set: one pass over just those files,
    * grouped by the file each row came from. */
  private[queries] def zonesOf(df: DataFrame): DataFrame =
    df.groupBy(input_file_name().as("file"))
      .agg(min(col("o_orderkey")).as("min_key"),
        max(col("o_orderkey")).as("max_key"),
        count(lit(1)).as("n_rows"))
      .withColumn("file", udfFreeNorm(col("file")))

  // path normalization as an expression: strip the uri scheme + host
  // ("file:///x" / "file:/x" -> "/x") with one regexp, no UDF
  private def udfFreeNorm(c: org.apache.spark.sql.Column) =
    regexp_replace(c, "^[a-zA-Z0-9+.-]+:/+", "/")

  def build(s: SparkSession, dir: String, variant: String = ""): String = {
    val path = root(dir, variant)
    cols(baseOrders(s, dir))
      .repartitionByRange(16, col("o_orderkey"))
      .sortWithinPartitions(col("o_orderkey"))
      .write.mode("overwrite").parquet(s"$path/layout")
    zonesOf(s.read.parquet(s"$path/layout"))
      .coalesce(1).write.mode("overwrite").parquet(s"$path/zones")
    // overwrite semantics cover the delete vector too: a stale folded
    // delete set surviving a rebuild would hide rows the fresh layout
    // legitimately contains
    StoreMeta.delete(s, s"$path/deletes")
    store.built(s, dir, variant)
    path
  }

  def isCurrent(s: SparkSession, dir: String, variant: String = ""): Boolean =
    store.isCurrent(s, dir, variant)

  def buildIfStale(s: SparkSession, dir: String, variant: String = ""): String =
    store.buildIfStale(s, dir, variant)(build(s, dir, variant))

  /** Append the delta's files (their key ranges may overlap the base's —
    * per-file zones stay exact under overlap), then zone ONLY the new
    * files: the layout listing minus the zone table's file set, a
    * #files-sized driver diff, then one read over just those files. */
  def absorb(s: SparkSession, dir: String): Unit = store.absorb(s, dir) {
    val path = root(dir)
    cols(deltaOrders(s, dir))
      .repartitionByRange(4, col("o_orderkey"))
      .sortWithinPartitions(col("o_orderkey"))
      .write.mode("append").parquet(s"$path/layout")
    val known = s.read.parquet(s"$path/zones")
      .select("file").collect().map(_.getString(0)).toSet
    val hp = new org.apache.hadoop.fs.Path(s"$path/layout")
    val fs = hp.getFileSystem(s.sparkContext.hadoopConfiguration)
    val fresh = fs.listStatus(hp).map(_.getPath.toString)
      .filter(_.endsWith(".parquet")).map(normPath).filterNot(known)
    if (fresh.nonEmpty)
      zonesOf(s.read.parquet(fresh.toIndexedSeq: _*))
        .coalesce(1).write.mode("append").parquet(s"$path/zones")
  }

  private[graft] def invalidate(s: SparkSession, dir: String,
      variant: String = ""): Unit = store.invalidate(s, dir, variant)

  private[graft] def zonesPath(dir: String, variant: String = ""): String =
    s"${root(dir, variant)}/zones"
  private[graft] def layoutPath(dir: String, variant: String = ""): String =
    s"${root(dir, variant)}/layout"
  private[graft] def deletesPath(dir: String, variant: String = ""): String =
    s"${root(dir, variant)}/deletes"

  /** Append `df` to the layout as `nFiles` range-clustered files and
    * return the NEW file paths (layout listing diff against `known` —
    * a #files-sized driver op; append-mode part files have unique
    * names, so the diff is exact under the documented single-writer
    * assumption). The transaction layer stages manifest rows for
    * exactly these files. */
  private[queries] def appendFiles(s: SparkSession, df: DataFrame,
      dir: String, variant: String, nFiles: Int,
      known: Set[String]): Seq[String] = {
    val layout = layoutPath(dir, variant)
    cols(df)
      .repartitionByRange(nFiles, col("o_orderkey"))
      .sortWithinPartitions(col("o_orderkey"))
      .write.mode("append").parquet(layout)
    val hp = new org.apache.hadoop.fs.Path(layout)
    val fs = hp.getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.listStatus(hp).map(_.getPath.toString)
      .filter(_.endsWith(".parquet")).map(normPath)
      .filterNot(known).toIndexedSeq
  }

  /** RECLUSTER (q188) — the OPTIMIZE verb: absorbed files overlap the
    * base's key ranges (each absorb is range-clustered within itself
    * but not against the existing layout), so every absorb widens the
    * pruning's false-positive set. The rewrite re-ranges the WHOLE
    * layout into disjoint files and re-derives the zones — after it, a
    * range predicate selects the minimal file set again (the spec pins
    * both: fewer files picked, pairwise-disjoint zones). It is the
    * kernel's staged compact over TWO tables: the re-ranged layout and
    * its zones are both staged, the zones derived from the staged files
    * with their directory rewritten to the live layout's (the swap is a
    * rename, so each file keeps its name), and both swap in under one
    * torn meta. O(|store|) by design — the periodic maintenance pass
    * that buys back every interim absorb, Delta OPTIMIZE's cost model. */
  def recluster(s: SparkSession, dir: String): Unit = {
    val path = root(dir)
    val live = normPath(new org.apache.hadoop.fs.Path(s"$path/layout")
      .getFileSystem(s.sparkContext.hadoopConfiguration)
      .makeQualified(new org.apache.hadoop.fs.Path(s"$path/layout")).toUri.toString)
    store.compact(s, dir, "", Seq("layout", "zones")) { staging =>
      // one disjoint range per staged file, moved as-is by the swap — the
      // disjointness the verb exists to restore is preserved exactly
      s.read.parquet(s"$path/layout")
        .repartitionByRange(16, col("o_orderkey"))
        .sortWithinPartitions(col("o_orderkey"))
        .write.mode("overwrite").parquet(s"$staging/layout")
      zonesOf(s.read.parquet(s"$staging/layout"))
        .withColumn("file", concat(lit(s"$live/"),
          regexp_extract(col("file"), "[^/]+$", 0)))
        .coalesce(1).write.mode("overwrite").parquet(s"$staging/zones")
    }
  }

  /** The files whose zone intersects [lo, hi] — the manifest-pruning
    * collect (#files rows, the same bounded driver step a lakehouse
    * planner runs), plus the bounds themselves, derived from the zone
    * table so the read path never scans the corpus. */
  private[graft] def prunedFiles(s: SparkSession, dir: String): (Seq[String], Long, Long) =
    prunedFilesOf(s.read.parquet(s"${root(dir)}/zones"))

  /** The manifest prune over an EXPLICIT zones frame — [[prunedFiles]]
    * passes the single-store manifest; [[StoreTxn]] passes base ∪
    * committed zone layers (q191's transactional-table read). */
  private[queries] def prunedFilesOf(zones: DataFrame): (Seq[String], Long, Long) = {
    val maxKey = zones.agg(max(col("max_key"))).head().getLong(0)
    val (lo, hi) = (maxKey * 3 / 10, maxKey * 5 / 10)
    val picked = zones
      .where(col("max_key") >= lo && col("min_key") <= hi)
      .select("file").collect().map(_.getString(0)).toIndexedSeq
    (picked, lo, hi)
  }

  /** The pruned range aggregate: zone-selected files only, residual
    * predicate re-applied (zones are conservative), then a #statuses-
    * sized rollup. */
  def rangeAggregate(s: SparkSession, dir: String): DataFrame =
    rangeAggregateOf(s, prunedFiles(s, dir))

  /** `scrub` interposes between the pruned scan and the rollup — the
    * identity for plain reads; [[StoreTxn]] passes the delete-vector
    * anti-join (q193's merge-on-read read path). */
  private[queries] def rangeAggregateOf(s: SparkSession,
      pruned: (Seq[String], Long, Long),
      scrub: DataFrame => DataFrame = identity): DataFrame = {
    val (files, lo, hi) = pruned
    scrub(s.read.parquet(files: _*)
      .where(col("o_orderkey").between(lo, hi)))
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_orders"),
        round(sum(col("o_totalprice")), 2).as("revenue"),
        min(col("o_orderkey")).as("min_key"),
        max(col("o_orderkey")).as("max_key"))
      .orderBy(col("o_orderstatus"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // cluster the base → zone it → absorb the delta's overlapping files
    // → answer the range query off the pruned file set; the oracle
    // recomputes from the raw table, closing layout+zones+pruning
    "q183_zonemap_store" -> ((s, dir) => {
      buildIfStale(s, dir); absorb(s, dir); rangeAggregate(s, dir)
    }),
    // same lifecycle + the OPTIMIZE pass between absorb and read: the
    // aggregate must not move (q183's oracle verbatim) while the file
    // set the range query touches shrinks back to minimal
    "q188_zonemap_recluster" -> ((s, dir) => {
      buildIfStale(s, dir); absorb(s, dir); recluster(s, dir)
      rangeAggregate(s, dir)
    })
  )

  private val rangeOracle: String =
    """WITH mk AS (SELECT max(o_orderkey) AS m FROM orders),
      |b AS (SELECT (m * 3) // 10 AS lo, (m * 5) // 10 AS hi FROM mk)
      |SELECT o_orderstatus, count(*)::BIGINT AS n_orders,
      |  round(sum(o_totalprice), 2) AS revenue,
      |  min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
      |FROM orders, b WHERE o_orderkey BETWEEN lo AND hi
      |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin

  val oracles: Map[String, String] = Map(
    "q183_zonemap_store" -> rangeOracle,
    // the same oracle verbatim — reclustering is reader-invisible
    "q188_zonemap_recluster" -> rangeOracle
  )
}
