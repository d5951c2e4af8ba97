package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Physical-layout write paths — the output side of a training-data
 * pipeline. The engine's other queries read parquet and write only the
 * model; a 100 TB pipeline also WRITES its results as partitioned
 * (hive-style `partitionBy`, one directory per key, so downstream readers
 * prune at the scan) and bucketed (`bucketBy`, pre-shuffled on the join
 * key, so repeated joins pay no exchange) tables. Both are exercised as
 * oracled queries: the write → read-back → aggregate round-trip must
 * produce exactly what the oracle computes straight off the source table,
 * proving the layout step is lossless.
 *
 * Output goes under java.io.tmpdir, keyed by the input dir's hash so
 * concurrent sessions on different SFs never collide; `mode("overwrite")`
 * makes every run self-contained. PlanAuditSpec asserts the read-back scan
 * actually prunes (`PartitionFilters`) — writing partitioned data that
 * downstream scans read in full would be layout theater.
 */
object Physical {

  private def outRoot(dir: String): String = StoreMeta.root("physical", dir)

  /** SQL for the 32-bit Morton code of two 16-bit coordinates — bit i of
    * `x` lands at position 2i, bit i of `y` at 2i+1, identically to the
    * aggregate(sequence(0,15), ...) fold it replaced (ZOrderSpec pins the
    * equality), but as branchless magic-number spreading: each step
    * halves the gap between occupied bit groups (8→4→2→1), four
    * shift/or/mask layers take a 16-bit value to its 32-bit every-other-
    * bit spread. Pure built-in long arithmetic — whole-stage codegen,
    * no lambda dispatch, no per-row sequence array. */
  private[graft] def mortonZ(x: String, y: String): String = {
    def spread(c: String): String = {
      val s8 = s"(($c | shiftleft($c, 8)) & 16711935L)"        // 0x00FF00FF
      val s4 = s"(($s8 | shiftleft($s8, 4)) & 252645135L)"     // 0x0F0F0F0F
      val s2 = s"(($s4 | shiftleft($s4, 2)) & 858993459L)"     // 0x33333333
      s"(($s2 | shiftleft($s2, 1)) & 1431655765L)"             // 0x55555555
    }
    s"(${spread(x)} + shiftleft(${spread(y)}, 1))"
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Hive-style partitioned write + partition-pruned read-back aggregate.
    // At scale: `source` is low-cardinality (tens of values), so one
    // directory per source; the read-back filter never touches the other
    // directories (PartitionFilters at the scan, pinned in PlanAuditSpec).
    "q56_partitioned_write" -> ((s, dir) => {
      val out = s"${outRoot(dir)}/docs_by_source"
      s.read.parquet(s"$dir/documents.parquet")
        .write.mode("overwrite").partitionBy("source").parquet(out)
      s.read.parquet(out)
        .filter(col("source").isin("src1", "src2", "src3"))
        .groupBy(col("source"), col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
        .orderBy(col("source"), col("lang"))
    }),

    // Bucketed write on the join key + co-located join read-back. Both
    // sides are bucketed (8, on doc_id/vec_id) and sorted, so the join
    // consumes bucketed scans with no exchange when broadcast is off —
    // PlanAuditSpec pins the no-Exchange property on this very query; at
    // this sandbox scale AQE may still elect a broadcast, also correct.
    // Table names carry the same dir-hash as the paths: the catalog is
    // shared across all sessions of one SparkContext, so bare names would
    // let concurrent runs on different SFs clobber each other's entry.
    "q57_bucketed_join" -> ((s, dir) => {
      val root = outRoot(dir)
      val suffix = Integer.toHexString(dir.hashCode)
      val docsTable = s"graft_q57_docs_$suffix"
      val embTable = s"graft_q57_emb_$suffix"
      s.read.parquet(s"$dir/documents.parquet")
        .write.mode("overwrite").bucketBy(8, "doc_id").sortBy("doc_id")
        .option("path", s"$root/docs_b").saveAsTable(docsTable)
      s.read.parquet(s"$dir/embeddings.parquet").select("vec_id")
        .write.mode("overwrite").bucketBy(8, "vec_id").sortBy("vec_id")
        .option("path", s"$root/emb_b").saveAsTable(embTable)
      s.table(docsTable)
        .join(s.table(embTable), col("doc_id") === col("vec_id"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
        .orderBy(col("source"))
    }),

    // ORC round-trip, partitioned by lang — the same lossless-layout
    // contract as q56 over Spark's other columnar format (interchange
    // with Hive/Trino estates that standardize on ORC). The read-back
    // filter must prune to the two lang directories (PartitionFilters on
    // the ORC scan, pinned in PlanAuditSpec) and the aggregate must match
    // the oracle computed straight off the parquet source.
    "q94_orc_roundtrip" -> ((s, dir) => {
      val out = s"${outRoot(dir)}/docs_orc_by_lang"
      s.read.parquet(s"$dir/documents.parquet")
        .write.mode("overwrite").partitionBy("lang").orc(out)
      s.read.orc(out)
        .filter(col("lang").isin("en", "de"))
        .groupBy(col("lang"), col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
        .orderBy(col("lang"), col("source"))
    }),

    // JSON-lines round-trip — the interchange format crawl dumps and
    // annotation pipelines actually arrive in. Written from the orders
    // table, read back with an EXPLICIT schema (schema-on-read, no
    // inference pass — at 100 TB an inference pre-scan doubles the read),
    // then aggregated; doubles survive because Spark emits shortest
    // round-trip decimals. The timestamp column stays out deliberately:
    // JSON timestamp round-trips are format-option territory, and the
    // lossless-layout contract here is about the columnar payload.
    "q95_jsonl_roundtrip" -> ((s, dir) => {
      val out = s"${outRoot(dir)}/orders_jsonl"
      val src = s.read.parquet(s"$dir/orders.parquet")
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
          "o_orderpriority")
      src.write.mode("overwrite").json(out)
      s.read.schema(src.schema).json(out)
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n_orders"),
          round(sum(col("o_totalprice")), 2).as("revenue"),
          min(col("o_orderkey")).as("min_key"),
          max(col("o_orderkey")).as("max_key"))
        .orderBy(col("o_orderstatus"))
    }),

    // Z-ORDER layout: multi-dimensional clustering for file skipping.
    // Range-partitioning on ONE column bounds only that column's min/max
    // per file; interleaving the bits of BOTH join/filter dimensions
    // (here l_partkey × l_suppkey, masked to 16 bits) into a Morton code
    // and range-partitioning on THAT bounds both — a predicate on either
    // dimension prunes most files at the scan, which is the entire value
    // of the layout at 100 TB. The z-value is branchless magic-number bit
    // spreading (the classic Morton-interleave recipe): 4 shift/mask
    // steps spread each 16-bit coordinate onto the even bit positions,
    // then z = zx + 2*zy — all built-in long arithmetic inside
    // whole-stage codegen. The previous aggregate(sequence(0,15), ...)
    // HOF computed the same interleave, but higher-order functions are
    // CodegenFallback — 16 interpreted lambda dispatches per row plus a
    // materialized sequence array (ZOrderSpec pins bit-for-bit equality
    // of the two forms over the 16-bit corners + random pairs). The
    // write is repartitionByRange + sorted within
    // partitions, i.e. the exact recipe a real table-layout job runs.
    // The read-back aggregate proves the round-trip lossless AND
    // exhibits the locality: per z-bucket, BOTH dimensions' spans are
    // narrow (the oracle recomputes the same buckets straight from the
    // source — identical integers or the layout lied).
    "q108_zorder_layout" -> ((s, dir) => {
      val out = s"${outRoot(dir)}/lineitem_zorder"
      s.read.parquet(s"$dir/lineitem.parquet")
        .selectExpr("l_partkey & 65535L AS px", "l_suppkey & 65535L AS sy",
          "cast(l_quantity AS bigint) AS qty")
        .selectExpr("px", "sy", "qty", s"${mortonZ("px", "sy")} AS z")
        .repartitionByRange(col("z"))
        .sortWithinPartitions(col("z"))
        .write.mode("overwrite").parquet(out)
      s.read.parquet(out)
        .groupBy(expr("z div 65536").as("z_bucket"))
        .agg(count(lit(1)).as("n_rows"),
          min(col("px")).as("min_p"), max(col("px")).as("max_p"),
          min(col("sy")).as("min_s"), max(col("sy")).as("max_s"),
          sum(col("qty")).as("sum_qty"))
        .orderBy(col("z_bucket"))
    }),

    // SCHEMA EVOLUTION: a long-lived table's batches rarely share one
    // schema — later crawls add columns. Two batches are written with
    // DIFFERENT schemas (batch 2 adds quality_e2), then read as ONE
    // dataset with mergeSchema=true: parquet's per-file footer schemas
    // union at read time, early files surface the new column as NULL.
    // The aggregate coalesces the evolved column (null-free output
    // contract) and must equal the oracle's CASE-split recompute off the
    // source — proving the merged read is lossless in both directions.
    // At 100 TB, mergeSchema's footer-union pass is why the read stays
    // one job instead of a per-schema union choreography.
    "q112_schema_merge" -> ((s, dir) => {
      val out = s"${outRoot(dir)}/docs_evolving"
      val docs = s.read.parquet(s"$dir/documents.parquet")
      docs.where("doc_id % 2 = 0")
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .write.mode("overwrite").parquet(s"$out/b1")
      docs.where("doc_id % 2 = 1")
        .selectExpr("doc_id", "lang", "n_chars", "n_chars % 97 AS quality_e2")
        .write.mode("overwrite").parquet(s"$out/b2")
      s.read.option("mergeSchema", "true").parquet(s"$out/b1", s"$out/b2")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("sum_chars"),
          sum(coalesce(col("quality_e2"), lit(0L))).as("sum_quality"),
          sum(when(col("quality_e2").isNull, 1L).otherwise(0L)).as("n_pre_evolution"))
        .orderBy(col("lang"))
    }),

    // CSV round-trip — the reference engine's own input format as an
    // oracled write→read→aggregate query (CsvPipelineSpec covers the
    // inference/null-marker read path; this pins the lossless layout
    // contract like q94/q95 do for ORC/JSONL). Read back with an
    // EXPLICIT schema: at scale a header-inference pre-scan doubles the
    // read, and CSV types are a read-time declaration anyway.
    "q113_csv_roundtrip" -> ((s, dir) => {
      val out = s"${outRoot(dir)}/orders_csv"
      val src = s.read.parquet(s"$dir/orders.parquet")
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
      src.write.mode("overwrite").option("header", "true").csv(out)
      s.read.schema(src.schema).option("header", "true").csv(out)
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n_orders"),
          round(sum(col("o_totalprice")), 2).as("revenue"),
          min(col("o_custkey")).as("min_cust"),
          max(col("o_custkey")).as("max_cust"))
        .orderBy(col("o_orderstatus"))
    }),

    // Custom DataSource V2 round-trip: documents written to the graftbin
    // binary format through the DSv2 write path (one part file per task,
    // truncate-on-overwrite), read back through the DSv2 scan with a
    // PUSHED doc_id filter (evaluated at frame level before payload
    // decode) and a PRUNED projection (the text column's bytes are
    // skipped, never decoded — GraftBinSpec pins both contracts on the
    // plan and the q118 pin asserts them here). The aggregate must equal
    // the oracle straight off the parquet source: custom-format IO is
    // lossless or this hash diverges.
    "q118_graftbin_roundtrip" -> ((s, dir) => {
      val out = s"${outRoot(dir)}/docs_graftbin"
      s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("lang"), col("text"), col("n_chars"))
        .write.format(graft.sources.GraftBin.format).mode("overwrite").save(out)
      s.read.format(graft.sources.GraftBin.format).load(out)
        .where(col("doc_id") >= 100)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"),
          min(col("doc_id")).as("min_id"), max(col("doc_id")).as("max_id"))
        .orderBy(col("lang"))
    }),

    // DIRTY-DATA ingestion: real crawl/export CSVs contain malformed
    // lines, and at 100 TB a single bad row must neither kill the job
    // (FAILFAST) nor silently vanish (DROPMALFORMED without accounting).
    // PERMISSIVE mode + columnNameOfCorruptRecord quarantines each bad
    // line INTO the dataset, so the pipeline can count, sample, and
    // route them while clean rows flow on. Three unambiguously-corrupt
    // lines (wrong arity / non-numeric key) are PLANTED alongside a
    // clean CSV dump; the aggregate must account for every planted line
    // and the clean rows must reproduce the source numbers exactly.
    "q122_corrupt_records" -> ((s, dir) => {
      import org.apache.spark.sql.types._
      val out = s"${outRoot(dir)}/orders_dirty_csv"
      val src = s.read.parquet(s"$dir/orders.parquet")
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
      src.write.mode("overwrite").option("header", "false").csv(out)
      import s.implicits._
      Seq("one,two,three,4.0,EXTRA,COLUMNS",
          "not_a_number,77,O,12.34",
          "99,also_not_a_number,F,56.78")
        .toDF("value").coalesce(1).write.mode("append").text(out)
      val schema = StructType(Seq(
        StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
        StructField("o_orderstatus", StringType),
        StructField("o_totalprice", DoubleType),
        StructField("_corrupt_record", StringType)))
      // the aggregate references EVERY data column: CSV corrupt-record
      // detection happens during parsing, and the parser only parses the
      // columns the query references (CSV column pruning) — an aggregate
      // over o_totalprice alone would never parse the planted bad keys
      // and count zero corrupt records (observed)
      s.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .csv(out)
        .agg(sum(when(col("_corrupt_record").isNull, 1L).otherwise(0L))
            .as("n_clean"),
          sum(when(col("_corrupt_record").isNotNull, 1L).otherwise(0L))
            .as("n_corrupt"),
          round(sum(when(col("_corrupt_record").isNull, col("o_totalprice"))), 2)
            .as("clean_revenue"),
          sum(when(col("_corrupt_record").isNull, col("o_orderkey")))
            .as("clean_key_sum"),
          sum(when(col("_corrupt_record").isNull, col("o_custkey")))
            .as("clean_cust_sum"),
          sum(when(col("_corrupt_record").isNull,
            length(col("o_orderstatus")))).as("clean_status_len"))
    }),

    // COMPACTION — the table-maintenance job every file-based store
    // needs at 100 TB: streaming ingestion (one part file per epoch per
    // task) accretes small files until listing and per-file task
    // overhead dominate; periodically rewriting N small files into a few
    // large ones restores scan efficiency. Staged here as 16 small
    // graftbin files → read → repartition(2) → rewrite (the connector's
    // truncate-on-overwrite write regenerates the statistics manifest
    // for the new layout); the aggregate over the compacted table must
    // reproduce the source exactly — compaction is pure layout, zero
    // data movement visible to readers. The rewrite lands in a SECOND
    // directory: atomic in-place swap needs a metastore pointer, which a
    // bare directory store intentionally does not fake.
    "q124_compact_roundtrip" -> ((s, dir) => {
      val small = s"${outRoot(dir)}/docs_graftbin_small"
      val compacted = s"${outRoot(dir)}/docs_graftbin_compacted"
      s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("lang"), col("text"), col("n_chars"))
        .repartition(16)
        .write.format(graft.sources.GraftBin.format).mode("overwrite").save(small)
      s.read.format(graft.sources.GraftBin.format).load(small)
        .repartition(2)
        .write.format(graft.sources.GraftBin.format).mode("overwrite").save(compacted)
      s.read.format(graft.sources.GraftBin.format).load(compacted)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"),
          sum(expr("length(text)")).as("sum_len"))
        .orderBy(col("lang"))
    }),
  )

  val oracles: Map[String, String] = Map(
    // sum(BIGINT) is HUGEINT in DuckDB — cast back so the value hash
    // matches Spark's long (the r1 q17/q38/q53 lesson).
    "q56_partitioned_write" ->
      """SELECT source, lang, count(*) AS n_docs, sum(n_chars)::BIGINT AS sum_chars
        |FROM documents
        |WHERE source IN ('src1', 'src2', 'src3')
        |GROUP BY source, lang
        |ORDER BY source, lang""".stripMargin,

    "q57_bucketed_join" ->
      """SELECT source, count(*) AS n_docs, sum(n_chars)::BIGINT AS sum_chars
        |FROM documents JOIN embeddings ON doc_id = vec_id
        |GROUP BY source
        |ORDER BY source""".stripMargin,

    "q94_orc_roundtrip" ->
      """SELECT lang, source, count(*) AS n_docs, sum(n_chars)::BIGINT AS sum_chars
        |FROM documents
        |WHERE lang IN ('en', 'de')
        |GROUP BY lang, source
        |ORDER BY lang, source""".stripMargin,

    // the same Morton fold as the Spark side: per-bit terms are exact
    // integers, so the interleave and the bucket rollup hash-match
    "q108_zorder_layout" ->
      """WITH m AS (SELECT (l_partkey & 65535) AS px, (l_suppkey & 65535) AS sy,
        |    l_quantity::BIGINT AS qty
        |  FROM lineitem),
        |z AS (SELECT px, sy, qty,
        |    list_sum(list_transform(generate_series(0, 15), i ->
        |      (((px >> i) & 1) << (2 * i))
        |      + (((sy >> i) & 1) << (2 * i + 1))))::BIGINT AS z
        |  FROM m)
        |SELECT z // 65536 AS z_bucket, count(*)::BIGINT AS n_rows,
        |  min(px) AS min_p, max(px) AS max_p,
        |  min(sy) AS min_s, max(sy) AS max_s,
        |  sum(qty)::BIGINT AS sum_qty
        |FROM z GROUP BY z_bucket ORDER BY z_bucket""".stripMargin,

    // batch 1 (even ids) predates the evolved column: its rows count as
    // pre-evolution and contribute 0 quality, exactly what the merged
    // read's NULLs coalesce to
    "q112_schema_merge" ->
      """SELECT lang, count(*) AS n_docs, sum(n_chars)::BIGINT AS sum_chars,
        |  sum(CASE WHEN doc_id % 2 = 1 THEN n_chars % 97 ELSE 0 END)::BIGINT
        |    AS sum_quality,
        |  sum(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END)::BIGINT
        |    AS n_pre_evolution
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,

    // compaction is invisible to readers: the source's numbers verbatim
    "q124_compact_roundtrip" ->
      """SELECT lang, count(*) AS n_docs, sum(n_chars)::BIGINT AS sum_chars,
        |  sum(length(text))::BIGINT AS sum_len
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,

    // clean rows = the source; corrupt = exactly the 3 planted lines
    "q122_corrupt_records" ->
      """SELECT count(*)::BIGINT AS n_clean, 3::BIGINT AS n_corrupt,
        |  round(sum(o_totalprice), 2) AS clean_revenue,
        |  sum(o_orderkey)::BIGINT AS clean_key_sum,
        |  sum(o_custkey)::BIGINT AS clean_cust_sum,
        |  sum(length(o_orderstatus))::BIGINT AS clean_status_len
        |FROM orders""".stripMargin,

    "q118_graftbin_roundtrip" ->
      """SELECT lang, count(*) AS n_docs, sum(n_chars)::BIGINT AS sum_chars,
        |  min(doc_id) AS min_id, max(doc_id) AS max_id
        |FROM documents WHERE doc_id >= 100
        |GROUP BY lang ORDER BY lang""".stripMargin,

    "q113_csv_roundtrip" ->
      """SELECT o_orderstatus, count(*) AS n_orders,
        |  round(sum(o_totalprice), 2) AS revenue,
        |  min(o_custkey) AS min_cust, max(o_custkey) AS max_cust
        |FROM orders GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin,

    "q95_jsonl_roundtrip" ->
      """SELECT o_orderstatus, count(*) AS n_orders,
        |  round(sum(o_totalprice), 2) AS revenue,
        |  min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
        |FROM orders
        |GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin,
  )
}
