package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * DATA-GOVERNANCE AUDITS — the checks a 100 TB lake runs before a batch
 * is allowed into a training mix (the Great-Expectations / dbt-test
 * surface, re-expressed as single-pass Spark aggregates):
 *
 *  - q199 EXPECTATIONS: a contract of row-level assertions evaluated in
 *    ONE scan — each check is a conditional sum riding the same
 *    aggregate, so a ten-assertion contract costs exactly one pass
 *    (violations are counted, not collected — the report is
 *    #checks-sized however large the table). The uniqueness check is
 *    the one that genuinely needs a shuffle; it rides the same output
 *    via count vs count(distinct).
 *  - q200 K-ANONYMITY: quasi-identifier groups smaller than k — the
 *    re-identification risk report a privacy review wants before
 *    release. One groupBy on the quasi columns (map-side combine; the
 *    output is bounded by the quasi cardinality, not rows).
 *  - q201 REFERENTIAL INTEGRITY: orphan foreign keys across the star
 *    schema. Dimension checks are broadcast anti-joins (nation/region/
 *    part/supplier are small by star-schema construction); the
 *    fact-to-fact check (lineitem → orders) is the one legitimate
 *    shuffle anti-join. Counts only — violations never leave the
 *    executors.
 */
object Audit {

  private def t(s: SparkSession, dir: String, n: String) = Tables.t(s, dir, n)

  /** One row per assertion: (check, n_rows, n_violations, passed). */
  def expectations(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
    val agg = o.agg(
      count(lit(1)).as("n_rows"),
      sum(when(col("o_totalprice") <= 0 || col("o_totalprice").isNull, 1L)
        .otherwise(0L)).as("v_price_positive"),
      sum(when(col("o_orderkey").isNull, 1L).otherwise(0L)).as("v_key_not_null"),
      sum(when(!col("o_orderstatus").isin("O", "F", "P"), 1L)
        .otherwise(0L)).as("v_status_domain"),
      sum(when(col("o_orderdate") < lit("1992-01-01").cast("timestamp") ||
        col("o_orderdate") >= lit("1999-01-01").cast("timestamp"), 1L)
        .otherwise(0L)).as("v_date_range"),
      (count(col("o_orderkey")) - countDistinct(col("o_orderkey")))
        .as("v_key_unique"))
    val checks = Seq("price_positive", "key_not_null", "status_domain",
      "date_range", "key_unique")
    agg.selectExpr("n_rows",
        s"stack(${checks.size}, " + checks.map(c => s"'$c', v_$c").mkString(", ") +
          ") AS (check_name, n_violations)")
      .selectExpr("check_name", "n_rows", "cast(n_violations AS bigint) AS n_violations",
        "n_violations = 0 AS passed")
      .orderBy(col("check_name"))
  }

  /** Quasi-identifier groups below the anonymity threshold k. */
  def kAnonymity(s: SparkSession, dir: String, k: Int = 6): DataFrame =
    t(s, dir, "documents")
      .groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("group_size"))
      .where(col("group_size") < k)
      .orderBy(col("lang"), col("source"))

  /** Orphan-FK counts per relationship (0 = clean). */
  def fkAudit(s: SparkSession, dir: String): DataFrame = {
    def orphans(fact: DataFrame, fk: String, dim: DataFrame, pk: String): DataFrame =
      fact.select(col(fk).as("k"))
        .join(broadcast(dim.select(col(pk).as("k"))), Seq("k"), "left_anti")
    val rels = Seq(
      ("customer.c_nationkey -> nation",
        orphans(t(s, dir, "customer"), "c_nationkey", t(s, dir, "nation"), "n_nationkey")),
      ("supplier.s_nationkey -> nation",
        orphans(t(s, dir, "supplier"), "s_nationkey", t(s, dir, "nation"), "n_nationkey")),
      ("nation.n_regionkey -> region",
        orphans(t(s, dir, "nation"), "n_regionkey", t(s, dir, "region"), "r_regionkey")),
      ("lineitem.l_partkey -> part",
        orphans(t(s, dir, "lineitem"), "l_partkey", t(s, dir, "part"), "p_partkey")),
      // fact-to-fact: orders is NOT broadcastable at scale — plain
      // shuffle anti-join, AQE free to pick the strategy
      ("lineitem.l_orderkey -> orders",
        t(s, dir, "lineitem").select(col("l_orderkey").as("k"))
          .join(t(s, dir, "orders").select(col("o_orderkey").as("k")),
            Seq("k"), "left_anti")))
    rels.map { case (name, df) =>
      df.agg(count(lit(1)).as("n_orphans")).select(lit(name).as("relationship"),
        col("n_orphans"))
    }.reduce(_.unionByName(_)).orderBy(col("relationship"))
  }

  /** STREAMING EXPECTATIONS GATE (q202) — the Delta-Live-Tables shape:
    * every micro-batch splits against the document contract, accepted
    * rows land in the serving sink, violators in a QUARANTINE ledger
    * tagged with the failed check (kept for review, never silently
    * dropped — the difference between a gate and a leak). Both sinks
    * are append-only parquet; the final read is a per-lang disposition
    * rollup over the two ledgers, and because the split predicate is
    * row-local, batch boundaries cannot change it — the full-table
    * oracle applies verbatim. */
  def streamExpectations(s: SparkSession, dir: String): DataFrame = {
    val feed = StoreMeta.root("dq_feed", dir)
    val accepted = StoreMeta.root("dq_accepted", dir)
    val quarantine = StoreMeta.root("dq_quarantine", dir)
    for (p <- Seq(accepted, quarantine)) StoreMeta.delete(s, p)
    // deterministic per-corpus feed — staged once per corpus content
    // (Tables.stagedOnce, the q40 staged-events device); batch order is
    // irrelevant here (row-local verdicts), so no mtime choreography
    Tables.stagedOnce(s, dir, feed, "dq_feed;ranges=4") { () =>
      t(s, dir, "documents").select(col("doc_id"), col("lang"), col("n_chars"), col("text"))
        .repartitionByRange(4, col("doc_id"))
        .write.mode("overwrite").parquet(feed)
    }
    // failed-check tag: first failing assertion in contract order (a
    // row-local expression, so the oracle replays it cross-engine)
    val verdictExpr =
      """CASE WHEN n_chars < 60 OR n_chars > 450 THEN 'chars_range'
        |     WHEN lang NOT IN ('en', 'de', 'fr', 'es', 'zh') THEN 'lang_domain'
        |     WHEN size(split(text, ' ')) < 15 THEN 'min_tokens'
        |     ELSE 'ok' END""".stripMargin
    StoreMeta.drain(s, "dq", dir) { batch =>
      val judged = batch.withColumn("check_failed", expr(verdictExpr))
      judged.where(col("check_failed") === "ok")
        .select(col("doc_id"), col("lang"))
        .write.mode("append").parquet(accepted)
      judged.where(col("check_failed") =!= "ok")
        .select(col("doc_id"), col("lang"), col("check_failed"))
        .write.mode("append").parquet(quarantine)
    }
    val acc = s.read.parquet(accepted)
      .groupBy(col("lang")).agg(count(lit(1)).as("n_accepted"))
    val quar = s.read.parquet(quarantine)
      .groupBy(col("lang")).agg(count(lit(1)).as("n_quarantined"))
    acc.join(quar, Seq("lang"), "full_outer")
      .selectExpr("lang", "coalesce(n_accepted, 0L) AS n_accepted",
        "coalesce(n_quarantined, 0L) AS n_quarantined")
      .orderBy(col("lang"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q199_expectations" -> ((s, dir) => expectations(s, dir)),
    "q200_k_anonymity" -> ((s, dir) => kAnonymity(s, dir)),
    "q201_fk_audit" -> ((s, dir) => fkAudit(s, dir)),
    "q202_stream_expectations" -> ((s, dir) => streamExpectations(s, dir))
  )

  val oracles: Map[String, String] = Map(
    "q199_expectations" ->
      """WITH a AS (SELECT count(*)::BIGINT AS n_rows,
        |    sum(CASE WHEN o_totalprice <= 0 OR o_totalprice IS NULL
        |      THEN 1 ELSE 0 END)::BIGINT AS v_price_positive,
        |    sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END)::BIGINT
        |      AS v_key_not_null,
        |    sum(CASE WHEN o_orderstatus NOT IN ('O', 'F', 'P')
        |      THEN 1 ELSE 0 END)::BIGINT AS v_status_domain,
        |    sum(CASE WHEN o_orderdate < TIMESTAMP '1992-01-01' OR
        |      o_orderdate >= TIMESTAMP '1999-01-01' THEN 1 ELSE 0 END)::BIGINT
        |      AS v_date_range,
        |    (count(o_orderkey) - count(DISTINCT o_orderkey))::BIGINT
        |      AS v_key_unique
        |  FROM orders)
        |SELECT c.check_name, a.n_rows, c.n_violations,
        |  c.n_violations = 0 AS passed
        |FROM a, LATERAL (VALUES
        |  ('price_positive', v_price_positive),
        |  ('key_not_null', v_key_not_null),
        |  ('status_domain', v_status_domain),
        |  ('date_range', v_date_range),
        |  ('key_unique', v_key_unique)) AS c(check_name, n_violations)
        |ORDER BY c.check_name""".stripMargin,
    "q200_k_anonymity" ->
      """SELECT lang, source, count(*)::BIGINT AS group_size
        |FROM documents GROUP BY lang, source
        |HAVING count(*) < 6 ORDER BY lang, source""".stripMargin,
    "q201_fk_audit" ->
      """SELECT 'customer.c_nationkey -> nation' AS relationship,
        |  (SELECT count(*) FROM customer c LEFT JOIN nation n
        |    ON c.c_nationkey = n.n_nationkey WHERE n.n_nationkey IS NULL)::BIGINT
        |  AS n_orphans
        |UNION ALL SELECT 'supplier.s_nationkey -> nation',
        |  (SELECT count(*) FROM supplier s LEFT JOIN nation n
        |    ON s.s_nationkey = n.n_nationkey WHERE n.n_nationkey IS NULL)::BIGINT
        |UNION ALL SELECT 'nation.n_regionkey -> region',
        |  (SELECT count(*) FROM nation na LEFT JOIN region r
        |    ON na.n_regionkey = r.r_regionkey WHERE r.r_regionkey IS NULL)::BIGINT
        |UNION ALL SELECT 'lineitem.l_partkey -> part',
        |  (SELECT count(*) FROM lineitem l LEFT JOIN part p
        |    ON l.l_partkey = p.p_partkey WHERE p.p_partkey IS NULL)::BIGINT
        |UNION ALL SELECT 'lineitem.l_orderkey -> orders',
        |  (SELECT count(*) FROM lineitem l LEFT JOIN orders o
        |    ON l.l_orderkey = o.o_orderkey WHERE o.o_orderkey IS NULL)::BIGINT
        |ORDER BY relationship""".stripMargin,
    // the same row-local contract over the full table — batch
    // boundaries cannot move a row-local verdict
    "q202_stream_expectations" ->
      """WITH j AS (SELECT lang,
        |    CASE WHEN n_chars < 60 OR n_chars > 450 THEN 'chars_range'
        |         WHEN lang NOT IN ('en', 'de', 'fr', 'es', 'zh') THEN 'lang_domain'
        |         WHEN len(string_split(text, ' ')) < 15 THEN 'min_tokens'
        |         ELSE 'ok' END AS check_failed
        |  FROM documents)
        |SELECT lang,
        |  sum(CASE WHEN check_failed = 'ok' THEN 1 ELSE 0 END)::BIGINT
        |    AS n_accepted,
        |  sum(CASE WHEN check_failed != 'ok' THEN 1 ELSE 0 END)::BIGINT
        |    AS n_quarantined
        |FROM j GROUP BY lang ORDER BY lang""".stripMargin
  )
}
