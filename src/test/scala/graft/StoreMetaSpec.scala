package graft.queries

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/**
 * Failure policy of the shared layered-meta read: MISSING meta (never
 * written, or a crashed build that left only sidecars) reads as empty —
 * the legitimate "rebuild me" state — while a PRESENT-but-unreadable
 * meta rethrows. Swallowing the latter as "empty" would silently turn a
 * transient IO failure into a full store rebuild (the r18 ADVICE
 * finding); the commit log's refuse-loudly policy applies here too —
 * through the kernel's lifecycle verbs on the formerly flat stores as
 * well, whose compact must also refuse a torn meta.
 */
class StoreMetaSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark

  private def freshRoot(tag: String): String = {
    val d = java.nio.file.Files
      .createTempDirectory(s"graft_storemeta_$tag").toFile
    d.deleteOnExit()
    d.getAbsolutePath
  }

  test("missing meta reads as empty") {
    assert(StoreMeta.rows(spark, s"${freshRoot("missing")}/nowhere").isEmpty)
  }

  test("sidecar-only meta (crashed write) reads as empty") {
    val root = freshRoot("sidecar")
    val meta = new java.io.File(root, "meta")
    assert(meta.mkdirs())
    java.nio.file.Files.write(new java.io.File(meta, "_SUCCESS").toPath,
      Array.emptyByteArray)
    assert(StoreMeta.rows(spark, root).isEmpty)
  }

  test("legacy single-column meta reads as empty (self-heals as stale)") {
    // the pre-layered flat stamp: one string column — the documented
    // contract (SearchStore's ladder) is "fails the (kind, fp) read and
    // self-heals as stale", which must stay a SHAPE decision, not an
    // exception escaping the staleness probe
    val root = freshRoot("legacy")
    import spark.implicits._
    Seq("old-flat-stamp").toDF("fp").coalesce(1)
      .write.mode("overwrite").parquet(s"$root/meta")
    assert(StoreMeta.rows(spark, root).isEmpty)
  }

  test("present-but-unreadable meta throws instead of reading empty") {
    val root = freshRoot("corrupt")
    val meta = new java.io.File(root, "meta")
    assert(meta.mkdirs())
    // a parquet-named file whose bytes are not parquet: the scan fails
    // on the footer, which must SURFACE, not demote to "rebuild"
    java.nio.file.Files.write(
      new java.io.File(meta, "part-00000.snappy.parquet").toPath,
      "this is not parquet".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    intercept[Exception] {
      StoreMeta.rows(spark, root)
    } match {
      case _: java.io.FileNotFoundException =>
        fail("corrupt meta misread as missing")
      case _: org.apache.spark.sql.AnalysisException =>
        fail("corrupt meta misread as schema-less (would rebuild silently)")
      case _ => () // SparkException / IOException — surfaced, as required
    }
  }

  test("only the two never-written conditions classify as benign") {
    // the r19 ADVICE narrowing: the two real conditions the missing /
    // sidecar-only tests above produce read as empty; every other
    // AnalysisException condition (permission, schema resolution, a
    // legacy null condition) must rethrow instead of demoting a
    // present-store failure to a silent full rebuild
    assert(StoreMeta.benignMetaCondition("PATH_NOT_FOUND"))
    assert(StoreMeta.benignMetaCondition("UNABLE_TO_INFER_SCHEMA"))
    assert(!StoreMeta.benignMetaCondition("INSUFFICIENT_PERMISSIONS"))
    assert(!StoreMeta.benignMetaCondition("UNRESOLVED_COLUMN"))
    assert(!StoreMeta.benignMetaCondition(null))
  }

  test("non-benign AnalysisException surfaces instead of reading empty") {
    // capture the two benign conditions from REAL reads (pinning that
    // Spark still names them PATH_NOT_FOUND / UNABLE_TO_INFER_SCHEMA —
    // if an upgrade renames them, this fails loudly instead of every
    // store silently rebuilding), then verify the classifier is what
    // the catch actually consults
    val missing = intercept[org.apache.spark.sql.AnalysisException] {
      spark.read.parquet(s"${freshRoot("cond")}/nowhere/meta")
    }
    assert(missing.getCondition === "PATH_NOT_FOUND")
    val root = freshRoot("cond2")
    val meta = new java.io.File(root, "meta")
    assert(meta.mkdirs())
    java.nio.file.Files.write(new java.io.File(meta, "_SUCCESS").toPath,
      Array.emptyByteArray)
    val sidecar = intercept[org.apache.spark.sql.AnalysisException] {
      spark.read.parquet(s"$root/meta")
    }
    assert(sidecar.getCondition === "UNABLE_TO_INFER_SCHEMA")
  }

  private val sf = "/root/testdata/sf0.001"

  /** Replace `root`'s meta with a parquet-named file that is not parquet. */
  private def corruptMeta(root: String): Unit = {
    StoreMeta.delete(spark, s"$root/meta")
    val meta = new java.io.File(root, "meta")
    assert(meta.mkdirs())
    java.nio.file.Files.write(
      new java.io.File(meta, "part-00000.snappy.parquet").toPath,
      "this is not parquet".getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }

  test("a corrupt meta in a flat store surfaces; a missing one reads stale") {
    // StatsStore and DedupIndex once swallowed every meta-read failure
    // into "stale", so an unreadable meta silently rebuilt the store
    val v = "metaspec"
    val flat = Seq[(String, () => Boolean, () => Any, () => Unit)](
      (StatsStore.root(sf, v), () => StatsStore.isCurrent(spark, sf, v),
        () => StatsStore.buildIfStale(spark, sf, v),
        () => StatsStore.invalidate(spark, sf, v)),
      (DedupIndex.root(sf, v), () => DedupIndex.isCurrent(spark, sf, v),
        () => DedupIndex.buildIfStale(spark, sf, v),
        () => DedupIndex.invalidate(spark, sf, v)))
    for ((root, isCurrent, buildIfStale, invalidate) <- flat) {
      buildIfStale()
      assert(isCurrent(), s"$root: fresh build read stale")
      corruptMeta(root)
      intercept[Exception](isCurrent()) match {
        case e: org.apache.spark.sql.AnalysisException =>
          fail(s"$root: corrupt meta misread as schema-less: $e")
        case _ => ()
      }
      intercept[Exception](buildIfStale())
      assert(new java.io.File(root, "meta/part-00000.snappy.parquet").exists(),
        s"$root: the refused probe rebuilt the store")
      invalidate()
      assert(!isCurrent(), s"$root: missing meta read as current")
      buildIfStale()
      assert(isCurrent(), s"$root: rebuild left the store stale")
    }
  }

  test("compact on a flat store refuses torn meta and leaves it as it was") {
    val v = "tornspec"
    VocabStore.build(spark, sf, v)
    val root = VocabStore.partialsPath(sf, v).stripSuffix("/partials")
    val base = StoreMeta.rows(spark, root)("base")
    for (torn <- Seq(Seq("base" -> "compacting"),
        Seq("base" -> base, "batch1" -> "absorbing"))) {
      StoreMeta.write(spark, root, torn)
      intercept[IllegalStateException](VocabStore.compact(spark, sf, v))
      assert(StoreMeta.rows(spark, root) === torn.toMap,
        "the refused compact rewrote the torn meta")
      assert(!VocabStore.isCurrent(spark, sf, v), s"torn meta $torn read current")
    }
    VocabStore.buildIfStale(spark, sf, v)
    VocabStore.compact(spark, sf, v)
    assert(StoreMeta.rows(spark, root) === Map("base" -> base),
      "compact of a healed store did not restore its meta")
  }

  test("round-trips the (kind, fp) rows") {
    val root = freshRoot("roundtrip")
    StoreMeta.write(spark, root, Seq("corpus" -> "abc", "model" -> "def"))
    assert(StoreMeta.rows(spark, root) ===
      Map("corpus" -> "abc", "model" -> "def"))
  }
}
