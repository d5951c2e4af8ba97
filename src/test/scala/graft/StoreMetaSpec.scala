package graft.queries

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/**
 * Failure policy of the shared meta record (`<root>/meta.json`, through
 * the record verbs): MISSING meta (never written, invalidated, or a
 * parquet `meta/` dir from before the JSON record) reads as empty — the
 * legitimate "rebuild me" state — while a PRESENT-but-unreadable meta
 * rethrows. Swallowing the latter as "empty" would silently turn a
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

  test("pre-JSON meta/ parquet reads empty; StatsStore rebuilds over it") {
    // the (kind, fp) parquet a store wrote before the JSON record: never
    // read, so the store reads unbuilt and rebuilds once, leaving the old
    // dir in place
    val root = freshRoot("legacy")
    import spark.implicits._
    def plantParquetMeta(at: String, fp: String): Unit =
      Seq(("base", fp)).toDF("kind", "fp").coalesce(1)
        .write.mode("overwrite").parquet(s"$at/meta")
    plantParquetMeta(root, "old-stamp")
    assert(StoreMeta.rows(spark, root).isEmpty)
    val v = "prejson"
    val store = StatsStore.root(sf, v)
    StatsStore.buildIfStale(spark, sf, v)
    val base = StoreMeta.rows(spark, store)("base")
    StatsStore.invalidate(spark, sf, v)
    plantParquetMeta(store, base)
    assert(!StatsStore.isCurrent(spark, sf, v), "a parquet meta/ dir read current")
    StatsStore.buildIfStale(spark, sf, v)
    assert(StatsStore.isCurrent(spark, sf, v), "the rebuild left the store stale")
    assert(StoreMeta.rows(spark, store) === Map("base" -> base))
    assert(new java.io.File(store, "meta").isDirectory, "the old meta/ dir was removed")
  }

  test("present-but-unreadable meta throws instead of reading empty") {
    val root = freshRoot("corrupt")
    // bytes that are not a JSON object: the read must SURFACE, not
    // demote to "rebuild"
    java.nio.file.Files.write(new java.io.File(root, "meta.json").toPath,
      "this is not json".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    intercept[Exception] {
      StoreMeta.rows(spark, root)
    } match {
      case _: java.io.FileNotFoundException =>
        fail("corrupt meta misread as missing")
      case _ => () // surfaced, as required
    }
  }

  test("record round-trips and replaces; a missing record reads None") {
    val root = freshRoot("record")
    val path = s"$root/sub/rec"
    assert(StoreMeta.record(spark, path).isEmpty)
    StoreMeta.putRecord(spark, path, "first")
    assert(StoreMeta.record(spark, path).contains("first"))
    StoreMeta.putRecord(spark, path, "second ünïcode")
    assert(StoreMeta.record(spark, path).contains("second ünïcode"))
    assert(new java.io.File(s"$root/sub").list().forall(n => n == "rec" || n.startsWith(".")),
      "putRecord left a visible file besides the record")
  }

  test("garbage bytes, a JSON array, a non-string value or a directory at the meta throw") {
    for ((tag, body) <- Seq("garbage" -> "\u0000\u0001 not json", "array" -> """["base", "x"]""",
        "number" -> """{"base": 1}""")) {
      val root = freshRoot(tag)
      StoreMeta.putRecord(spark, s"$root/meta.json", body)
      intercept[IllegalStateException](StoreMeta.rows(spark, root))
    }
    val root = freshRoot("dir")
    assert(new java.io.File(root, "meta.json").mkdirs())
    intercept[java.io.IOException](StoreMeta.record(spark, s"$root/meta.json"))
    intercept[java.io.IOException](StoreMeta.rows(spark, root))
  }

  test("a dead writer's temp sibling is ignored and the next write succeeds") {
    val root = freshRoot("leftover")
    val leftover = new java.io.File(root, ".meta.json.0000.tmp")
    java.nio.file.Files.write(leftover.toPath,
      "{\"base\": \"half".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    assert(StoreMeta.rows(spark, root).isEmpty)
    StoreMeta.write(spark, root, Seq("base" -> "fp1"))
    assert(StoreMeta.rows(spark, root) === Map("base" -> "fp1"))
    assert(leftover.exists())
  }

  test("rows, write, record and putRecord run zero Spark jobs") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val group = s"storemeta-${System.nanoTime()}"
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties.getProperty("spark.jobGroup.id") == group)
          seen.add(String.valueOf(e.properties.getProperty("spark.job.description")))
    }
    val root = freshRoot("jobs")
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "counted")
    try {
      StoreMeta.rows(spark, root)
      StoreMeta.write(spark, root, Seq("base" -> "fp", "batch1" -> "absorbing"))
      assert(StoreMeta.rows(spark, root) === Map("base" -> "fp", "batch1" -> "absorbing"))
      StoreMeta.putRecord(spark, s"$root/rec", "x")
      assert(StoreMeta.record(spark, s"$root/rec").contains("x"))
      // the bus is ordered: once the marker's start arrives, every earlier one has
      graft.JobPhase(sc, "end")(sc.parallelize(Seq(1), 1).count())
      val deadline = System.nanoTime() + 30e9.toLong
      while (!seen.contains("graft:end") && System.nanoTime() < deadline) Thread.sleep(20)
      assert(seen.contains("graft:end"), "listener bus did not deliver the end marker")
      assert(seen.toArray.toSeq === Seq("graft:end"), "the meta verbs ran Spark jobs")
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  private val sf = "/root/testdata/sf0.001"

  /** Replace `root`'s meta with bytes that are not a JSON object. */
  private def corruptMeta(root: String): Unit =
    StoreMeta.putRecord(spark, s"$root/meta.json", "this is not json")

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
      intercept[IllegalStateException](isCurrent())
      intercept[IllegalStateException](buildIfStale())
      assert(StoreMeta.record(spark, s"$root/meta.json").contains("this is not json"),
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
