package graft.similarity

import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.queries.StoreMeta

/** Round-trip proof for the persisted ANN indexes: an index written to
  * parquet and loaded back must reproduce the live top-k of its tier
  * bit-for-bit — the same guarantee the iforest model round-trip
  * gives (same scores from a loaded model as from the fitted one). */
class AnnIndexSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"
  /** Every index and corpus copy of this run lives under one fresh temp
    * dir, removed after the suite: two checkouts tested at once never
    * read or overwrite each other's indexes. */
  private val tmp = java.nio.file.Files.createTempDirectory("graft-ann-index-spec").toString
  private val root = s"$tmp/index"

  private def deleteRec(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteRec)); f.delete()
  }

  override def afterAll(): Unit = try deleteRec(new java.io.File(tmp)) finally super.afterAll()

  /** Collected (q_id, neighbor_id, cosine-bits, rn) rows — cosine compared
    * via raw long bits so "bit-for-bit" means exactly that. */
  private def rows(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Long, Int)] =
    df.collect().toSeq.map(r => (r.getLong(0), r.getLong(1),
      java.lang.Double.doubleToLongBits(r.getDouble(2)), r.getInt(3)))

  test("annIndexPath keys on the escaped dir plus its md5 fragment (pinned paths)") {
    val tmpdir = sys.props("java.io.tmpdir")
    assert(graft.SparkEntry.annIndexPath("/data/x", "lsh_q58") ==
      s"$tmpdir/graft_ann_index__data_x_8d59db1e8bb75159/lsh_q58")
    assert(graft.SparkEntry.annIndexPath("/data_x", "lsh_q58") ==
      s"$tmpdir/graft_ann_index__data_x_610c05327bc3f5ce/lsh_q58")
  }

  test("LSH: persisted index reproduces the live annTopK bit-for-bit") {
    val path = s"$root/lsh"
    AnnIndex.build(spark, sf, path, "lsh")
    val live = rows(AnnTier.topK(spark, sf, LshTier(), numProbes = 5, k = 5))
    val loaded = rows(AnnIndex.topK(spark, sf, path, "lsh", numProbes = 5, k = 5))
    assert(loaded == live)
  }

  test("LSH: persisted metadata drives the loaded probe knobs") {
    // An index saved with non-default knobs must be queried with those
    // knobs, not the library defaults — the loader reads them from
    // metadata, so a knob mismatch between writer and reader is impossible.
    val path = s"$root/lsh_alt"
    val tier = LshTier(numPlanes = 8, numTables = 5, probesPerTable = 28)
    AnnIndex.build(spark, sf, path, tier)
    val live = rows(AnnTier.topK(spark, sf, tier, numProbes = 5, k = 5))
    val loaded = rows(AnnIndex.topK(spark, sf, path, "lsh", numProbes = 5, k = 5))
    assert(loaded == live)
  }

  test("LSH: persisted no-vote index (minCollisions=1) reproduces that live path") {
    // minCollisions is a QUERY-side knob that changes results, so it must
    // round-trip through metadata like the geometry knobs: an index saved
    // for the no-vote configuration must be queried without the vote even
    // though the library default is now the voting point.
    val path = s"$root/lsh_novote"
    val tier = LshTier(numTables = 6, probesPerTable = 64, minCollisions = 1)
    AnnIndex.build(spark, sf, path, tier)
    val live = rows(AnnTier.topK(spark, sf, tier, numProbes = 5, k = 5))
    val loaded = rows(AnnIndex.topK(spark, sf, path, "lsh", numProbes = 5, k = 5))
    assert(loaded == live)
  }

  test("LSH: persisted occupancy-budgeted index reproduces that live path") {
    // poolFrac round-trips through metadata too, and the loader derives
    // the per-bucket occupancies from the SAVED assignments (an ids-only
    // aggregation over the index — never a corpus re-scan) plus the budget
    // from the fingerprint's corpusRows, so budgeted probing from a loaded
    // index is bit-identical to the live q60 path.
    val path = s"$root/lsh_budget"
    val tier = LshTier(probesPerTable = 1024, poolFrac = 0.85)
    AnnIndex.build(spark, sf, path, tier)
    val live = rows(AnnTier.topK(spark, sf, tier, numProbes = 5, k = 5))
    val loaded = rows(AnnIndex.topK(spark, sf, path, "lsh", numProbes = 5, k = 5))
    assert(loaded == live)
  }

  test("IVF: persisted index reproduces the live annTopK bit-for-bit") {
    val path = s"$root/ivf"
    AnnIndex.build(spark, sf, path, "ivf")
    val live = rows(AnnTier.topK(spark, sf, IvfTier(), numProbes = 5, k = 5))
    val loaded = rows(AnnIndex.topK(spark, sf, path, "ivf", numProbes = 5, k = 5))
    assert(loaded == live)
  }

  test("staleness guard: an index built before the corpus changed refuses to serve") {
    import org.apache.spark.sql.functions.col
    val corpus = s"$tmp/stale_corpus"
    val orig = spark.read.parquet(s"$sf/embeddings.parquet")
    orig.write.mode("overwrite").parquet(s"$corpus/embeddings.parquet")
    val lshPath = s"$root/lsh_stale"
    val ivfPath = s"$root/ivf_stale"
    AnnIndex.build(spark, corpus, lshPath, "lsh")
    AnnIndex.build(spark, corpus, ivfPath, "ivf")
    assert(AnnIndex.isCurrent(spark, corpus, lshPath))
    assert(AnnIndex.isCurrent(spark, corpus, ivfPath))
    assert(AnnIndex.topK(spark, corpus, lshPath, "lsh").collect().nonEmpty)
    // row-count mutation: drop one vector — both loaders must refuse
    orig.filter(col("vec_id") =!= 399L)
      .write.mode("overwrite").parquet(s"$corpus/embeddings.parquet")
    assert(!AnnIndex.isCurrent(spark, corpus, lshPath))
    assert(!AnnIndex.isCurrent(spark, corpus, ivfPath))
    val e = intercept[IllegalStateException] {
      AnnIndex.topK(spark, corpus, lshPath, "lsh").collect()
    }
    assert(e.getMessage.contains("stale"))
    intercept[IllegalStateException] {
      AnnIndex.topK(spark, corpus, ivfPath, "ivf").collect()
    }
    // content mutation at SAME row count: rewrite a sampled row's vector
    // in place (vec_id 0 satisfies the clustered content sample rule
    // pmod(vec_id, 9973) < 103 — see AnnIndex.corpusFingerprint) — the
    // row count matches, only the checksum catches it
    orig.selectExpr("vec_id",
        "CASE WHEN vec_id = 0 THEN transform(embedding, x -> x + 1.0f)" +
          " ELSE embedding END AS embedding", "label")
      .write.mode("overwrite").parquet(s"$corpus/embeddings.parquet")
    assert(!AnnIndex.isCurrent(spark, corpus, lshPath))
    // rebuild heals — the q58/q59 build-if-absent-or-stale contract
    AnnIndex.build(spark, corpus, lshPath, "lsh")
    assert(AnnIndex.isCurrent(spark, corpus, lshPath))
    assert(AnnIndex.topK(spark, corpus, lshPath, "lsh").collect().nonEmpty)
  }

  test("staleness guard: in-place rewrite of an UNSAMPLED vector is refused") {
    // The content sample reads ~1% of rows (pmod(vec_id, 9973) < 103), so
    // rewriting a vector OUTSIDE it leaves (rows, id-xor, sampled-content)
    // all intact — round 10's one silent-staleness path. The FILE-LISTING
    // digest (name, length, mtime of every data file — zero data read)
    // closes it: no store rewrites a parquet file without changing one of
    // those. vec_id 200 has pmod(200, 9973) = 200 >= 103 — unsampled.
    import org.apache.spark.sql.functions.col
    val corpus = s"$tmp/unsampled_corpus"
    val orig = spark.read.parquet(s"$sf/embeddings.parquet")
    orig.write.mode("overwrite").parquet(s"$corpus/embeddings.parquet")
    val path = s"$root/lsh_unsampled"
    AnnIndex.build(spark, corpus, path, LshTier(numTables = 6, probesPerTable = 64))
    assert(AnnIndex.isCurrent(spark, corpus, path))
    orig.selectExpr("vec_id",
        "CASE WHEN vec_id = 200 THEN transform(embedding, x -> x + 1.0f)" +
          " ELSE embedding END AS embedding", "label")
      .write.mode("overwrite").parquet(s"$corpus/embeddings.parquet")
    // same row count, same ids, rewrite invisible to the content sample —
    // only the listing catches it
    assert(!AnnIndex.isCurrent(spark, corpus, path))
    val e = intercept[IllegalStateException] {
      AnnIndex.topK(spark, corpus, path, "lsh").collect()
    }
    assert(e.getMessage.contains("listing"))
    AnnIndex.build(spark, corpus, path, LshTier(numTables = 6, probesPerTable = 64))
    assert(AnnIndex.isCurrent(spark, corpus, path))
  }

  test("LSH append: appended index is bit-for-bit a full rebuild of the grown corpus") {
    import org.apache.spark.sql.functions.col
    // build over the first 400 vectors, then the corpus GROWS by 100 (a
    // parquet append — new part files only, old files untouched)
    val corpus = s"$tmp/grow_corpus"
    val all = spark.read.parquet(s"$sf/embeddings.parquet")
    all.filter(col("vec_id") < 400).write.parquet(s"$corpus/embeddings.parquet")
    val path = s"$root/lsh_append"
    AnnIndex.build(spark, corpus, path, LshTier(numTables = 6, probesPerTable = 64))
    all.filter(col("vec_id") >= 400)
      .write.mode("append").parquet(s"$corpus/embeddings.parquet")
    // grown corpus: the old index must refuse, the append must heal
    assert(!AnnIndex.isCurrent(spark, corpus, path))
    AnnIndex.append(spark, corpus, path, "lsh")
    assert(AnnIndex.isCurrent(spark, corpus, path))
    // equivalence: the hyperplanes depend only on (seed, dim), so a FULL
    // rebuild over the grown corpus produces the same geometry — appended
    // assignments and query answers must match it bit-for-bit
    val rebuilt = s"$root/lsh_append_rebuilt"
    AnnIndex.build(spark, corpus, rebuilt, LshTier(numTables = 6, probesPerTable = 64))
    def assignSet(p: String) = spark.read.parquet(s"$p/assignments")
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(assignSet(path) == assignSet(rebuilt))
    assert(rows(AnnIndex.topK(spark, corpus, path, "lsh", numProbes = 5, k = 5)) ==
      rows(AnnIndex.topK(spark, corpus, rebuilt, "lsh", numProbes = 5, k = 5)))
    // a SECOND append with nothing new is a no-op that still validates
    AnnIndex.append(spark, corpus, path, "lsh")
    assert(assignSet(path) == assignSet(rebuilt))
    // COMPACTION: the append layers collapse to <= 4 files, and the index
    // still validates and answers bit-for-bit what the layered one did
    val topkBefore = rows(AnnIndex.topK(spark, corpus, path, "lsh", numProbes = 5, k = 5))
    AnnIndex.compact(spark, path, "lsh")
    assert(AnnIndex.isCurrent(spark, corpus, path),
      "compaction must not invalidate the index")
    assert(assignSet(path) == assignSet(rebuilt),
      "compaction changed the assignment rows")
    val files = new java.io.File(s"$path/assignments").listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(files <= 4, s"assignments not compacted: $files files")
    assert(rows(AnnIndex.topK(spark, corpus, path, "lsh", numProbes = 5, k = 5)) ==
      topkBefore, "compaction changed a topk answer")
  }

  test("upgrade path: an index in the pre-record shape is stale and heals by rebuild") {
    // An index written before the `metadata.json` record: a Spark-text
    // `metadata/` dir (the listing as a digest) and a `listing/` parquet.
    // It has no commit record, so the heal probe reads it stale and
    // annPersistedTopK rebuilds it once; the old dirs stay, unread.
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    import spark.implicits._
    val path = s"$root/lsh_preshape"
    AnnIndex.build(spark, sf, path, "lsh")
    val js = JsonMethods.parse(StoreMeta.record(spark, s"$path/metadata.json").get)
      .transformField { case JField("corpusListing", _) =>
        JField("corpusListing", JString("0123456789abcdef0123456789abcdef")) }
    spark.createDataset(Seq(JsonMethods.compact(JsonMethods.render(js))))
      .repartition(1).write.mode("overwrite").text(s"$path/metadata")
    AnnIndex.corpusListing(spark, sf).toDF("name", "len", "mtime", "chk")
      .repartition(1).write.mode("overwrite").parquet(s"$path/listing")
    StoreMeta.delete(spark, s"$path/metadata.json")
    assert(AnnIndex.definitelyStale(spark, sf, path))
    assert(!AnnIndex.isCurrent(spark, sf, path))
    val healed = rows(graft.SparkEntry.annPersistedTopK(spark, sf, path, "lsh"))
    assert(healed == rows(AnnTier.topK(spark, sf, LshTier(), numProbes = 5, k = 5)))
    assert(AnnIndex.isCurrent(spark, sf, path))
    assert(!AnnIndex.definitelyStale(spark, sf, path))
    for (old <- Seq("metadata", "listing"))
      assert(new java.io.File(s"$path/$old").isDirectory, s"the old $old/ dir was removed")
  }

  test("LSH append refuses when the change was not a pure add") {
    import org.apache.spark.sql.functions.col
    val corpus = s"$tmp/notadd_corpus"
    val all = spark.read.parquet(s"$sf/embeddings.parquet")
    all.filter(col("vec_id") < 400)
      .write.mode("overwrite").parquet(s"$corpus/embeddings.parquet")
    val path = s"$root/lsh_notadd"
    AnnIndex.build(spark, corpus, path, LshTier(numTables = 6, probesPerTable = 64))
    // an overwrite (even to a superset of the rows) rewrites every file —
    // the per-file listing check must refuse the shortcut
    all.write.mode("overwrite").parquet(s"$corpus/embeddings.parquet")
    val e = intercept[IllegalStateException] { AnnIndex.append(spark, corpus, path, "lsh") }
    assert(e.getMessage.contains("rebuild"))
    // the full rebuild (the q58 fallback tier) heals
    AnnIndex.build(spark, corpus, path, LshTier(numTables = 6, probesPerTable = 64))
    assert(AnnIndex.isCurrent(spark, corpus, path))
  }

  test("append: the new rows leave the cache whether the write succeeds or fails") {
    import org.apache.spark.sql.functions.col
    val corpus = s"$tmp/cache_corpus"
    val all = spark.read.parquet(s"$sf/embeddings.parquet")
    all.filter(col("vec_id") < 200).write.parquet(s"$corpus/embeddings.parquet")
    val path = s"$root/lsh_cache"
    AnnIndex.build(spark, corpus, path, LshTier(numTables = 6, probesPerTable = 64))
    def cached = spark.sparkContext.getPersistentRDDs.keySet
    val before = cached
    all.filter(col("vec_id") >= 200 && col("vec_id") < 240)
      .write.mode("append").parquet(s"$corpus/embeddings.parquet")
    AnnIndex.append(spark, corpus, path, "lsh")
    assert(AnnIndex.isCurrent(spark, corpus, path))
    assert((cached -- before).isEmpty, "a successful append left its new rows cached")
    // a plain file where the committer makes its _temporary directory:
    // readers skip it, so the append gets as far as its write, which fails
    all.filter(col("vec_id") >= 240 && col("vec_id") < 280)
      .write.mode("append").parquet(s"$corpus/embeddings.parquet")
    java.nio.file.Files.createFile(java.nio.file.Paths.get(s"$path/assignments/_temporary"))
    intercept[Exception] { AnnIndex.append(spark, corpus, path, "lsh") }
    assert((cached -- before).isEmpty, "a failed append left its new rows cached")
  }

  test("IVF append: new vectors join the frozen geometry's lists; old rows untouched") {
    import org.apache.spark.sql.functions.col
    val corpus = s"$tmp/ivfgrow_corpus"
    val all = spark.read.parquet(s"$sf/embeddings.parquet")
    all.write.parquet(s"$corpus/embeddings.parquet")
    val path = s"$root/ivf_append"
    AnnIndex.build(spark, corpus, path, "ivf")
    def assigns(p: String) = spark.read.parquet(s"$p/assignments")
      .collect().map(r => (r.getLong(0), r.getInt(1))).toMap // vec_id -> list
    val before = assigns(path)
    // grow with DUPLICATES of vectors 0..49 at new ids 10000+i: under the
    // FROZEN centroids an identical vector must land in the same list as
    // its source — an expectation independent of the append code itself
    all.filter(col("vec_id") < 50)
      .selectExpr("vec_id + 10000 AS vec_id", "embedding", "label")
      .write.mode("append").parquet(s"$corpus/embeddings.parquet")
    AnnIndex.append(spark, corpus, path, "ivf")
    assert(AnnIndex.isCurrent(spark, corpus, path))
    val after = assigns(path)
    assert(before.forall { case (id, l) => after(id) == l }, "old assignments changed")
    (0L until 50L).foreach { i =>
      assert(after(i + 10000) == after(i), s"duplicate of $i landed in a different list")
    }
    // COMPACTION: the append layers collapse to <= 4 files; the index
    // still validates and answers bit-for-bit (the q143 invisibility
    // contract applied to the IVF tier)
    val topkBefore = rows(AnnIndex.topK(spark, corpus, path, "ivf"))
    AnnIndex.compact(spark, path, "ivf")
    assert(AnnIndex.isCurrent(spark, corpus, path),
      "compaction must not invalidate the index")
    assert(assigns(path) == after, "compaction changed the assignment rows")
    val files = new java.io.File(s"$path/assignments").listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(files <= 4, s"assignments not compacted: $files files")
    assert(rows(AnnIndex.topK(spark, corpus, path, "ivf")) == topkBefore,
      "compaction changed a topk answer")
  }

  test("interrupted rebuild fails loud: a metadata-less index never serves") {
    // The save bracket is (delete metadata, write model + assignments,
    // write metadata LAST), so every kill point during a rebuild leaves
    // either no metadata or an old fingerprint — this pins the worst
    // interrupted state (artifacts present, metadata gone): the loader
    // must throw, and the q58-style build-if-stale retry must heal it.
    val path = s"$root/lsh_interrupted"
    AnnIndex.build(spark, sf, path, LshTier(numTables = 6, probesPerTable = 64))
    val before = rows(AnnIndex.topK(spark, sf, path, "lsh", numProbes = 5, k = 5))
    // simulate the mid-rebuild kill window: metadata deleted, old
    // model/assignments still on disk
    StoreMeta.delete(spark, s"$path/metadata.json")
    assert(!AnnIndex.isCurrent(spark, sf, path))
    intercept[Exception] { AnnIndex.topK(spark, sf, path, "lsh", numProbes = 5, k = 5).collect() }
    // rebuild heals and reproduces the original answers
    AnnIndex.build(spark, sf, path, LshTier(numTables = 6, probesPerTable = 64))
    assert(rows(AnnIndex.topK(spark, sf, path, "lsh", numProbes = 5, k = 5)) == before)
  }

  test("IVF: corpus-adaptive memos drop when the corpus files change") {
    // The row-count and quantizer memos key on a file-level corpus
    // signature: a corpus REPLACED mid-session must not serve the old
    // corpus's knobs (the rebuilt index would bake stale nlist/centroids
    // under a fresh fingerprint). 500 rows -> nlist 256; grow the same
    // dir to 2000 rows -> the adaptive default must move to 512.
    import org.apache.spark.sql.functions.col
    val corpus = s"$tmp/memo_corpus"
    val small = spark.read.parquet(s"$sf/embeddings.parquet")
    small.write.mode("overwrite").parquet(s"$corpus/embeddings.parquet")
    assert(AnnIvf.resolveKnobs(spark, corpus, 0, 0) == ((256, 36)))
    val big = spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet")
    big.write.mode("overwrite").parquet(s"$corpus/embeddings.parquet")
    assert(AnnIvf.resolveKnobs(spark, corpus, 0, 0) == ((512, 73)),
      "memoized row count survived a corpus replacement")
  }

  test("IVF append: refuses past the measured drift bound; rebuild heals") {
    // The geometry (nlist + centroids) freezes at build time; TUNE_r12.txt
    // "ivfdrift" measured the (recall >= 0.85, scan <= 0.25) box holding
    // at +25% appended rows and breaking beyond — the IVF append must refuse
    // (BEFORE mutating anything) once live rows exceed 1.25x trainedRows.
    import org.apache.spark.sql.functions.col
    val corpus = s"$tmp/drift_corpus"
    val all = spark.read.parquet(s"$sf/embeddings.parquet")
    all.filter(col("vec_id") < 200).write.parquet(s"$corpus/embeddings.parquet")
    val path = s"$root/ivf_drift"
    AnnIndex.build(spark, corpus, path, "ivf") // trainedRows = 200
    // +20% growth (240 <= 1.25 * 200): the append tier serves it
    all.filter(col("vec_id") >= 200 && col("vec_id") < 240)
      .write.mode("append").parquet(s"$corpus/embeddings.parquet")
    AnnIndex.append(spark, corpus, path, "ivf")
    assert(AnnIndex.isCurrent(spark, corpus, path))
    // grow to 500 total (2.5x the trained 200): refuse, index left intact
    all.filter(col("vec_id") >= 240)
      .write.mode("append").parquet(s"$corpus/embeddings.parquet")
    val e = intercept[IllegalStateException] { AnnIndex.append(spark, corpus, path, "ivf") }
    assert(e.getMessage.contains("trained at 200"), e.getMessage)
    // the refusal mutated NOTHING: the index still answers for the corpus
    // it last committed (240 rows) — stale for the live one, not broken
    assert(!AnnIndex.isCurrent(spark, corpus, path))
    assert(StoreMeta.record(spark, s"$path/metadata.json").isDefined,
      "refusal must not clear the metadata commit record")
    // the rebuild tier heals with refit geometry and a fresh trainedRows
    AnnIndex.build(spark, corpus, path, "ivf")
    assert(AnnIndex.isCurrent(spark, corpus, path))
    AnnIndex.append(spark, corpus, path, "ivf") // no-op growth: serves again
    assert(AnnIndex.isCurrent(spark, corpus, path))
  }

  test("buildIfStale: a current index's transient load failure re-raises, never heals") {
    // The heal tiers clear + rewrite the metadata commit record; firing
    // them on a transient infra error over a CURRENT index would hand a
    // concurrent reader a metadata-less index mid-window (r11 ADVICE).
    var appends = 0
    var rebuilds = 0
    val boom = new RuntimeException("transient I/O")
    val e = intercept[RuntimeException] {
      graft.SparkEntry.buildIfStale(
        definitelyStale = false, append = { appends += 1 },
        rebuild = { rebuilds += 1 })(
        throw boom)
    }
    assert(e eq boom, "must surface the ORIGINAL failure")
    assert(appends == 0 && rebuilds == 0, "heal tiers must not run")
    // and the stale path still heals: append first, rebuild on its failure
    var loads = 0
    val out = graft.SparkEntry.buildIfStale(
      definitelyStale = true,
      append = { appends += 1; throw new IllegalStateException("not a pure add") },
      rebuild = { rebuilds += 1 })({
      loads += 1
      if (loads == 1) throw new IllegalStateException("stale")
      spark.range(1).toDF()
    })
    assert(appends == 1 && rebuilds == 1 && out.count() == 1)
  }

  test("buildIfStale: a probe that cannot run re-raises the LOAD failure, never heals") {
    // r12 ADVICE: the prior probe (isCurrent) swallowed its own failures
    // into "not current", so the exact scenario the guard exists for — an
    // FS outage failing load AND probe — healed anyway. A probe failure
    // is not a staleness verdict: the original load error must surface,
    // with the probe's error attached as suppressed for diagnosis.
    var appends = 0
    var rebuilds = 0
    val loadBoom = new RuntimeException("load: transient I/O")
    val probeBoom = new RuntimeException("probe: transient I/O")
    val e = intercept[RuntimeException] {
      graft.SparkEntry.buildIfStale(
        definitelyStale = throw probeBoom,
        append = { appends += 1 }, rebuild = { rebuilds += 1 })(
        throw loadBoom)
    }
    assert(e eq loadBoom, "must surface the ORIGINAL load failure")
    assert(e.getSuppressed.exists(_ eq probeBoom), "probe failure attached")
    assert(appends == 0 && rebuilds == 0, "heal tiers must not run")
  }

  test("definitelyStale: verdicts on absence/staleness, propagation on probe failure") {
    val path = s"$root/stale_probe"
    // absent index: definitively stale (commit record missing)
    assert(AnnIndex.definitelyStale(spark, sf, path))
    AnnIndex.build(spark, sf, path, "lsh")
    assert(!AnnIndex.definitelyStale(spark, sf, path))
    // corpus changed out from under the index: a definitive verdict
    val corpus2 = s"$tmp/stale_probe_corpus"
    spark.read.parquet(s"$sf/embeddings.parquet").limit(100)
      .write.parquet(s"$corpus2/embeddings.parquet")
    assert(AnnIndex.definitelyStale(spark, corpus2, path))
    // a probe that cannot RUN (corpus dir vanished -> the fingerprint
    // scan fails) propagates instead of voting stale
    intercept[Exception] {
      AnnIndex.definitelyStale(spark, "/nonexistent/corpus/dir", path)
    }
  }

  test("IVF: loaded index needs no k-means fit (quantizer cache cold)") {
    val path = s"$root/ivf"
    // depends on the '$root/ivf' index written by "IVF: persisted index
    // reproduces..." above (suite runs in declaration order); clearing
    // the memo proves topK reads centroids from parquet, not a refit
    AnnLloyd.clearFits()
    val loaded = AnnIndex.topK(spark, sf, path, "ivf", numProbes = 5, k = 5).collect()
    assert(loaded.nonEmpty)
  }

  test("PQ: persisted index reproduces the live annTopK bit-for-bit") {
    val path = s"$root/pq"
    AnnIndex.build(spark, sf, path, "pq")
    val live = rows(AnnTier.topK(spark, sf, PqTier(), numProbes = 5, k = 5))
    val loaded = rows(AnnIndex.topK(spark, sf, path, "pq", numProbes = 5, k = 5))
    assert(loaded == live)
  }

  test("PQ: loaded index needs no codebook fit (memo cold)") {
    val path = s"$root/pq"
    // depends on '$root/pq' from the test above; clearing the memo
    // proves topK reads codebooks from parquet, not a refit
    AnnLloyd.clearFits()
    val loaded = AnnIndex.topK(spark, sf, path, "pq", numProbes = 5, k = 5).collect()
    assert(loaded.nonEmpty)
  }

  test("IVF-PQ: persisted index reproduces the live annTopK bit-for-bit") {
    val path = s"$root/ivfpq"
    AnnIndex.build(spark, sf, path, "ivfpq")
    val live = rows(AnnTier.topK(spark, sf, IvfPqTier(), numProbes = 5, k = 5))
    val loaded = rows(AnnIndex.topK(spark, sf, path, "ivfpq", numProbes = 5, k = 5))
    assert(loaded == live)
  }

  test("IVF-PQ: loaded index needs neither k-means fit (both memos cold)") {
    val path = s"$root/ivfpq"
    // depends on '$root/ivfpq' above; clearing the fit memo proves
    // topK reads coarse centroids and residual codebooks from
    // parquet, never a refit
    AnnLloyd.clearFits()
    val loaded = AnnIndex.topK(spark, sf, path, "ivfpq", numProbes = 5, k = 5).collect()
    assert(loaded.nonEmpty)
  }

  test("IVF-PQ append: frozen geometries encode adds; refuses past 1.25x; rebuild heals") {
    import org.apache.spark.sql.functions.col
    val corpus = s"$tmp/ivfpqdrift_corpus"
    val all = spark.read.parquet(s"$sf/embeddings.parquet")
    all.filter(col("vec_id") < 200).write.parquet(s"$corpus/embeddings.parquet")
    val path = s"$root/ivfpq_drift"
    AnnIndex.build(spark, corpus, path, "ivfpq") // trainedRows = 200
    val beforeCodes = spark.read.parquet(s"$path/assignments").collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getSeq[Byte](2))).toMap
    assert(beforeCodes.size == 200)
    // +20% growth (240 <= 1.25 * 200): the append tier serves it
    all.filter(col("vec_id") >= 200 && col("vec_id") < 240)
      .write.mode("append").parquet(s"$corpus/embeddings.parquet")
    AnnIndex.append(spark, corpus, path, "ivfpq")
    assert(AnnIndex.isCurrent(spark, corpus, path))
    val after = spark.read.parquet(s"$path/assignments")
    assert(after.count() == 240L)
    val oldCodes = after.where("vec_id < 200").collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getSeq[Byte](2))).toMap
    assert(oldCodes == beforeCodes,
      "append rewrote pre-existing list assignments or code words")
    // COMPACTION between appends: rows identical, index current, and the
    // drift-bound refusal below still fires off the preserved metadata
    val topkBeforeCompact = rows(AnnIndex.topK(spark, corpus, path, "ivfpq"))
    AnnIndex.compact(spark, path, "ivfpq")
    assert(AnnIndex.isCurrent(spark, corpus, path),
      "compaction must not invalidate the index")
    assert(spark.read.parquet(s"$path/assignments").collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getSeq[Byte](2))).toMap
      .view.filterKeys(_ < 200).toMap == beforeCodes,
      "compaction changed code rows")
    assert(rows(AnnIndex.topK(spark, corpus, path, "ivfpq")) == topkBeforeCompact,
      "compaction changed a topk answer")
    // grow to 500 (2.5x trained): the COARSE 1.25x bound refuses
    all.filter(col("vec_id") >= 240)
      .write.mode("append").parquet(s"$corpus/embeddings.parquet")
    val e = intercept[IllegalStateException] { AnnIndex.append(spark, corpus, path, "ivfpq") }
    assert(e.getMessage.contains("trained at 200"), e.getMessage)
    assert(!AnnIndex.isCurrent(spark, corpus, path))
    assert(StoreMeta.record(spark, s"$path/metadata.json").isDefined,
      "refusal must not clear the metadata commit record")
    // rebuild heals with refit coarse + residual geometry
    AnnLloyd.clearFits()
    AnnIndex.build(spark, corpus, path, "ivfpq")
    assert(AnnIndex.isCurrent(spark, corpus, path))
    assert(AnnIndex.topK(spark, corpus, path, "ivfpq").collect().nonEmpty)
  }

  test("PQ append: frozen-codebook encoding; refuses past 1.5x; rebuild heals") {
    import org.apache.spark.sql.functions.col
    val corpus = s"$tmp/pqdrift_corpus"
    val all = spark.read.parquet(s"$sf/embeddings.parquet")
    all.filter(col("vec_id") < 200).write.parquet(s"$corpus/embeddings.parquet")
    val path = s"$root/pq_drift"
    AnnIndex.build(spark, corpus, path, "pq") // trainedRows = 200
    val beforeCodes = spark.read.parquet(s"$path/assignments").collect()
      .map(r => r.getLong(0) -> r.getSeq[Byte](1)).toMap
    assert(beforeCodes.size == 200)
    // +45% growth (290 <= 1.5 * 200): the append tier serves it, and the
    // appended code words must be the ones the frozen codebooks produce —
    // bit-compare against a rebuild-free re-encode of the new rows
    all.filter(col("vec_id") >= 200 && col("vec_id") < 290)
      .write.mode("append").parquet(s"$corpus/embeddings.parquet")
    AnnIndex.append(spark, corpus, path, "pq")
    assert(AnnIndex.isCurrent(spark, corpus, path))
    val after = spark.read.parquet(s"$path/assignments")
    assert(after.count() == 290L)
    // old rows' codes untouched by the append — bit-for-bit
    val oldCodes = after.where("vec_id < 200").collect()
      .map(r => r.getLong(0) -> r.getSeq[Byte](1)).toMap
    assert(oldCodes == beforeCodes, "append rewrote pre-existing code words")
    // COMPACTION between appends: rows identical, index current, and the
    // drift-bound refusal below still fires off the preserved metadata
    val topkBeforeCompact = rows(AnnIndex.topK(spark, corpus, path, "pq"))
    AnnIndex.compact(spark, path, "pq")
    assert(AnnIndex.isCurrent(spark, corpus, path),
      "compaction must not invalidate the index")
    assert(spark.read.parquet(s"$path/assignments").collect()
      .map(r => r.getLong(0) -> r.getSeq[Byte](1)).toMap
      .view.filterKeys(_ < 200).toMap == beforeCodes,
      "compaction changed code rows")
    assert(rows(AnnIndex.topK(spark, corpus, path, "pq")) == topkBeforeCompact,
      "compaction changed a topk answer")
    // grow to 500 total (2.5x the trained 200): refuse, index left intact
    all.filter(col("vec_id") >= 290)
      .write.mode("append").parquet(s"$corpus/embeddings.parquet")
    val e = intercept[IllegalStateException] { AnnIndex.append(spark, corpus, path, "pq") }
    assert(e.getMessage.contains("trained at 200"), e.getMessage)
    assert(!AnnIndex.isCurrent(spark, corpus, path))
    // the stale load names this index's own method and the build verb
    val stale = intercept[IllegalStateException] {
      AnnIndex.topK(spark, corpus, path, "pq").collect()
    }
    assert(stale.getMessage.contains("rebuild the 'pq' index with AnnIndex.build"),
      stale.getMessage)
    assert(StoreMeta.record(spark, s"$path/metadata.json").isDefined,
      "refusal must not clear the metadata commit record")
    // the rebuild tier heals with refit codebooks and fresh trainedRows
    AnnLloyd.clearFits() // corpus files changed; drop the fit memo
    AnnIndex.build(spark, corpus, path, "pq")
    assert(AnnIndex.isCurrent(spark, corpus, path))
    assert(AnnIndex.topK(spark, corpus, path, "pq").collect().nonEmpty)
  }
}
