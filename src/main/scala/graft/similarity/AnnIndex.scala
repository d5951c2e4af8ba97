package graft.similarity

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Parquet persistence for the ANN indexes, mirroring the iforest model
 * round-trip ([[graft.iforest.IForestModel]]'s data + metadata layout).
 *
 * [[AnnLsh]]/[[AnnIvf]] rebuild their index structures (hyperplanes +
 * bucket assignments, k-means centroids + inverted lists) on every
 * session; a real deployment builds the index ONCE next to the data and
 * every query session loads it. Layout under `<path>/`:
 *
 *  - `metadata/` — one JSON row of knobs (method, numPlanes/numTables/
 *    probesPerTable/adaptive/minCollisions or nlist/nprobe, seed, dim),
 *    so a loader never has to guess the knobs the index was built with —
 *    including the query-side vote threshold, which changes results;
 *  - `model/` — the geometry: (plane_id, weights) hyperplane rows for
 *    LSH, (list_id, center) centroid rows for IVF. Doubles round-trip
 *    parquet bit-exactly, so probe-side bucket assignment from a loaded
 *    index is bit-identical to the build session's;
 *  - `assignments/` — the index proper: (tb, vec_id) bucket rows for LSH
 *    (L rows per vector), (list_id, vec_id) for IVF (1 row per vector).
 *    Embeddings are NOT duplicated into the index — queries join
 *    assignments back to the corpus table on vec_id, so the index stays
 *    a few percent of the data size and the corpus remains the single
 *    source of truth for vectors.
 *
 * At 100 TB the assignments write/read is an embarrassingly parallel
 * column scan; the geometry is kilobytes. AnnIndexSpec proves the
 * round-trip: a loaded index reproduces the direct q31/q49 results
 * bit-for-bit.
 */
object AnnIndex {

  private case class LshMeta(method: String, numPlanes: Int, numTables: Int,
      probesPerTable: Int, adaptive: Boolean, minCollisions: Int, seed: Long, dim: Int)
  private case class IvfMeta(method: String, nlist: Int, nprobe: Int,
      seed: Long, dim: Int)

  private def writeMeta(s: SparkSession, path: String, json: String): Unit = {
    import s.implicits._
    s.createDataset(Seq(json)).repartition(1).write.mode("overwrite").text(s"$path/metadata")
  }

  /** Invalidate the index BEFORE a rebuild touches any artifact: with the
    * metadata gone, every interrupted rebuild prefix — model written,
    * assignments half-written, anything — is an index the loaders refuse
    * (readMeta fails loud), never one that validates over mixed-build
    * artifacts. Paired with writing metadata LAST in saveLsh/saveIvf,
    * the (delete-meta, build, write-meta) bracket makes the fingerprint
    * guard crash-safe for corpus AND knob changes alike. */
  private def clearMeta(s: SparkSession, path: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(s"$path/metadata")
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, true)
  }

  private def readMeta(s: SparkSession, path: String): org.json4s.JValue = {
    import s.implicits._
    org.json4s.jackson.JsonMethods.parse(
      s.read.text(s"$path/metadata").as[String].collect().mkString("\n"))
  }

  /**
   * Cheap corpus fingerprint, written into index metadata at save and
   * re-derived at load: an index answers for the EXACT corpus it was built
   * on, so a corpus that changed after the build must fail loud instead of
   * silently serving neighbors from the stale assignments. (rows, checksum)
   * where the checksum xor-combines two order-independent bit_xor scans:
   *
   *  - ids: every row's xxhash64(vec_id) — catches adds/drops/renumbers —
   *    over the vec_id column ONLY (column-pruned, never touches the
   *    vector bytes);
   *  - content: xxhash64(vec_id, embedding) for the ~1% deterministic
   *    sample pmod(vec_id, 9973) < 103 — catches in-place vector rewrites.
   *    The sample is RANGE-CLUSTERED (runs of 103 consecutive ids), not
   *    strided, so parquet page/row-group stats on vec_id let the reader
   *    skip ~99% of the embedding pages; a strided 1% sample matches every
   *    page and silently re-reads the whole vector column.
   *
   * Both scans are embarrassingly parallel with no shuffle beyond the
   * final combine; validation cost at load is therefore a metadata-scale
   * id pass plus ~1% of the vector bytes, not a full corpus re-hash.
   */
  private[similarity] def corpusFingerprint(s: SparkSession, dir: String): (Long, Long) = {
    val emb = s.read.parquet(s"$dir/embeddings.parquet")
    val idRow = emb.selectExpr(
      "count(*) AS n", "coalesce(bit_xor(xxhash64(vec_id)), 0L) AS chk").first()
    val contentChk = emb.where("pmod(vec_id, 9973) < 103")
      .selectExpr("coalesce(bit_xor(xxhash64(vec_id, embedding)), 0L) AS chk")
      .first().getLong(0)
    (idRow.getLong(0), idRow.getLong(1) ^ contentChk)
  }

  /**
   * FILE-LEVEL corpus listing: (relative name, length, modificationTime,
   * checksum) of every DATA file under the corpus parquet (Spark's
   * hidden-file convention applies — `_SUCCESS`/`.crc` etc. are skipped,
   * since a committer rewrites `_SUCCESS` even on a pure append). One
   * driver-side FileSystem listing, ZERO data read — this is the same
   * listing the scan planner makes anyway, plus (where the FileSystem
   * exposes one) a per-file content identity: HDFS serves block checksums
   * from stored metadata, checksummed local FS reads the tiny `.crc`
   * sidecar — one metadata-scale call per FILE, bounded by file count,
   * never bytes. Filesystems without one (raw local files, S3A default)
   * contribute the "-" sentinel and fall back to (length, mtime) alone.
   *
   * Closes the content sample's ~99% blind spot: an IN-PLACE rewrite of an
   * unsampled vector leaves (rows, id-xor, sampled-content-xor) intact,
   * but no real store rewrites a parquet file without changing its length,
   * mtime, or checksum. RESIDUAL CAVEAT, documented not hidden: where the
   * checksum slot is "-", a same-length in-place rewrite landing within
   * the filesystem's mtime granularity (1 s on some local filesystems)
   * whose touched rows all fall outside the 1% content sample still
   * validates — for content-addressed or mtime-less stores the 1% sample
   * is the only content guard, which is why it stays alongside.
   */
  private[similarity] def corpusListing(
      s: SparkSession, dir: String): Seq[(String, Long, Long, String)] = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/embeddings.parquet")
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    val base = p.toUri.getPath
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, Long, Long, String)]
    val it = fs.listFiles(p, true)
    while (it.hasNext) {
      val st = it.next()
      val full = st.getPath.toUri.getPath
      val rel = if (full == base) st.getPath.getName
        else full.stripPrefix(base).stripPrefix("/")
      // EVERY path segment must be non-hidden, matching the scan planner's
      // own filter: a leaf-name-only check would let `_temporary/.../part-
      // 0001.parquet` debris from a dead producer job into the digest —
      // files the scan never reads would then flip every load stale and
      // block the append tier.
      val hidden = rel.split('/')
        .exists(seg => seg.startsWith("_") || seg.startsWith("."))
      if (!hidden) {
        val chk = scala.util.Try(Option(fs.getFileChecksum(st.getPath)))
          .toOption.flatten
          .map(c => c.getBytes.map("%02x".format(_)).mkString)
          .getOrElse("-")
        out += ((rel, st.getLen, st.getModificationTime, chk))
      }
    }
    out.sortBy(_._1).toSeq
  }

  /** Order-canonical md5 of a [[corpusListing]] — the value persisted in
    * index metadata and compared at load. */
  private[similarity] def listingDigest(
      entries: Seq[(String, Long, Long, String)]): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(entries.map { case (n, l, m, c) => s"$n:$l:$m:$c" }.mkString("\n")
        .getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  /** The digest an index persisted BEFORE the checksum field existed
    * (name:len:mtime only). Validation accepts it so a fleet upgrade does
    * not flip every existing current index stale at once — the
    * simultaneous full re-index storm that a digest-format change would
    * otherwise cause on deploy. Appends still REQUIRE the checksummed
    * listing ([[appendableNewRows]] refuses pre-chk listings), so the
    * stronger per-file proof is mandatory exactly where a weaker one
    * could corrupt the index rather than merely serve it. */
  private[similarity] def legacyListingDigest(
      entries: Seq[(String, Long, Long, String)]): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(entries.map { case (n, l, m, _) => s"$n:$l:$m" }.mkString("\n")
        .getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  /** The listing is ALSO persisted row-by-row (not only as a digest) under
    * `<path>/listing`, because [[appendLsh]]/[[appendIvf]] need to verify
    * per-file that nothing the index was built over changed — a digest can
    * only say "something differs", not "only additions happened". */
  private def writeListing(s: SparkSession, path: String,
      entries: Seq[(String, Long, Long, String)]): Unit = {
    import s.implicits._
    s.createDataset(entries).toDF("name", "len", "mtime", "chk")
      .repartition(1).write.mode("overwrite").parquet(s"$path/listing")
  }

  /** Validate a loaded index against the live corpus; throws with a
    * rebuild hint on mismatch. Indexes written before the fingerprint
    * existed (no corpusRows field) are treated as UNVERIFIABLE and
    * rejected the same way — silence is the failure mode being removed. */
  private def requireCurrent(s: SparkSession, dir: String, path: String,
      meta: org.json4s.JValue): Unit = {
    import org.json4s._
    implicit val formats: Formats = DefaultFormats
    // FILE-LISTING check first: zero data read, and it catches every
    // rewrite the 1% content sample is blind to (see corpusListing).
    val savedListing = (meta \ "corpusListing").extractOpt[String]
    val liveEntries = corpusListing(s, dir)
    val liveListing = listingDigest(liveEntries)
    // pre-checksum indexes persisted the 3-field digest; accept it for
    // VALIDATION (the fingerprint check below still runs) so an upgrade
    // doesn't storm the fleet with simultaneous rebuilds — appends alone
    // insist on the checksummed listing (see legacyListingDigest).
    if (!savedListing.contains(liveListing) &&
        !savedListing.contains(legacyListingDigest(liveEntries)))
      throw new IllegalStateException(
        s"ANN index at $path is stale for corpus $dir: built over file listing " +
          s"$savedListing, corpus listing is now $liveListing — rebuild with saveLsh/saveIvf")
    val saved = (meta \ "corpusRows").extractOpt[Long]
      .zip((meta \ "corpusChecksum").extractOpt[Long])
    val live = corpusFingerprint(s, dir)
    if (!saved.contains(live))
      throw new IllegalStateException(
        s"ANN index at $path is stale for corpus $dir: built for " +
          s"(rows, checksum)=$saved, corpus is now $live — rebuild with saveLsh/saveIvf")
  }

  /** True iff the index at `path` exists, is completely written, and its
    * persisted corpus fingerprint matches `dir`'s current contents. The
    * COMMIT RECORD is the metadata (deleted first, rewritten LAST by the
    * saves — see [[clearMeta]]), so readMeta failing covers every
    * interrupted-rebuild state; the `assignments/_SUCCESS` probe is only
    * the cheap fast-path existence check before the metadata read. The
    * probe goes through the Hadoop FileSystem resolved from the path (same
    * as the save/load paths) — a `java.io.File` probe here would report
    * every HDFS/S3 index as absent and put remote callers that probe
    * first into a perpetual-rebuild loop. */
  def isCurrent(s: SparkSession, dir: String, path: String): Boolean = {
    val success = new org.apache.hadoop.fs.Path(s"$path/assignments/_SUCCESS")
    val fs = success.getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.exists(success) &&
      (try { requireCurrent(s, dir, path, readMeta(s, path)); true }
       catch { case _: Exception => false })
  }

  /** The HEAL-TIER probe: true only on a DEFINITIVE staleness verdict —
    * the commit record (metadata) is absent, which by the clearMeta/
    * meta-LAST bracket covers every interrupted rebuild, or the
    * validation itself concluded stale (requireCurrent's
    * IllegalStateException, including unverifiable pre-fingerprint
    * metadata). Anything that prevents the probe from RUNNING — an FS
    * outage, metadata unreadable UNDER a present commit record, a failed
    * fingerprint scan — PROPAGATES instead of defaulting to a verdict.
    * [[isCurrent]] deliberately swallows those into `false`, which is
    * right for a status display and WRONG for a heal decision: the heal
    * tiers clear and rewrite the commit record, and doing that on a
    * transient failure over a current index hands concurrent readers a
    * metadata-less index and cascades rebuilds (r12 ADVICE — isCurrent's
    * swallow meant the transient-failure guard never actually guarded,
    * because the same outage that failed the load failed the probe). */
  def definitelyStale(s: SparkSession, dir: String, path: String): Boolean = {
    val success = new org.apache.hadoop.fs.Path(s"$path/assignments/_SUCCESS")
    val fs = success.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!fs.exists(success)) return true
    if (!fs.exists(new org.apache.hadoop.fs.Path(s"$path/metadata"))) return true
    val meta = readMeta(s, path) // unreadable under a present record: propagate
    try { requireCurrent(s, dir, path, meta); false }
    catch { case _: IllegalStateException => true } // infra exceptions propagate
  }

  /** One persisted tier's build, append and probe verbs. */
  final case class Tier(
      save: (SparkSession, String, String) => Unit,
      append: (SparkSession, String, String) => Unit,
      topK: (SparkSession, String, String, Int, Int) => DataFrame)

  /** The tier switch, keyed by the method name the metadata records:
    * every tier-generic caller (the build-if-stale probe of
    * q58/q59/q133/q138, [[build]], [[append]]) resolves through here. */
  def tier(method: String): Tier = method match {
    case "lsh" => Tier(saveLsh(_, _, _), appendLsh, lshTopK)
    case "ivf" => Tier(saveIvf(_, _, _), appendIvf, ivfTopK)
    case "pq" => Tier(savePq(_, _, _), appendPq, pqTopK)
    case "ivfpq" => Tier(saveIvfPq(_, _, _), appendIvfPq, ivfPqTopK)
    case other => throw new IllegalArgumentException(
      s"unknown ANN index method '$other' — expected lsh, ivf, pq or ivfpq")
  }

  /** Build (or rebuild) the `method` index for `dir`'s embeddings at
    * `path`, with that tier's default knobs. */
  def build(s: SparkSession, dir: String, path: String, method: String): Unit =
    tier(method).save(s, dir, path)

  /** Index only the rows added since the last build/append; throws when
    * the change was not a pure add or the tier's drift bound refuses. */
  def append(s: SparkSession, dir: String, path: String, method: String): Unit =
    tier(method).append(s, dir, path)

  /**
   * The adds-only guard shared by [[appendLsh]]/[[appendIvf]]: proves the
   * grown corpus is a PURE SUPERSET of the one the index was built over,
   * and returns the frame of NEW rows to assign. Throws
   * IllegalStateException otherwise — callers fall back to a full rebuild.
   *
   * Two checks, both required:
   *
   *  1. every file of the build-time listing is still present with the
   *     same length and mtime (parquet appends only ADD part files; any
   *     drop/compaction/rewrite touches one) — this is airtight against
   *     in-place rewrites of OLD vectors, with no sampling caveat;
   *  2. the saved fingerprint re-derives over the corpus RESTRICTED to
   *     the already-indexed ids (a semi-join on the assignments' id set —
   *     ids only, plus the same clustered 1% content sample) — this
   *     catches a drop/renumber that check 1 can miss when old rows also
   *     live in NEW files (e.g. the grown corpus was written by a system
   *     that shuffles rows across its appended files).
   *
   * Cost: the FS listing, one ids-only scan + semi-join, ~1% of old
   * vector bytes — the same order as a load validation, nothing like the
   * full re-index an append exists to avoid.
   */
  private def appendableNewRows(s: SparkSession, dir: String, path: String,
      meta: org.json4s.JValue): (DataFrame, Seq[(String, Long, Long, String)]) = {
    import org.json4s._
    implicit val formats: Formats = DefaultFormats
    val liveListing = corpusListing(s, dir)
    val live = liveListing.toSet
    val listingDf = s.read.parquet(s"$path/listing")
    // listings written before the checksum column are UNVERIFIABLE for the
    // per-file adds-only proof — refuse (the caller's rebuild fallback
    // rewrites the listing in the current shape), same policy as
    // pre-fingerprint metadata in requireCurrent.
    if (!listingDf.columns.contains("chk"))
      throw new IllegalStateException(
        s"ANN index at $path has a pre-checksum listing — rebuild with saveLsh/saveIvf")
    val savedListing = listingDf
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getString(3)))
    val changed = savedListing.filterNot(live.contains)
    if (changed.nonEmpty)
      throw new IllegalStateException(
        s"ANN index at $path cannot be appended for corpus $dir: " +
          s"${changed.length} indexed file(s) changed or vanished (e.g. " +
          s"${changed.head}) — not a pure add; rebuild with saveLsh/saveIvf")
    val savedRows = (meta \ "corpusRows").extract[Long]
    val savedChk = (meta \ "corpusChecksum").extract[Long]
    val oldIds = s.read.parquet(s"$path/assignments").select("vec_id").distinct()
    val emb = s.read.parquet(s"$dir/embeddings.parquet")
    val old = emb.join(oldIds, Seq("vec_id"))
    val idRow = old.selectExpr(
      "count(*) AS n", "coalesce(bit_xor(xxhash64(vec_id)), 0L) AS chk").first()
    val contentChk = old.where("pmod(vec_id, 9973) < 103")
      .selectExpr("coalesce(bit_xor(xxhash64(vec_id, embedding)), 0L) AS chk")
      .first().getLong(0)
    if (idRow.getLong(0) != savedRows || (idRow.getLong(1) ^ contentChk) != savedChk)
      throw new IllegalStateException(
        s"ANN index at $path cannot be appended for corpus $dir: the indexed " +
          s"rows themselves changed (dropped/renumbered/rewritten) — " +
          s"rebuild with saveLsh/saveIvf")
    val newRows = emb.join(oldIds, Seq("vec_id"), "left_anti")
      .selectExpr("vec_id", "transform(embedding, x -> cast(x AS double)) AS e")
    (newRows, liveListing)
  }

  // ---------------------------------------------------------------- LSH --

  /** Build the LSH index for `dir`'s embeddings and persist it at `path`.
    * ALL query-side knobs (probe width, budget allocation, collision-vote
    * threshold) go into metadata too, so a loaded index reproduces the
    * configuration it was tuned for even if library defaults later move. */
  def saveLsh(
      s: SparkSession,
      dir: String,
      path: String,
      numPlanes: Int = 14,
      numTables: Int = 16,
      probesPerTable: Int = 768,
      seed: Long = 7919L,
      adaptive: Boolean = false,
      minCollisions: Int = 2,
      poolFrac: Double = 0.0): Unit = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    import org.json4s.JsonDSL._
    import org.json4s.jackson.JsonMethods._
    // Fail at BUILD time, not at every later load: adaptive and budgeted
    // probing are mutually exclusive (LshBuckets enforces the same), and an
    // index persisted with both would throw on every lshTopK forever.
    require(!(adaptive && poolFrac > 0),
      "saveLsh: adaptive and occupancy-budgeted (poolFrac > 0) probing are mutually exclusive")
    val emb = s.read.parquet(s"$dir/embeddings.parquet")
      .selectExpr("vec_id", "transform(embedding, x -> cast(x AS double)) AS e")
    val dim = emb.selectExpr("size(e)").first().getInt(0)
    val planes = AnnLsh.planes(numTables * numPlanes, dim, seed)
    val (rows, chk) = corpusFingerprint(s, dir)
    val listing = corpusListing(s, dir)
    clearMeta(s, path)
    import s.implicits._
    s.createDataset(planes.toIndexedSeq.zipWithIndex.map { case (w, i) => (i, w.toSeq) })
      .toDF("plane_id", "weights")
      .repartition(1).write.mode("overwrite").parquet(s"$path/model")
    val bc = s.sparkContext.broadcast(planes)
    val indexBuckets = ColumnBridge.column(
      LshBuckets(ColumnBridge.expression(col("e")), bc, numTables, numPlanes, 1))
    emb.select(col("vec_id"), explode(indexBuckets).as("tb"))
      .write.mode("overwrite").parquet(s"$path/assignments")
    writeListing(s, path, listing)
    // COMMIT ORDER: metadata (with the fingerprint) is written LAST — a
    // rebuild killed after metadata but before assignments would otherwise
    // leave a fresh fingerprint over OLD assignments, which validates
    // clean and silently serves the previous corpus's neighbors. With
    // metadata last, every interrupted prefix leaves either unreadable
    // metadata or an old fingerprint that mismatches the live corpus —
    // both fail loud at load and heal via the build-if-stale retry.
    writeMeta(s, path, compact(render(
      ("method" -> "lsh") ~ ("numPlanes" -> numPlanes) ~ ("numTables" -> numTables) ~
        ("probesPerTable" -> probesPerTable) ~ ("adaptive" -> adaptive) ~
        ("minCollisions" -> minCollisions) ~ ("poolFrac" -> poolFrac) ~
        ("seed" -> seed) ~ ("dim" -> dim) ~
        ("corpusRows" -> rows) ~ ("corpusChecksum" -> chk) ~
        ("corpusListing" -> listingDigest(listing)))))
  }

  /**
   * INCREMENTAL APPEND — the deployment-shaped operation for a corpus that
   * only GROWS (daily arrivals at 100 TB): assign ONLY the new vec_ids
   * against the FROZEN hyperplanes, append their (tb, vec_id) rows to
   * `assignments/`, and re-fingerprint — never re-index the old corpus.
   * Work is proportional to the ADDED data (plus a load-validation-sized
   * adds-only guard, [[appendableNewRows]]), where a full rebuild is
   * proportional to the whole corpus.
   *
   * Same crash-safe bracket as the saves: metadata is deleted FIRST and
   * rewritten LAST, so an append killed half-way leaves a metadata-less
   * index that every loader refuses and the build-if-stale retry heals.
   * Appending changes no existing assignment row and the geometry is
   * byte-identical, so an appended index is BIT-FOR-BIT the index a full
   * rebuild on the grown corpus would produce (the hyperplanes depend
   * only on (seed, dim) — AnnIndexSpec proves the equivalence). Unlike
   * [[appendIvf]] there is deliberately NO drift bound here: the
   * TUNE_r13.txt lshdrift grid measured appends of 25/50/100% of trained
   * rows on both corpora and found deltaAssign=0 (appended ≡ rebuilt,
   * structurally) with flat recall and bucket-occupancy skew — a bound
   * would refuse appends that are provably equivalent to rebuilds.
   *
   * Throws IllegalStateException when the index is unreadable (missing/
   * interrupted metadata) or the corpus change is not a pure add —
   * callers fall back to [[saveLsh]] (SparkEntry's append-or-rebuild).
   */
  def appendLsh(s: SparkSession, dir: String, path: String): Unit = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    import org.json4s._
    import org.json4s.JsonDSL._
    import org.json4s.jackson.JsonMethods._
    implicit val formats: Formats = DefaultFormats
    val meta = readMeta(s, path)
    val method = (meta \ "method").extract[String]
    if (method != "lsh")
      throw new IllegalStateException(s"appendLsh on a '$method' index at $path")
    val numPlanes = (meta \ "numPlanes").extract[Int]
    val numTables = (meta \ "numTables").extract[Int]
    val (newRows, liveListing) = appendableNewRows(s, dir, path, meta)
    val planes = s.read.parquet(s"$path/model").collect()
      .sortBy(_.getInt(0)).map(_.getSeq[Double](1).toArray)
    val bc = s.sparkContext.broadcast(planes)
    val indexBuckets = ColumnBridge.column(
      LshBuckets(ColumnBridge.expression(col("e")), bc, numTables, numPlanes, 1))
    // Materialize the new assignments BEFORE mutating `assignments/`: the
    // frame reads that very directory (the left-anti join against the
    // indexed ids), and appending to a path a live plan is scanning is
    // undefined. The persisted blocks decouple read from write.
    val newAssign = newRows
      .select(col("vec_id"), explode(indexBuckets).as("tb")).persist()
    newAssign.count()
    val (rows, chk) = corpusFingerprint(s, dir)
    clearMeta(s, path) // invalidate FIRST — see the save bracket note
    newAssign.write.mode("append").parquet(s"$path/assignments")
    newAssign.unpersist(blocking = false)
    writeListing(s, path, liveListing)
    // metadata LAST, with every original knob preserved verbatim and only
    // the corpus fingerprint/listing advanced to the grown corpus.
    writeMeta(s, path, compact(render(
      ("method" -> "lsh") ~ ("numPlanes" -> numPlanes) ~ ("numTables" -> numTables) ~
        ("probesPerTable" -> (meta \ "probesPerTable").extract[Int]) ~
        ("adaptive" -> (meta \ "adaptive").extractOrElse[Boolean](false)) ~
        ("minCollisions" -> (meta \ "minCollisions").extractOrElse[Int](1)) ~
        ("poolFrac" -> (meta \ "poolFrac").extractOrElse[Double](0.0)) ~
        ("seed" -> (meta \ "seed").extract[Long]) ~
        ("dim" -> (meta \ "dim").extract[Int]) ~
        ("corpusRows" -> rows) ~ ("corpusChecksum" -> chk) ~
        ("corpusListing" -> listingDigest(liveListing)))))
  }

  /**
   * COMPACT a persisted LSH index's assignments: every [[appendLsh]]
   * stacks another file layer under `assignments/`, and after months of
   * daily appends each probe pays the listing/open cost of thousands of
   * small files. The rewrite copies rows verbatim into a few coalesced
   * files — geometry, listing, and metadata are untouched in content —
   * so the compacted index answers BIT-FOR-BIT what the layered one did
   * (AnnIndexSpec pins assignments-set and topk equality).
   *
   * Same crash bracket as the saves/appends: the merged copy is STAGED
   * (the rewrite plan reads the directory it overwrites), metadata is
   * cleared FIRST and rewritten verbatim LAST — a compact killed
   * mid-rewrite leaves a metadata-less index every loader refuses and
   * the build-if-stale retry heals.
   */
  def compactLsh(s: SparkSession, dir: String, path: String): Unit =
    compactAssignments(s, path, "lsh")

  /** [[compactLsh]]'s contract for the IVF tier: [[appendIvf]] stacks
    * (list_id, vec_id) layers; the rewrite merges them verbatim —
    * centroids and metadata untouched. */
  def compactIvf(s: SparkSession, dir: String, path: String): Unit =
    compactAssignments(s, path, "ivf")

  /** [[compactLsh]]'s contract for the PQ tier: [[appendPq]] stacks
    * (vec_id, codes) layers; codebooks and metadata untouched. */
  def compactPq(s: SparkSession, dir: String, path: String): Unit =
    compactAssignments(s, path, "pq")

  /** [[compactLsh]]'s contract for the IVF-PQ tier: [[appendIvfPq]]
    * stacks (list_id, vec_id, codes) layers; coarse centroids, residual
    * codebooks, and metadata untouched. */
  def compactIvfPq(s: SparkSession, dir: String, path: String): Unit =
    compactAssignments(s, path, "ivfpq")

  /** The shared rewrite: every persisted tier keeps its growing table
    * under `assignments/` (the geometry — hyperplanes / centroids /
    * codebooks — is written once and never appended), so one verb
    * serves all four methods. The method check is a safety rail: the
    * caller names the tier it believes it is compacting, and a mismatch
    * means the path points at a different index. */
  private def compactAssignments(s: SparkSession, path: String,
      expect: String): Unit = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods._
    implicit val formats: Formats = DefaultFormats
    val meta = readMeta(s, path)
    val method = (meta \ "method").extract[String]
    if (method != expect)
      throw new IllegalStateException(
        s"compact for method '$expect' on a '$method' index at $path")
    val staging = s"$path/staging_compact"
    s.read.parquet(s"$path/assignments").coalesce(4)
      .write.mode("overwrite").parquet(staging)
    clearMeta(s, path)
    s.read.parquet(staging).write.mode("overwrite").parquet(s"$path/assignments")
    writeMeta(s, path, compact(render(meta)))
    val fs = new org.apache.hadoop.fs.Path(staging)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(staging), true)
  }

  /**
   * Top-k cosine neighbors from a PERSISTED LSH index: probe-side buckets
   * are computed from the loaded hyperplanes; candidate vectors come from
   * joining the loaded (tb, vec_id) assignments back to the corpus.
   * Bit-identical to [[AnnLsh.annTopK]] at the index's knobs.
   *
   * Loading VALIDATES the index's corpus fingerprint (one cheap
   * aggregation over the corpus, see [[corpusFingerprint]]) and throws on
   * mismatch — a stale index must never silently answer for a corpus that
   * changed after the build. Production callers get build-if-absent-or-
   * stale semantics by wrapping the load in a rebuild-and-retry on ANY
   * load failure (SparkEntry's buildIfStale — missing, half-built, and
   * stale indexes all surface here as exceptions); [[isCurrent]] is the
   * explicit non-throwing check for callers that want to probe first.
   */
  def lshTopK(
      s: SparkSession,
      dir: String,
      path: String,
      numProbes: Int = 5,
      k: Int = 5): DataFrame = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    import org.json4s._
    implicit val formats: Formats = DefaultFormats
    val meta = readMeta(s, path)
    requireCurrent(s, dir, path, meta)
    val numPlanes = (meta \ "numPlanes").extract[Int]
    val numTables = (meta \ "numTables").extract[Int]
    val probesPerTable = (meta \ "probesPerTable").extract[Int]
    // adaptive/minCollisions/poolFrac default for indexes written before
    // the round that introduced them; current saveLsh always persists all.
    val adaptive = (meta \ "adaptive").extractOrElse[Boolean](false)
    val minCollisions = (meta \ "minCollisions").extractOrElse[Int](1)
    val poolFrac = (meta \ "poolFrac").extractOrElse[Double](0.0)
    val planes = s.read.parquet(s"$path/model").collect()
      .sortBy(_.getInt(0)).map(_.getSeq[Double](1).toArray)
    val bc = s.sparkContext.broadcast(planes)
    graft.functions.CosineSimilarity.register(s)
    val emb = s.read.parquet(s"$dir/embeddings.parquet")
      .selectExpr("vec_id", "transform(embedding, x -> cast(x AS double)) AS e")
    val assignments = s.read.parquet(s"$path/assignments")
    // Occupancy-budgeted indexes derive their per-bucket counts from the
    // SAVED assignments (an ids-only aggregation over the index, never the
    // corpus) and the budget from the fingerprint's corpusRows — so the
    // loaded path probes bit-identically to the build session without
    // re-touching a single vector byte.
    val probeBuckets =
      if (poolFrac > 0) {
        val countRows = assignments.groupBy("tb").count().collect()
        // Long counts + budget, matching AnnLsh.bucketFrames: no Int wrap
        // of a >2^31-row bucket can break the per-probe bound.
        val counts = new Array[Long](numTables << numPlanes)
        countRows.foreach(r => counts(r.getInt(0)) = r.getLong(1))
        val corpusN = (meta \ "corpusRows").extract[Long]
        val budget = math.max(1L, math.ceil(poolFrac * corpusN).toLong)
        val bcCounts = s.sparkContext.broadcast(counts)
        ColumnBridge.column(
          LshBuckets(ColumnBridge.expression(col("e")), bc, numTables, numPlanes,
            probesPerTable, adaptive, bcCounts, budget))
      } else ColumnBridge.column(
        LshBuckets(ColumnBridge.expression(col("e")), bc, numTables, numPlanes, probesPerTable,
          adaptive))
    val probes = emb.filter(col("vec_id") < numProbes)
      .select(col("vec_id").as("q_id"), col("e").as("ae"), explode(probeBuckets).as("tb"))
    // probes × assignments is the same bucket equi-join as the direct
    // path; candidate vectors are rehydrated from the corpus (broadcast
    // probes stay the small side; the vec_id join is a plain shuffled hash
    // join that scales with the candidate pool, not the corpus). The vote
    // path is AnnLsh's own scoreVoted, so a persisted voting index runs
    // the identical plan to the live q31 default.
    val scored =
      if (minCollisions <= 1) {
        broadcast(probes)
          .join(assignments, Seq("tb"))
          .filter(col("vec_id") =!= col("q_id"))
          .join(emb.select(col("vec_id"), col("e").as("be")), Seq("vec_id"))
          .selectExpr("q_id", "vec_id AS neighbor_id", "cosine_similarity(ae, be) AS cos")
          .dropDuplicates("q_id", "neighbor_id")
      } else {
        AnnLsh.scoreVoted(probes.select("q_id", "tb"), assignments,
          emb.filter(col("vec_id") < numProbes)
            .select(col("vec_id").as("q_id"), col("e").as("ae")),
          emb.select(col("vec_id"), col("e").as("be")), minCollisions)
      }
    graft.plans.TopKPerKey.topK(scored, "q_id", "cos", "neighbor_id", k, "cosine")
      .orderBy(col("q_id"), col("rn"))
  }

  // ---------------------------------------------------------------- IVF --

  /** Build the IVF index for `dir`'s embeddings and persist it at `path`.
    * nlist/nprobe = 0 resolve corpus-adaptively ([[AnnIvf.resolveKnobs]]);
    * metadata records the RESOLVED values, so the loaded index keeps its
    * build-time operating point even if the corpus (and therefore the
    * auto rule's answer) later grows — the fingerprint guard forces a
    * rebuild in that case anyway. */
  def saveIvf(
      s: SparkSession,
      dir: String,
      path: String,
      nlist: Int = 0,
      nprobe: Int = 0,
      seed: Long = 4099L): Unit = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    import org.json4s.JsonDSL._
    import org.json4s.jackson.JsonMethods._
    val (rNlist, rNprobe) = AnnIvf.resolveKnobs(s, dir, nlist, nprobe)
    val emb = s.read.parquet(s"$dir/embeddings.parquet")
      .selectExpr("vec_id", "transform(embedding, x -> cast(x AS double)) AS e")
    val dim = emb.selectExpr("size(e)").first().getInt(0)
    // reuse the memoized quantizer fit via candidates' cache key
    val centroids = AnnIvf.fitQuantizer(s, dir, rNlist, seed)
    val (rows, chk) = corpusFingerprint(s, dir)
    val listing = corpusListing(s, dir)
    clearMeta(s, path)
    import s.implicits._
    s.createDataset(centroids.toIndexedSeq.zipWithIndex.map { case (c, i) => (i, c.toSeq) })
      .toDF("list_id", "center")
      .repartition(1).write.mode("overwrite").parquet(s"$path/model")
    val bc = s.sparkContext.broadcast(centroids)
    val assignList = element_at(ColumnBridge.column(
      IvfLists(ColumnBridge.expression(col("e")), bc, 1)), 1)
    emb.select(col("vec_id"), assignList.as("list_id"))
      .write.mode("overwrite").parquet(s"$path/assignments")
    writeListing(s, path, listing)
    // metadata LAST — see saveLsh's commit-order note: an interrupted
    // rebuild must never leave a fresh fingerprint over old artifacts.
    // trainedRows records the corpus size the GEOMETRY was fit at; appends
    // advance corpusRows but never trainedRows, so the drift bound below
    // always measures growth against the k-means fit, not the last append.
    writeMeta(s, path, compact(render(
      ("method" -> "ivf") ~ ("nlist" -> rNlist) ~ ("nprobe" -> rNprobe) ~
        ("seed" -> seed) ~ ("dim" -> dim) ~ ("trainedRows" -> rows) ~
        ("corpusRows" -> rows) ~ ("corpusChecksum" -> chk) ~
        ("corpusListing" -> listingDigest(listing)))))
  }

  /** Maximum live-corpus growth over the geometry-training corpus before
    * [[appendIvf]] refuses and the heal tier falls back to a full rebuild.
    * MEASURED, not guessed (TUNE_r12.txt "ivfdrift"): with frozen
    * centroids and build-time nlist, +25% appended rows holds the
    * (recall >= 0.85, scan <= 0.25) operating box on both gated corpora;
    * +50% breaks the scan ceiling on sf0.001 (0.302 — the undersized list
    * count over-occupies lists, so COST decays before recall) and sits on
    * both box edges on sf0.1; +100% breaks the recall floor outright
    * (0.816 / 0.768). The bound caps the silent part of the decay: past
    * it, the index rebuilds with refit geometry and re-resolved knobs. */
  private[similarity] val ivfDriftBound = 1.25

  /**
   * IVF twin of [[appendLsh]]: new vec_ids are assigned to their nearest
   * FROZEN centroid (no quantizer refit — the loaded geometry stays the
   * index's operating point) and appended to the inverted lists, with the
   * same adds-only guard and delete-meta/write-meta-last crash bracket.
   * NOTE the deliberate semantic difference from a full rebuild: a rebuild
   * on the grown corpus would REFIT k-means (different centroids), so for
   * IVF "append ≡ rebuild" holds for the assignments given the geometry,
   * not for the geometry itself — exactly what an incremental index means.
   * That frozen geometry is also why the append tier is BOUNDED: once the
   * live corpus exceeds [[ivfDriftBound]] x the rows the geometry was
   * trained at, this method refuses (throws) and the heal tier rebuilds —
   * past that measured knee the undersized nlist and stale centroids decay
   * scan cost and recall silently (TUNE_r12.txt "ivfdrift").
   */
  def appendIvf(s: SparkSession, dir: String, path: String): Unit = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    import org.json4s._
    import org.json4s.JsonDSL._
    import org.json4s.jackson.JsonMethods._
    implicit val formats: Formats = DefaultFormats
    val meta = readMeta(s, path)
    val method = (meta \ "method").extract[String]
    if (method != "ivf")
      throw new IllegalStateException(s"appendIvf on a '$method' index at $path")
    val (newRows, liveListing) = appendableNewRows(s, dir, path, meta)
    // DRIFT BOUND — checked before ANY mutation, so a refusal leaves the
    // index intact and loadable for the current corpus while the caller
    // rebuilds. Indexes persisted before trainedRows existed fall back to
    // their corpusRows (the size at the last commit — conservative: it
    // can only refuse EARLIER than the true training size would).
    val trainedRows = (meta \ "trainedRows").extractOpt[Long]
      .getOrElse((meta \ "corpusRows").extract[Long])
    val (rows, chk) = corpusFingerprint(s, dir)
    if (rows > ivfDriftBound * trainedRows)
      throw new IllegalStateException(
        s"ANN index at $path cannot be appended: corpus grew to $rows rows " +
          s"against geometry trained at $trainedRows (> ${ivfDriftBound}x) — " +
          s"recall/scan decay past the measured knee (TUNE_r12.txt ivfdrift); " +
          s"rebuild with saveIvf")
    val centroids = s.read.parquet(s"$path/model").collect()
      .sortBy(_.getInt(0)).map(_.getSeq[Double](1).toArray)
    val bc = s.sparkContext.broadcast(centroids)
    val assignList = element_at(ColumnBridge.column(
      IvfLists(ColumnBridge.expression(col("e")), bc, 1)), 1)
    // materialize before mutating the directory the plan reads — see
    // appendLsh.
    val newAssign = newRows.select(col("vec_id"), assignList.as("list_id")).persist()
    newAssign.count()
    clearMeta(s, path)
    newAssign.write.mode("append").parquet(s"$path/assignments")
    newAssign.unpersist(blocking = false)
    writeListing(s, path, liveListing)
    writeMeta(s, path, compact(render(
      ("method" -> "ivf") ~ ("nlist" -> (meta \ "nlist").extract[Int]) ~
        ("nprobe" -> (meta \ "nprobe").extract[Int]) ~
        ("seed" -> (meta \ "seed").extract[Long]) ~
        ("dim" -> (meta \ "dim").extract[Int]) ~
        ("trainedRows" -> trainedRows) ~
        ("corpusRows" -> rows) ~ ("corpusChecksum" -> chk) ~
        ("corpusListing" -> listingDigest(liveListing)))))
  }

  // ----------------------------------------------------------------- PQ --

  /** Maximum live-corpus growth over the codebook-training corpus before
    * [[appendPq]] refuses and the heal tier rebuilds. MEASURED
    * (TUNE_r14.txt pqdrift, the ivfdrift protocol): with frozen codebooks
    * and the training corpus's re-rank depth, the 0.85 recall floor holds
    * through +50% appended rows on both gated corpora (0.888/0.880),
    * thins at +100% (0.920/0.864) and breaks at +200% (0.800) — 1.5x is
    * one notch conservative of the observed knee, the same discipline as
    * [[ivfDriftBound]]. */
  private[similarity] val pqDriftBound = 1.5

  /** Build the PQ index for `dir`'s embeddings and persist it at `path` —
    * the variant whose whole POINT is the persisted artifact: the m-byte
    * codes table (assignments) plus the sub-centroid codebooks (geometry)
    * are what still fits in cluster memory at 100 TB, and recomputing
    * them per session throws that away. Layout matches the LSH/IVF tier:
    *
    *  - `model/` — (sub_id, code_id, center): m × k sub-centroids;
    *    doubles round-trip parquet bit-exactly, so a loaded codebook
    *    encodes and LUT-builds bit-identically to the build session;
    *  - `assignments/` — (vec_id, codes array<tinyint>): the m-byte code
    *    word per corpus vector — unlike LSH/IVF the assignment IS the
    *    compressed representation the scan reads, not a pointer into the
    *    corpus;
    *  - metadata carries (m, k, seed, dim, trainedRows) plus the same
    *    corpus fingerprint/listing the other methods persist, written
    *    LAST under the delete-meta-first crash bracket.
    */
  def savePq(
      s: SparkSession,
      dir: String,
      path: String,
      m: Int = AnnPq.defaultM,
      k: Int = AnnPq.defaultK,
      seed: Long = 4099L): Unit = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    import org.json4s.JsonDSL._
    import org.json4s.jackson.JsonMethods._
    val books = AnnPq.fitCodebooks(s, dir, m, k, seed)
    val emb = s.read.parquet(s"$dir/embeddings.parquet")
      .selectExpr("vec_id", "transform(embedding, x -> cast(x AS double)) AS e")
    val dim = emb.selectExpr("size(e)").first().getInt(0)
    val (rows, chk) = corpusFingerprint(s, dir)
    val listing = corpusListing(s, dir)
    clearMeta(s, path)
    import s.implicits._
    s.createDataset(for {
      (book, sub) <- books.toIndexedSeq.zipWithIndex
      (cent, code) <- book.toIndexedSeq.zipWithIndex
    } yield (sub, code, cent.toSeq))
      .toDF("sub_id", "code_id", "center")
      .repartition(1).write.mode("overwrite").parquet(s"$path/model")
    val bc = s.sparkContext.broadcast(books)
    emb.select(col("vec_id"),
        ColumnBridge.column(PqCodes(ColumnBridge.expression(col("e")), bc)).as("codes"))
      .write.mode("overwrite").parquet(s"$path/assignments")
    writeListing(s, path, listing)
    // metadata LAST — see saveLsh's commit-order note. trainedRows is the
    // corpus size the codebook GEOMETRY was fit at; appends advance
    // corpusRows only, so the drift bound always measures growth against
    // the k-means fits.
    writeMeta(s, path, compact(render(
      ("method" -> "pq") ~ ("m" -> m) ~ ("k" -> k) ~
        ("seed" -> seed) ~ ("dim" -> dim) ~ ("trainedRows" -> rows) ~
        ("corpusRows" -> rows) ~ ("corpusChecksum" -> chk) ~
        ("corpusListing" -> listingDigest(listing)))))
  }

  /** Load the persisted codebooks as books(sub)(code) = centroid. */
  private def loadBooks(s: SparkSession, path: String, m: Int,
      k: Int): Array[Array[Array[Double]]] = {
    val rows = s.read.parquet(s"$path/model")
      .collect().sortBy(r => (r.getInt(0), r.getInt(1)))
    require(rows.length == m * k,
      s"PQ model at $path has ${rows.length} sub-centroids, expected ${m * k}")
    rows.grouped(k).map(_.map(_.getSeq[Double](2).toArray).toArray).toArray
  }

  /**
   * PQ twin of [[appendLsh]]/[[appendIvf]]: encode ONLY the new vec_ids
   * against the FROZEN codebooks and append their code words to
   * `assignments/` — work proportional to the added data. Same adds-only
   * guard and delete-meta/write-meta-last bracket. Like IVF (and unlike
   * LSH), the append tier is BOUNDED: frozen codebooks mean new vectors
   * are quantized by geometry fit on the smaller corpus AND the re-rank
   * pool keeps the training corpus's depth, so recall decays with growth
   * — [[pqDriftBound]] refuses past the measured knee and the heal tier
   * rebuilds with refit codebooks.
   */
  def appendPq(s: SparkSession, dir: String, path: String): Unit = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    import org.json4s._
    import org.json4s.JsonDSL._
    import org.json4s.jackson.JsonMethods._
    implicit val formats: Formats = DefaultFormats
    val meta = readMeta(s, path)
    val method = (meta \ "method").extract[String]
    if (method != "pq")
      throw new IllegalStateException(s"appendPq on a '$method' index at $path")
    val m = (meta \ "m").extract[Int]
    val k = (meta \ "k").extract[Int]
    val (newRows, liveListing) = appendableNewRows(s, dir, path, meta)
    // drift bound BEFORE any mutation — a refusal leaves the index
    // intact and loadable for the current corpus while the caller rebuilds
    val trainedRows = (meta \ "trainedRows").extract[Long]
    val (rows, chk) = corpusFingerprint(s, dir)
    if (rows > pqDriftBound * trainedRows)
      throw new IllegalStateException(
        s"ANN index at $path cannot be appended: corpus grew to $rows rows " +
          s"against codebooks trained at $trainedRows (> ${pqDriftBound}x) — " +
          s"recall decays past the measured knee (TUNE_r14.txt pqdrift); " +
          s"rebuild with savePq")
    val books = loadBooks(s, path, m, k)
    val bc = s.sparkContext.broadcast(books)
    // materialize before mutating the directory the plan reads — see
    // appendLsh.
    val newAssign = newRows.select(col("vec_id"),
      ColumnBridge.column(PqCodes(ColumnBridge.expression(col("e")), bc)).as("codes"))
      .persist()
    newAssign.count()
    clearMeta(s, path)
    newAssign.write.mode("append").parquet(s"$path/assignments")
    newAssign.unpersist(blocking = false)
    writeListing(s, path, liveListing)
    writeMeta(s, path, compact(render(
      ("method" -> "pq") ~ ("m" -> m) ~ ("k" -> k) ~
        ("seed" -> (meta \ "seed").extract[Long]) ~
        ("dim" -> (meta \ "dim").extract[Int]) ~
        ("trainedRows" -> trainedRows) ~
        ("corpusRows" -> rows) ~ ("corpusChecksum" -> chk) ~
        ("corpusListing" -> listingDigest(liveListing)))))
  }

  /**
   * Top-k cosine neighbors from a PERSISTED PQ index: per-probe ADC
   * lookup tables are built from the LOADED codebooks, the compressed
   * scan reads the LOADED codes table (the float column is never touched
   * on the scan path — the whole point of the artifact), and only the
   * top-`rerank` pool per probe rehydrates vectors for the exact-cosine
   * re-rank. Bit-identical to [[AnnPq.annTopK]] at the index's knobs
   * (AnnIndexSpec bit-compares): codebooks round-trip parquet exactly,
   * the code words ARE the persisted assignments, and the re-rank depth
   * resolves from the metadata's trainedRows — an appended index keeps
   * the pool it was built with, exactly the decay [[pqDriftBound]]
   * bounds. Corpus-fingerprint-validated like [[lshTopK]]: throws on a
   * stale index.
   */
  def pqTopK(
      s: SparkSession,
      dir: String,
      path: String,
      numProbes: Int = 5,
      k: Int = 5): DataFrame = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    import org.json4s._
    implicit val formats: Formats = DefaultFormats
    val meta = readMeta(s, path)
    requireCurrent(s, dir, path, meta)
    val m = (meta \ "m").extract[Int]
    val kCodes = (meta \ "k").extract[Int]
    val rr = AnnPq.autoRerank((meta \ "trainedRows").extract[Long])
    val books = loadBooks(s, path, m, kCodes)
    val bc = s.sparkContext.broadcast(books)
    graft.functions.CosineSimilarity.register(s)
    val emb = s.read.parquet(s"$dir/embeddings.parquet")
      .selectExpr("vec_id", "transform(embedding, x -> cast(x AS double)) AS e")
    val probes = emb.filter(col("vec_id") < numProbes)
      .select(col("vec_id").as("q_id"),
        ColumnBridge.column(PqLut(ColumnBridge.expression(col("e")), bc)).as("lut"))
    val codes = s.read.parquet(s"$path/assignments")
    val scanned = broadcast(probes).crossJoin(codes)
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("neighbor_id"),
        ColumnBridge.column(PqAdc(
          ColumnBridge.expression(col("codes")),
          ColumnBridge.expression(col("lut")), kCodes)).as("adc"))
    val pool = graft.plans.TopKPerKey.topK(
      scanned, "q_id", "adc", "neighbor_id", rr, "adc", roundTo = 9)
    val probeVecs = emb.filter(col("vec_id") < numProbes)
      .select(col("vec_id").as("q_id"), col("e").as("ae"))
    val exact = emb.join(broadcast(pool.select(col("q_id"), col("neighbor_id"))),
        col("vec_id") === col("neighbor_id"))
      .join(broadcast(probeVecs), Seq("q_id"))
      .selectExpr("q_id", "neighbor_id", "cosine_similarity(ae, e) AS cos")
    graft.plans.TopKPerKey.topK(exact, "q_id", "cos", "neighbor_id", k, "cosine")
      .orderBy(col("q_id"), col("rn"))
  }

  // -------------------------------------------------------------- IVF-PQ --

  /** Build the COMPOSED IVF-PQ index at `path` — the artifact FAISS
    * ships as `IVFx,PQy`: coarse centroids AND residual codebooks in
    * `model/` (tagged by a `kind` column: 'coarse' rows are (list_id,
    * center), 'residual' rows are (sub_id, code_id, center) flattened
    * into the same shape), `(vec_id, list_id, codes)` in `assignments/`
    * — the scan reads list-pruned 16-byte rows and never the floats.
    * Same fingerprint/listing guards and meta-LAST bracket as the other
    * methods. */
  def saveIvfPq(
      s: SparkSession,
      dir: String,
      path: String,
      nlist: Int = 0,
      nprobe: Int = 0,
      m: Int = AnnPq.defaultM,
      k: Int = AnnPq.defaultK,
      seed: Long = 4099L): Unit = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    import org.json4s.JsonDSL._
    import org.json4s.jackson.JsonMethods._
    val (rNlist, rNprobe) = AnnIvf.resolveKnobs(s, dir, nlist, nprobe)
    val centroids = AnnIvf.fitQuantizer(s, dir, rNlist, seed)
    val books = AnnIvfPq.fitResidualBooks(s, dir, rNlist, m, k, seed)
    val emb = s.read.parquet(s"$dir/embeddings.parquet")
      .selectExpr("vec_id", "transform(embedding, x -> cast(x AS double)) AS e")
    val dim = emb.selectExpr("size(e)").first().getInt(0)
    val (rows, chk) = corpusFingerprint(s, dir)
    val listing = corpusListing(s, dir)
    clearMeta(s, path)
    import s.implicits._
    val coarse = centroids.toIndexedSeq.zipWithIndex
      .map { case (c, i) => ("coarse", i, 0, c.toSeq) }
    val residual = for {
      (book, sub) <- books.toIndexedSeq.zipWithIndex
      (cent, code) <- book.toIndexedSeq.zipWithIndex
    } yield ("residual", sub, code, cent.toSeq)
    s.createDataset(coarse ++ residual)
      .toDF("kind", "id_a", "id_b", "center")
      .repartition(1).write.mode("overwrite").parquet(s"$path/model")
    val bcC = s.sparkContext.broadcast(centroids)
    val bcB = s.sparkContext.broadcast(books)
    val enc = ColumnBridge.column(IvfPqCodes(ColumnBridge.expression(col("e")), bcC, bcB))
    emb.select(col("vec_id"), enc.as("enc"))
      .select(col("vec_id"), col("enc.list_id").as("list_id"),
        col("enc.codes").as("codes"))
      .write.mode("overwrite").parquet(s"$path/assignments")
    writeListing(s, path, listing)
    writeMeta(s, path, compact(render(
      ("method" -> "ivfpq") ~ ("nlist" -> rNlist) ~ ("nprobe" -> rNprobe) ~
        ("m" -> m) ~ ("k" -> k) ~
        ("seed" -> seed) ~ ("dim" -> dim) ~ ("trainedRows" -> rows) ~
        ("corpusRows" -> rows) ~ ("corpusChecksum" -> chk) ~
        ("corpusListing" -> listingDigest(listing)))))
  }

  private def loadIvfPqGeometry(s: SparkSession, path: String, nlist: Int,
      m: Int, k: Int): (Array[Array[Double]], Array[Array[Array[Double]]]) = {
    val rows = s.read.parquet(s"$path/model").collect()
    val coarse = rows.filter(_.getString(0) == "coarse")
      .sortBy(_.getInt(1)).map(_.getSeq[Double](3).toArray)
    require(coarse.length == nlist,
      s"IVF-PQ model at $path has ${coarse.length} coarse centroids, expected $nlist")
    val residual = rows.filter(_.getString(0) == "residual")
      .sortBy(r => (r.getInt(1), r.getInt(2)))
    require(residual.length == m * k,
      s"IVF-PQ model at $path has ${residual.length} residual sub-centroids, expected ${m * k}")
    (coarse, residual.grouped(k).map(_.map(_.getSeq[Double](3).toArray).toArray).toArray)
  }

  /**
   * IVF-PQ append: encode ONLY the new vec_ids against BOTH frozen
   * geometries. Bounded by [[ivfDriftBound]] (1.25×), the BINDING bound
   * of the composition — MEASURED DIRECTLY on the composed path
   * (TUNE_r15 ivfpqdrift: +25% appended rows holds the (recall ≥ 0.85,
   * scan ≤ 0.25) box on both gated corpora, +50% breaks the scan
   * ceiling / sits on both edges, +100% breaks recall at 0.816/0.736 —
   * the same knee as plain IVF, with the residual codebooks' own 1.5×
   * knee (TUNE_r14 pqdrift) never the binding constraint).
   */
  def appendIvfPq(s: SparkSession, dir: String, path: String): Unit = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    import org.json4s._
    import org.json4s.JsonDSL._
    import org.json4s.jackson.JsonMethods._
    implicit val formats: Formats = DefaultFormats
    val meta = readMeta(s, path)
    val method = (meta \ "method").extract[String]
    if (method != "ivfpq")
      throw new IllegalStateException(s"appendIvfPq on a '$method' index at $path")
    val nlist = (meta \ "nlist").extract[Int]
    val m = (meta \ "m").extract[Int]
    val k = (meta \ "k").extract[Int]
    val (newRows, liveListing) = appendableNewRows(s, dir, path, meta)
    val trainedRows = (meta \ "trainedRows").extract[Long]
    val (rows, chk) = corpusFingerprint(s, dir)
    if (rows > ivfDriftBound * trainedRows)
      throw new IllegalStateException(
        s"ANN index at $path cannot be appended: corpus grew to $rows rows " +
          s"against geometry trained at $trainedRows (> ${ivfDriftBound}x) — " +
          s"the coarse quantizer's scan/recall decay past the measured knee " +
          s"(TUNE_r12.txt ivfdrift) binds the composition; rebuild with saveIvfPq")
    val (coarse, books) = loadIvfPqGeometry(s, path, nlist, m, k)
    val bcC = s.sparkContext.broadcast(coarse)
    val bcB = s.sparkContext.broadcast(books)
    val enc = ColumnBridge.column(IvfPqCodes(ColumnBridge.expression(col("e")), bcC, bcB))
    val newAssign = newRows.select(col("vec_id"), enc.as("enc"))
      .select(col("vec_id"), col("enc.list_id").as("list_id"),
        col("enc.codes").as("codes"))
      .persist()
    newAssign.count()
    clearMeta(s, path)
    newAssign.write.mode("append").parquet(s"$path/assignments")
    newAssign.unpersist(blocking = false)
    writeListing(s, path, liveListing)
    writeMeta(s, path, compact(render(
      ("method" -> "ivfpq") ~ ("nlist" -> nlist) ~
        ("nprobe" -> (meta \ "nprobe").extract[Int]) ~
        ("m" -> m) ~ ("k" -> k) ~
        ("seed" -> (meta \ "seed").extract[Long]) ~
        ("dim" -> (meta \ "dim").extract[Int]) ~
        ("trainedRows" -> trainedRows) ~
        ("corpusRows" -> rows) ~ ("corpusChecksum" -> chk) ~
        ("corpusListing" -> listingDigest(liveListing)))))
  }

  /** Top-k from the PERSISTED IVF-PQ index — probe lists and <q,c_l>
    * from the loaded coarse centroids, residual LUTs from the loaded
    * codebooks, the scan over the loaded (list_id, codes) rows only.
    * Bit-identical to [[AnnIvfPq.annTopK]] at the index's knobs
    * (AnnIndexSpec); validated like every other method. */
  def ivfPqTopK(
      s: SparkSession,
      dir: String,
      path: String,
      numProbes: Int = 5,
      k: Int = 5): DataFrame = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    import org.json4s._
    implicit val formats: Formats = DefaultFormats
    val meta = readMeta(s, path)
    requireCurrent(s, dir, path, meta)
    val nlist = (meta \ "nlist").extract[Int]
    val nprobe = (meta \ "nprobe").extract[Int]
    val m = (meta \ "m").extract[Int]
    val kCodes = (meta \ "k").extract[Int]
    val rr = AnnPq.autoRerank((meta \ "trainedRows").extract[Long])
    val (coarse, books) = loadIvfPqGeometry(s, path, nlist, m, kCodes)
    val bcC = s.sparkContext.broadcast(coarse)
    val bcB = s.sparkContext.broadcast(books)
    graft.functions.CosineSimilarity.register(s)
    val emb = s.read.parquet(s"$dir/embeddings.parquet")
      .selectExpr("vec_id", "transform(embedding, x -> cast(x AS double)) AS e")
    val probeLists = ColumnBridge.column(
      IvfLists(ColumnBridge.expression(col("e")), bcC, nprobe))
    val qdotc = ColumnBridge.column(
      IvfCentroidDots(ColumnBridge.expression(col("e")), bcC))
    val probes = emb.filter(col("vec_id") < numProbes)
      .select(col("vec_id").as("q_id"),
        ColumnBridge.column(PqLut(ColumnBridge.expression(col("e")), bcB)).as("lut"),
        qdotc.as("cdots"),
        explode(probeLists).as("list_id"))
      .selectExpr("q_id", "lut", "list_id", "element_at(cdots, list_id + 1) AS qdotc")
    val codes = s.read.parquet(s"$path/assignments")
    val scanned = broadcast(probes).join(codes, Seq("list_id"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("neighbor_id"),
        (col("qdotc") + ColumnBridge.column(PqAdc(
          ColumnBridge.expression(col("codes")),
          ColumnBridge.expression(col("lut")), kCodes))).as("adc"))
    val pool = graft.plans.TopKPerKey.topK(
      scanned, "q_id", "adc", "neighbor_id", rr, "adc", roundTo = 9)
    val probeVecs = emb.filter(col("vec_id") < numProbes)
      .select(col("vec_id").as("q_id"), col("e").as("ae"))
    val exact = emb.join(broadcast(pool.select(col("q_id"), col("neighbor_id"))),
        col("vec_id") === col("neighbor_id"))
      .join(broadcast(probeVecs), Seq("q_id"))
      .selectExpr("q_id", "neighbor_id", "cosine_similarity(ae, e) AS cos")
    graft.plans.TopKPerKey.topK(exact, "q_id", "cos", "neighbor_id", k, "cosine")
      .orderBy(col("q_id"), col("rn"))
  }

  /**
   * Top-k cosine neighbors from a PERSISTED IVF index — loaded centroids
   * assign probe lists; loaded (list_id, vec_id) assignments supply the
   * candidates. Bit-identical to [[AnnIvf.annTopK]] at the index's knobs.
   * Corpus-fingerprint-validated like [[lshTopK]]: throws on a stale index.
   */
  def ivfTopK(
      s: SparkSession,
      dir: String,
      path: String,
      numProbes: Int = 5,
      k: Int = 5): DataFrame = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    import org.json4s._
    implicit val formats: Formats = DefaultFormats
    val meta = readMeta(s, path)
    requireCurrent(s, dir, path, meta)
    val nprobe = (meta \ "nprobe").extract[Int]
    // sort driver-side: the model is kilobytes, and an .orderBy would pay
    // a full shuffle stage per query lap (the r16 q59 DIAG's geometry
    // phase — same at every geometry load site in this file)
    val centroids = s.read.parquet(s"$path/model").collect()
      .sortBy(_.getInt(0)).map(_.getSeq[Double](1).toArray)
    val bc = s.sparkContext.broadcast(centroids)
    graft.functions.CosineSimilarity.register(s)
    val emb = s.read.parquet(s"$dir/embeddings.parquet")
      .selectExpr("vec_id", "transform(embedding, x -> cast(x AS double)) AS e")
    val probeLists = ColumnBridge.column(
      IvfLists(ColumnBridge.expression(col("e")), bc, nprobe))
    val probes = emb.filter(col("vec_id") < numProbes)
      .select(col("vec_id").as("q_id"), col("e").as("ae"), explode(probeLists).as("list_id"))
    val assignments = s.read.parquet(s"$path/assignments")
    val scored = broadcast(probes)
      .join(assignments, Seq("list_id"))
      .filter(col("vec_id") =!= col("q_id"))
      .join(emb.select(col("vec_id"), col("e").as("be")), Seq("vec_id"))
      .selectExpr("q_id", "vec_id AS neighbor_id", "cosine_similarity(ae, be) AS cos")
    graft.plans.TopKPerKey.topK(scored, "q_id", "cos", "neighbor_id", k, "cosine")
      .orderBy(col("q_id"), col("rn"))
  }
}
