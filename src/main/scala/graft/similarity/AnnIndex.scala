package graft.similarity

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.queries.StoreMeta

/**
 * The persist-and-probe core of the four ANN tiers. A real deployment
 * builds an index ONCE next to the data and every query session loads
 * it, instead of refitting the geometry per session (the live
 * [[AnnTier.topK]]). A tier is only its geometry and its encoder — the
 * [[AnnTier]] contract ([[LshTier]], [[IvfTier]], [[PqTier]],
 * [[IvfPqTier]]) — and this object writes the lifecycle once, over it:
 * [[build]], [[append]], [[compact]] and [[topK]], each checking first
 * that the caller's method is the one the index records.
 *
 * Layout under `<path>/`, the same for every tier:
 *
 *  - `metadata.json` — one JSON object, written and read through
 *    [[StoreMeta.putRecord]]/[[StoreMeta.record]] (no Spark job): the
 *    method, the tier's knobs (including query-side ones such as LSH's
 *    vote threshold, which change results, so a loader never guesses
 *    them), `dim`, `trainedRows` for the tiers with a drift bound, the
 *    corpus fingerprint, and the corpus file listing row by row
 *    ([[corpusListing]]) for the staleness and adds-only guards. It is the
 *    COMMIT RECORD;
 *  - `model/` — the geometry: (plane_id, weights) hyperplanes for LSH,
 *    (list_id, center) centroids for IVF, (sub_id, code_id, center)
 *    codebooks for PQ, and for IVF-PQ both, tagged by a `kind` column.
 *    Doubles round-trip parquet bit-exactly, so a loaded geometry probes
 *    and encodes bit-identically to the build session's;
 *  - `assignments/` — the index proper, one row set per corpus vector:
 *    (vec_id, tb) per LSH table, (vec_id, list_id) for IVF,
 *    (vec_id, codes) for PQ, (vec_id, list_id, codes) for IVF-PQ. The
 *    exact-scored tiers never duplicate embeddings — queries join back to
 *    the corpus on vec_id, which stays the single source of truth for
 *    vectors; the PQ codes ARE the compressed representation the scan
 *    reads.
 *
 * An index written before `metadata.json` (a Spark-text `metadata/` dir
 * and a `listing/` parquet) has no commit record, so it reads stale and
 * the heal rebuilds it once; the old dirs stay in place unread.
 *
 * CRASH BRACKET: every verb that mutates an index deletes the metadata
 * FIRST and writes it LAST. Every interrupted prefix —
 * model written, assignments half-written or half-appended — is then an
 * index the loaders refuse (no metadata, or an old fingerprint that
 * mismatches the live corpus), and the build-if-stale retry heals it; a
 * fresh fingerprint can never validate over old artifacts.
 *
 * ADDS-ONLY GUARD: [[append]] indexes only the rows added since the last
 * commit, against the FROZEN geometry, after [[appendableNewRows]] proves
 * the grown corpus a pure superset of the indexed one. Appending changes
 * no existing assignment row, so for LSH — whose hyperplanes depend only
 * on (seed, dim) — an appended index is bit-for-bit a rebuild. The k-means
 * tiers freeze their geometry instead, so their appends are bounded: past
 * [[ivfDriftBound]] (IVF, IVF-PQ) or [[pqDriftBound]] (PQ) times the rows
 * the geometry was trained at, the append refuses before touching
 * anything and the heal tier rebuilds.
 *
 * At 100 TB the assignments write/read is an embarrassingly parallel
 * column scan; the geometry is kilobytes. AnnIndexSpec proves the
 * round-trip: a loaded index reproduces the live top-k bit-for-bit.
 */
object AnnIndex {

  private def metaPath(path: String): String = s"$path/metadata.json"

  /** Label a verb's Spark jobs `graft:ann:<method>:<verb>`. */
  private def phase[T](s: SparkSession, method: String, verb: String)(body: => T): T =
    graft.JobPhase(s.sparkContext, s"ann:$method:$verb")(body)

  /** The commit record, None when absent. */
  private def record(s: SparkSession, path: String): Option[JValue] =
    StoreMeta.record(s, metaPath(path)).map(JsonMethods.parse(_))

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

  /** One [[corpusListing]] row: (relative name, length, mtime, checksum). */
  private[similarity] type Entry = (String, Long, Long, String)

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
  private[similarity] def corpusListing(s: SparkSession, dir: String): Seq[Entry] = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/embeddings.parquet")
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    val base = p.toUri.getPath
    val out = scala.collection.mutable.ArrayBuffer.empty[Entry]
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

  private def listingJson(entries: Seq[Entry]): JArray =
    JArray(entries.map { case (n, l, m, c) =>
      JArray(List(JString(n), JInt(l), JInt(m), JString(c))) }.toList)

  /** The listing the record saved, in [[corpusListing]]'s order. */
  private def listingOf(meta: JValue): Seq[Entry] = meta \ "corpusListing" match {
    case JArray(rows) => rows.map { row =>
      val JArray(List(JString(n), JInt(l), JInt(m), JString(c))) = row
      (n, l.toLong, m.toLong, c)
    }
    case _ => Nil
  }

  /** The first entry of `a` that `b` lacks ("-" when none), for the stale
    * message. */
  private def firstMissing(a: Seq[Entry], b: Seq[Entry]): String =
    a.find(e => !b.contains(e)).fold("-")(_.toString)

  /** Validate a loaded index against the live corpus; throws with a
    * rebuild hint on mismatch. Indexes written before the fingerprint
    * existed (no corpusRows field) are treated as UNVERIFIABLE and
    * rejected the same way — silence is the failure mode being removed. */
  private def requireCurrent(s: SparkSession, dir: String, path: String,
      meta: JValue): Unit = {
    implicit val formats: Formats = DefaultFormats
    // FILE-LISTING check first: zero data read, and it catches every
    // rewrite the 1% content sample is blind to (see corpusListing).
    val savedListing = listingOf(meta)
    val liveListing = corpusListing(s, dir)
    if (savedListing != liveListing)
      throw new IllegalStateException(
        s"ANN index at $path is stale for corpus $dir: built over file listing " +
          s"${firstMissing(savedListing, liveListing)}, corpus listing is now " +
          s"${firstMissing(liveListing, savedListing)} — ${rebuildHint(meta)}")
    val saved = (meta \ "corpusRows").extractOpt[Long]
      .zip((meta \ "corpusChecksum").extractOpt[Long])
    val live = corpusFingerprint(s, dir)
    if (!saved.contains(live))
      throw new IllegalStateException(
        s"ANN index at $path is stale for corpus $dir: built for " +
          s"(rows, checksum)=$saved, corpus is now $live — ${rebuildHint(meta)}")
  }

  /** True iff the index at `path` exists, is completely written, and its
    * persisted corpus fingerprint matches `dir`'s current contents. The
    * COMMIT RECORD is `metadata.json` (deleted first, rewritten LAST by
    * the saves), so its absence covers every interrupted-rebuild state;
    * the `assignments/_SUCCESS` probe is only the cheap fast-path
    * existence check before the metadata read. Both go through the Hadoop
    * FileSystem resolved from the path (same as the save/load paths) — a
    * local-file probe here would report every HDFS/S3 index as absent and
    * put remote callers that probe first into a perpetual-rebuild loop. */
  def isCurrent(s: SparkSession, dir: String, path: String): Boolean = {
    val success = new org.apache.hadoop.fs.Path(s"$path/assignments/_SUCCESS")
    val fs = success.getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.exists(success) &&
      (try record(s, path).exists { m =>
         phase(s, methodOf(m), "isCurrent")(requireCurrent(s, dir, path, m)); true
       }
       catch { case _: Exception => false })
  }

  /** The HEAL-TIER probe: true only on a DEFINITIVE staleness verdict —
    * the commit record (`metadata.json`) is absent, which by the
    * delete-first/write-LAST bracket covers every interrupted rebuild and
    * every index written before the record existed, or the
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
    !fs.exists(success) || record(s, path).forall { m => // unreadable: propagate
      try { phase(s, methodOf(m), "definitelyStale")(requireCurrent(s, dir, path, m)); false }
      catch { case _: IllegalStateException => true } // infra exceptions propagate
    }
  }

  /**
   * The adds-only guard of [[append]]: proves the
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
      meta: JValue): (DataFrame, Seq[Entry]) = {
    implicit val formats: Formats = DefaultFormats
    val liveListing = corpusListing(s, dir)
    val live = liveListing.toSet
    val changed = listingOf(meta).filterNot(live.contains)
    if (changed.nonEmpty)
      throw new IllegalStateException(
        s"ANN index at $path cannot be appended for corpus $dir: " +
          s"${changed.length} indexed file(s) changed or vanished (e.g. " +
          s"${changed.head}) — not a pure add; ${rebuildHint(meta)}")
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
          rebuildHint(meta))
    val newRows = emb.join(oldIds, Seq("vec_id"), "left_anti")
      .selectExpr("vec_id", "transform(embedding, x -> cast(x AS double)) AS e")
    (newRows, liveListing)
  }

  /** Maximum live-corpus growth over the geometry-training corpus before
    * [[append]] refuses and the heal tier falls back to a full rebuild.
    * MEASURED, not guessed (TUNE_r12.txt "ivfdrift"): with frozen
    * centroids and build-time nlist, +25% appended rows holds the
    * (recall >= 0.85, scan <= 0.25) operating box on both gated corpora;
    * +50% breaks the scan ceiling on sf0.001 (0.302 — the undersized list
    * count over-occupies lists, so COST decays before recall) and sits on
    * both box edges on sf0.1; +100% breaks the recall floor outright
    * (0.816 / 0.768). The bound caps the silent part of the decay: past
    * it, the index rebuilds with refit geometry and re-resolved knobs.
    *
    * IVF-PQ appends are bounded by the same 1.25×, the BINDING bound of
    * the composition — MEASURED DIRECTLY on the composed path
    * (TUNE_r15 ivfpqdrift: +25% appended rows holds the (recall ≥ 0.85,
    * scan ≤ 0.25) box on both gated corpora, +50% breaks the scan
    * ceiling / sits on both edges, +100% breaks recall at 0.816/0.736 —
    * the same knee as plain IVF, with the residual codebooks' own 1.5×
    * knee (TUNE_r14 pqdrift) never the binding constraint). */
  private[similarity] val ivfDriftBound = 1.25

  /** Maximum live-corpus growth over the codebook-training corpus before
    * [[append]] refuses and the heal tier rebuilds. MEASURED
    * (TUNE_r14.txt pqdrift, the ivfdrift protocol): with frozen codebooks
    * and the training corpus's re-rank depth, the 0.85 recall floor holds
    * through +50% appended rows on both gated corpora (0.888/0.880),
    * thins at +100% (0.920/0.864) and breaks at +200% (0.800) — 1.5x is
    * one notch conservative of the observed knee, the same discipline as
    * [[ivfDriftBound]]. */
  private[similarity] val pqDriftBound = 1.5

  private def methodOf(meta: JValue): String = {
    implicit val formats: Formats = DefaultFormats
    (meta \ "method").extractOpt[String].getOrElse("unknown")
  }

  /** The hint every stale or refusal message ends with. */
  private def rebuildHint(meta: JValue): String =
    s"rebuild the '${methodOf(meta)}' index with AnnIndex.build"

  /** The rows the index's geometry was fit at; indexes persisted before
    * trainedRows existed fall back to their corpusRows (the size at the
    * last commit — conservative: a drift bound can only refuse EARLIER
    * than the true training size would). */
  private def trainedRowsOf(meta: JValue): Long = {
    implicit val formats: Formats = DefaultFormats
    (meta \ "trainedRows").extractOpt[Long].getOrElse((meta \ "corpusRows").extract[Long])
  }

  /** The index's metadata and tier, once the caller's `method` is checked
    * against the one the index records: a mismatch means the path points
    * at a different index. */
  private def open(s: SparkSession, path: String, method: String,
      verb: String): (JValue, AnnTier) = {
    val meta = record(s, path).getOrElse(throw new IllegalStateException(
      s"$verb for method '$method': no ANN index at $path (no ${metaPath(path)})"))
    val recorded = methodOf(meta)
    if (recorded != method)
      throw new IllegalStateException(
        s"$verb for method '$method' on a '$recorded' index at $path")
    (meta, AnnTier.fromMeta(meta))
  }

  private def jsonOf(v: JValue): String = JsonMethods.compact(JsonMethods.render(v))

  private def metaJson(t: AnnTier, dim: Int, trainedRows: Long, rows: Long, chk: Long,
      listing: Seq[Entry]): String = {
    import org.json4s.JsonDSL._
    val trained: JObject =
      if (t.driftBound.isDefined) ("trainedRows" -> trainedRows) else JObject()
    jsonOf(("method" -> t.method) ~ t.knobs ~ ("dim" -> dim) ~ trained ~
      ("corpusRows" -> rows) ~ ("corpusChecksum" -> chk) ~
      ("corpusListing" -> listingJson(listing)))
  }

  /** Build (or rebuild) the `method` index at its default knobs. */
  def build(s: SparkSession, dir: String, path: String, method: String): Unit =
    build(s, dir, path, AnnTier.defaults(method))

  /** Build (or rebuild) `tier`'s index for `dir`'s embeddings at `path`:
    * resolve and fit the geometry, then the crash bracket around the
    * geometry and assignments writes. trainedRows records the
    * corpus size the geometry was fit at; appends advance corpusRows but
    * never trainedRows, so a drift bound always measures growth against
    * the fit, not the last append. */
  def build(s: SparkSession, dir: String, path: String,
      tier: AnnTier): Unit = phase(s, tier.method, "build") {
    val t = tier.resolve(s, dir)
    val emb = AnnTier.vectors(s, dir)
    val dim = AnnTier.dimOf(emb)
    val g = t.fit(s, dir, dim)
    val (rows, chk) = corpusFingerprint(s, dir)
    val listing = corpusListing(s, dir)
    StoreMeta.delete(s, metaPath(path))
    t.writeGeometry(s, path, g)
    t.encode(s, g, emb).write.mode("overwrite").parquet(s"$path/assignments")
    StoreMeta.putRecord(s, metaPath(path), metaJson(t, dim, rows, rows, chk, listing))
  }

  /**
   * INCREMENTAL APPEND — the deployment-shaped operation for a corpus that
   * only GROWS (daily arrivals at 100 TB): encode ONLY the new vec_ids
   * against the FROZEN geometry, append their rows to `assignments/`, and
   * re-fingerprint — never re-index the old corpus. Work is proportional
   * to the ADDED data plus a load-validation-sized adds-only guard
   * ([[appendableNewRows]]); a rebuild is proportional to the corpus.
   *
   * A tier's drift bound is checked before ANY mutation, so a refusal
   * leaves the index intact and loadable for the corpus it last committed
   * while the caller rebuilds. LSH deliberately has no bound: the
   * TUNE_r13.txt lshdrift grid measured appends of 25/50/100% of trained
   * rows on both corpora and found deltaAssign=0 (appended ≡ rebuilt,
   * structurally) with flat recall and bucket-occupancy skew — a bound
   * would refuse appends that are provably equivalent to rebuilds.
   *
   * Throws IllegalStateException when the index is unreadable, the corpus
   * change is not a pure add, or the bound refuses — callers fall back to
   * [[build]] (SparkEntry's append-or-rebuild). The new rows are cached
   * between encoding and the write, and released however the write ends.
   */
  def append(s: SparkSession, dir: String, path: String,
      method: String): Unit = phase(s, method, "append") {
    val (meta, t) = open(s, path, method, "append")
    val (newRows, liveListing) = appendableNewRows(s, dir, path, meta)
    val (rows, chk) = corpusFingerprint(s, dir)
    val trainedRows = trainedRowsOf(meta)
    t.driftBound.foreach { case (bound, reason) =>
      if (rows > bound * trainedRows)
        throw new IllegalStateException(
          s"ANN index at $path cannot be appended: corpus grew to $rows rows " +
            s"against geometry trained at $trainedRows (> ${bound}x) — $reason; " +
            rebuildHint(meta))
    }
    // Materialize the new assignments BEFORE mutating `assignments/`: the
    // frame reads that very directory (the left-anti join against the
    // indexed ids), and appending to a path a live plan is scanning is
    // undefined. The persisted blocks decouple read from write.
    val newAssign = t.encode(s, t.readGeometry(s, path), newRows).persist()
    try {
      newAssign.count()
      StoreMeta.delete(s, metaPath(path))
      newAssign.write.mode("append").parquet(s"$path/assignments")
      implicit val formats: Formats = DefaultFormats
      // every knob preserved verbatim; only the corpus fields advance
      StoreMeta.putRecord(s, metaPath(path), metaJson(t, (meta \ "dim").extract[Int],
        trainedRows, rows, chk, liveListing))
    } finally newAssign.unpersist(blocking = false)
  }

  /**
   * COMPACT an index's assignments: every [[append]] stacks another file
   * layer under `assignments/`, and after months of daily appends each
   * probe pays the listing/open cost of thousands of small files. The
   * rewrite copies rows verbatim into a few coalesced files — geometry
   * and metadata are untouched in content — so the compacted
   * index answers BIT-FOR-BIT what the layered one did (AnnIndexSpec pins
   * assignments-set and top-k equality). Every tier keeps its growing
   * table under `assignments/` and writes its geometry once, so one
   * rewrite serves all four.
   *
   * Same crash bracket: the merged copy is STAGED (the rewrite plan reads
   * the directory it overwrites), metadata is cleared FIRST and rewritten
   * verbatim LAST.
   */
  def compact(s: SparkSession, path: String,
      method: String): Unit = phase(s, method, "compact") {
    val (meta, _) = open(s, path, method, "compact")
    val staging = s"$path/staging_compact"
    s.read.parquet(s"$path/assignments").coalesce(4)
      .write.mode("overwrite").parquet(staging)
    StoreMeta.delete(s, metaPath(path))
    s.read.parquet(staging).write.mode("overwrite").parquet(s"$path/assignments")
    StoreMeta.putRecord(s, metaPath(path), jsonOf(meta))
    StoreMeta.delete(s, staging)
  }

  /**
   * Top-k cosine neighbors of the probes (vec_id < numProbes) from the
   * PERSISTED `method` index: the loaded geometry drives the probe side,
   * the loaded assignments supply the candidates, and the tier's own scan
   * and rank run over them — bit-identical to the live [[AnnTier.topK]]
   * of the index's tier value. The PQ tiers' re-rank depth resolves from the
   * metadata's trainedRows, so an appended index keeps the pool it was
   * built with. Returns (q_id, neighbor_id, cosine, rn).
   *
   * Loading VALIDATES the index against the corpus ([[requireCurrent]])
   * and throws on mismatch — a stale index must never silently answer
   * for a corpus that changed after the build. Production callers get
   * build-if-absent-or-stale semantics by wrapping the load in a
   * rebuild-and-retry (SparkEntry's buildIfStale — missing, half-built
   * and stale indexes all surface here as exceptions); [[isCurrent]] is
   * the explicit non-throwing check for callers that want to probe first.
   */
  def topK(
      s: SparkSession,
      dir: String,
      path: String,
      method: String,
      numProbes: Int = 5,
      k: Int = 5): DataFrame = phase(s, method, "topK") {
    val (meta, t) = open(s, path, method, "topK")
    requireCurrent(s, dir, path, meta)
    val emb = AnnTier.vectors(s, dir)
    val scanned = t.scan(s, t.readGeometry(s, path), emb,
      s.read.parquet(s"$path/assignments"), numProbes)
    t.rank(s, scanned, emb, numProbes, k, trainedRowsOf(meta))
  }
}
