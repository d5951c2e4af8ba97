package graft.queries

import org.apache.spark.sql.{DataFrame, DataFrameWriter, Row, SparkSession}
import org.apache.spark.sql.functions._

/**
 * TRANSACTIONAL CROSS-STORE ABSORB — the missing atomicity of the q134
 * composed loop. [[StoreMix.storeMix]] mutates the dedup store and the
 * stats store with two INDEPENDENT absorbs: a crash between them leaves
 * keepers covering corpus ∪ delta while the stats still cover the corpus
 * only, and nothing detects the skew — each store individually just reads
 * "absorbed", and the next mix silently gates absorbed-corpus lengths
 * against stale means. At one batch a day for a year that window opens
 * 365 times.
 *
 * The fix is the standard log-structured one (the Delta/Iceberg commit
 * shape, rebuilt here from scratch over plain parquet):
 *
 *   - the BASE stores are immutable — [[DedupIndex]] and [[StatsStore]]
 *     under their own `tx` variant, built once, never appended to;
 *   - every absorb stages BOTH stores' increments as a transaction
 *     LAYER under a WRITER-UNIQUE dir `t<id>-<nonce>/` (dedup
 *     exact/shingles/bands + stats partials), invisible to every
 *     reader — racing writers of the same id can never touch each
 *     other's files;
 *   - the COMMIT POINT is one marker file (`commits/c<id>`), created
 *     if-absent ATOMICALLY with the winning nonce as its CONTENT.
 *     Readers resolve base ∪ committed layers through the marker
 *     contents, so both stores advance in the same instant or not at
 *     all, and only the winner's staging ever becomes visible;
 *   - a crash before the commit row leaves fully-invisible staging; the
 *     retry recomputes the SAME txn id (next id = max committed + 1 —
 *     nothing was committed, so the id is stable) and stages under a
 *     fresh nonce (the crashed attempt's dir is [[vacuum]]'s food).
 *     Redo, not undo.
 *
 * Atomicity rests on the marker's exclusive create being all-or-nothing
 * — it either exists or it doesn't, and creating it arbitrates
 * concurrent writers (the Delta `_delta_log/<version>` put-if-absent
 * shape; see [[commit]] and [[atomicClaim]] for the local-FS O_EXCL
 * path). On S3-class stores the same call maps to a conditional PUT —
 * the layer/commit split is unchanged.
 *
 * Scale posture matches the stores it coordinates: the judge is q84's
 * delta-driven equi-joins (now against base ∪ layers — same plan, more
 * input paths), layers are O(batch), commits is O(#transactions), and
 * readers never rewrite anything. [[checkpoint]] folds committed layers
 * into a new base and truncates the log behind a staged-merge +
 * pending-marker bracket.
 *
 * The protocol is store-count-AGNOSTIC: a transaction stages one layer
 * set per participating store and the single commit row flips them all.
 * A transaction stages only the stores its verb covers, and every
 * reader resolves its store's committed layers through one resolver
 * ([[layers]] — see its crash-safety note). The TIER TABLE ([[tiers]])
 * is the one place a tier is declared: the text trio (dedup, stats,
 * vocab — [[absorbBoth]]), the ingest pair (graph edges, embed buckets
 * — [[absorbIngest]]), the ANN buckets, the search index and the
 * transactional table with its materialized views. Each entry names
 * the base paths whose existence makes the tier take part in a
 * [[checkpoint]] and, per folded table, its staged name, fold frame,
 * base target and publish shape; the checkpoint's stage and publish
 * and [[reset]]'s invalidation all iterate it. Every write goes
 * through one transaction verb ([[transact]]).
 */
object StoreTxn {

  @transient private lazy val logger =
    org.slf4j.LoggerFactory.getLogger(getClass)

  /** The base stores' variant — see StoreMeta.root's note on variant
    * isolation. The `tx` bases stay PRISTINE forever (all mutation is
    * transaction layers), so buildIfStale skips the rebuild every lap. */
  private val variant = "tx"

  private[graft] def root(dir: String): String = StoreMeta.root("store_txn", dir)

  /** Label a verb's Spark jobs `graft:store:store_txn:<verb>`. */
  private def phase[T](s: SparkSession, verb: String)(body: => T): T =
    graft.JobPhase(s.sparkContext, s"store:store_txn:$verb")(body)

  /** Drop every transaction (layers + commit log). The lifecycle queries
    * reset first so each lap replays a deterministic history.
    *
    * If a [[checkpoint]] has FOLDED layers into the base stores (the
    * `txn_folded` flag on the dedup base), dropping the transaction
    * history makes the folded base wrong — it holds batches whose
    * commits no longer exist — so the bases' meta is deleted too and the
    * next [[ensureBases]] rebuilds them pristine. In production there is
    * no reset: the folded base IS the steady state. */
  def reset(s: SparkSession, dir: String): Unit = phase(s, "reset") {
    val p = new org.apache.hadoop.fs.Path(root(dir))
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.delete(p, true)
    // Drop this store's memoized marker nonces: an in-process rebuild
    // at the same path re-mints the same ids under fresh nonces, and on
    // a coarse-mtime filesystem (len is a constant 8, so the memo key's
    // discrimination is mtime alone) a same-tick rebuild could be served
    // the old store's nonce. Purging here makes the single-JVM rebuild
    // case exact whatever the filesystem; a SECOND process rebuilding
    // concurrently under a live reader is outside the protocol's
    // contract either way (readers of a store being deleted race its
    // layers too, not just its markers).
    // (built through Path so normalization matches the memo's key form)
    val prefix =
      new org.apache.hadoop.fs.Path(s"${root(dir)}/commits").toString + "/"
    nonceMemo.keySet.removeIf(_._1.startsWith(prefix))
    val folded = foldedFlag(dir)
    if (exists(s, folded.toString)) {
      fs.delete(folded, true)
      tiers(s, dir).foreach(_.invalidate())
    }
  }

  /** Raised on the dedup base once a checkpoint folds layers into the
    * bases: from then on the base is the protocol's generation, not the
    * corpus-pristine build, and only [[reset]] (sandbox) or a corpus
    * regeneration should rebuild it. */
  private def foldedFlag(dir: String) =
    new org.apache.hadoop.fs.Path(s"${DedupIndex.root(dir, variant)}/txn_folded")

  /** Committed transaction ids, ascending. O(#transactions) driver-side —
    * the same bounded-collect class as AnnIndex's metadata reads.
    *
    * The log is a directory of per-transaction marker FILES
    * (`commits/c<id>` — the Delta `_delta_log/<version>` shape): a
    * transaction is committed iff its marker exists, and [[commit]]
    * creates the marker with an atomic exclusive create, so duplicate
    * ids are structurally impossible — the second writer's create FAILS
    * instead of appending a second row (see commit's multi-writer
    * note). Only a MISSING log dir reads as "no transactions" (the
    * pre-first-commit state); any other listing failure rethrows —
    * swallowing it would silently drop every committed transaction from
    * reads (the exact skew this module exists to prevent) and make
    * nextTxnId reuse an already-committed id, overwriting a live layer. */
  private[queries] def committedTxns(s: SparkSession, dir: String): Seq[Long] =
    committedTxnDirs(s, dir).map(_._1)

  /** Thread-local FROZEN commit-log override, keyed by store root.
    * [[checkpointStage]] resolves the log ONCE at entry and pins it
    * here for the duration of its staged reads, so every table folds
    * the SAME commit set — without the freeze, each staged table
    * re-listed the log mid-stage and a transaction landing between two
    * folds produced a TORN checkpoint (r18 verdict lead: tables
    * disagreeing on the commit set, and the post-marker publish
    * deleting a commit the staged fold never saw). Thread-local is
    * sufficient: the staged reads are driver-side DataFrame
    * constructions on the calling thread (path lists are fixed at
    * construction, not at action time). */
  private val frozenLog =
    new ThreadLocal[Map[String, Seq[(Long, String)]]] {
      override def initialValue(): Map[String, Seq[(Long, String)]] =
        Map.empty
    }

  private def withFrozenLog[T](dir: String,
      log: Seq[(Long, String)])(body: => T): T = {
    val prev = frozenLog.get()
    frozenLog.set(prev + (root(dir) -> log))
    try body finally frozenLog.set(prev)
  }

  /** FAIL-FAST companion to the ThreadLocal freeze (r19 ADVICE): the
    * freeze's correctness rests on every commit-log resolution inside
    * stageFrozen happening eagerly on the staging thread. A future
    * helper that defers resolution to another thread (a lazy val forced
    * elsewhere, a background planning thread) would silently bypass the
    * freeze and reintroduce the torn-checkpoint bug — so while a stage
    * is active, a resolution that does NOT see the frozen override
    * throws instead of reading the live log. Same-JVM concurrent
    * READERS during this window hit the same loud refusal; the stage
    * lasts seconds and the message says to retry — refuse-loudly over
    * silently-torn, the module's standing policy. */
  private val activeStage =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

  private[graft] def beginStageGuard(dir: String): Unit =
    activeStage.put(root(dir), Thread.currentThread().getId)

  private[graft] def endStageGuard(dir: String): Unit =
    activeStage.remove(root(dir))

  /** Committed ids paired with their RESOLVED layer dirs, ascending by
    * id. The marker's CONTENT names the winning writer's staging nonce
    * (layer dir `t<id>-<nonce>`); an empty marker is the pre-nonce
    * legacy format and resolves to the un-nonced `t<id>`. One marker
    * read per transaction per call — the metadata price of writer-unique
    * staging (the Delta `_delta_log` shape: the log entry, not the path
    * convention, says which files the transaction owns).
    *
    * REFUSE-LOUDLY on foreign layouts: a commits dir holding entries
    * that are neither `c<id>` markers nor benign sidecars (`_`/`.`
    * prefixed — _SUCCESS, checksum files) is some OTHER format's log
    * (e.g. an old parquet-table commit log). Listing it as "zero
    * committed transactions" would silently serve base-only state and
    * re-allocate id 0 over a live layer — exactly the skew the loud
    * IOException policy below exists to prevent — so it throws too. */
  private[graft] def committedTxnDirs(
      s: SparkSession, dir: String): Seq[(Long, String)] = {
    val frozen = frozenLog.get().get(root(dir))
    if (frozen.isDefined) return frozen.get
    if (activeStage.containsKey(root(dir)))
      throw new IllegalStateException(
        s"commit log at ${root(dir)} resolved OUTSIDE the frozen-log " +
          "scope while a checkpoint stage is active — a stage helper " +
          "escaped its staging thread (would re-introduce the torn " +
          "checkpoint), or a concurrent same-JVM reader/writer raced " +
          "the stage; retry after the checkpoint completes (the refusal " +
          "is scoped to this JVM — cross-process writers are unaffected " +
          "and arbitrated by the frozen fold set)")
    val p = new org.apache.hadoop.fs.Path(s"${root(dir)}/commits")
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    // FileNotFound is benign ONLY for the directory listing itself (the
    // pre-first-commit state). The per-marker nonce reads get their own
    // failure policy below: a marker that vanishes between the listing
    // and its read (a concurrent checkpoint truncation) must NOT drop
    // the whole log to "no transactions" — that is the silent skew the
    // loud-IOException policy exists to prevent.
    val names =
      try {
        if (!exists(s, p.toString)) Seq.empty[String]
        else fs.listStatus(p).toSeq.map(_.getPath.getName)
      } catch {
        case _: java.io.FileNotFoundException => Seq.empty[String]
        case e: java.io.IOException => throw new IllegalStateException(
          s"store-txn commit log at $p cannot be listed — refusing to " +
            "serve base-only state as if no transactions were committed", e)
      }
    val foreign = names.filterNot(n =>
      n.matches("c\\d+") || n.startsWith("_") || n.startsWith("."))
    if (foreign.nonEmpty) throw new IllegalStateException(
      s"store-txn commit log at $p holds entries of an unknown " +
        s"layout (${foreign.take(3).mkString(", ")}) — refusing to " +
        "serve base-only state over what may be another format's log")
    names.filter(_.matches("c\\d+")).map(_.drop(1).toLong).sorted
      .map { id =>
        val nonce =
          try readNonce(fs, commitMarker(dir, id))
          catch {
            case e: java.io.IOException => throw new IllegalStateException(
              s"commit marker c$id at $p listed but cannot be read (a " +
                "concurrent checkpoint truncation, or marker IO failure) " +
                "— refusing to resolve a partial commit log; retry the read", e)
          }
        id -> s"${root(dir)}/${txnDirName(id, nonce)}"
      }
  }

  /** Process-wide nonce memo. Marker content is WRITE-ONCE (the claim
    * is create-if-absent and only the winner writes content; checkpoint
    * DELETES markers, never rewrites one), so a cached read revalidated
    * against the marker's (modTime, length) is exact — the per-call
    * cost drops from stat+open+read to ONE stat per txn per resolution,
    * which is what keeps the lifecycle entries (tens of log resolutions
    * per query) at their pre-nonce metadata budget. Empty content is
    * never cached (the claim→content window must resolve on the next
    * call; legacy empty markers are free to "read" anyway). The status
    * key also covers the delete-and-rebuild-at-the-same-path shape
    * (spec loops): fresh markers carry fresh modTimes, so the rebuilt
    * store misses instead of being served the old store's nonce.
    * Bounded: cleared past 64k entries (keys are short strings; one
    * entry per marker file ever read by this JVM). */
  private val nonceMemo =
    new java.util.concurrent.ConcurrentHashMap[(String, Long, Long), String]()

  /** The staging nonce a commit marker's content names; "" for the
    * legacy empty marker (resolves to the un-nonced `t<id>` dir). A
    * zero-length read can also be the instruction-scale window between
    * a winner's claim and its content write — the id then resolves to a
    * dir that does not exist and every layer existence probe skips it,
    * which is the correct "not yet visible" answer for a commit whose
    * content is not yet durable. */
  private def readNonce(fs: org.apache.hadoop.fs.FileSystem,
      m: org.apache.hadoop.fs.Path): String = {
    val st = fs.getFileStatus(m)
    val len = st.getLen
    if (len == 0L) ""
    else {
      val key = (m.toString, st.getModificationTime, len)
      val hit = nonceMemo.get(key)
      if (hit != null) hit
      else {
        val in = fs.open(m)
        val nonce = try {
          val buf = new Array[Byte](len.toInt)
          in.readFully(buf)
          new String(buf, java.nio.charset.StandardCharsets.UTF_8).trim
        } finally in.close()
        if (nonce.nonEmpty) {
          if (nonceMemo.size > 65536) nonceMemo.clear()
          nonceMemo.put(key, nonce)
        }
        nonce
      }
    }
  }

  private def txnDirName(id: Long, nonce: String): String =
    if (nonce.isEmpty) s"t$id" else s"t$id-$nonce"

  /** Writer-unique staging dir for transaction `id`. Every stage verb
    * takes the writer's nonce, so two writers racing the SAME id can
    * never touch each other's files — the r17 residual window (a loser
    * still mid-stage overwriting the winner's committed `t<id>/` layer)
    * is closed structurally: the loser's bytes live under its own
    * `t<id>-<nonce>/`, invisible forever, [[vacuum]]'s food. The empty
    * nonce keeps the legacy `t<id>` layout for pre-nonce stores and for
    * specs that pin explicit paths. */
  private[queries] def stagingDir(dir: String, id: Long, nonce: String): String =
    s"${root(dir)}/${txnDirName(id, nonce)}"

  /** A fresh writer-unique staging nonce (8 hex chars of a random UUID —
    * uniqueness across racing drivers, not secrecy, is the requirement). */
  def newNonce(): String =
    java.util.UUID.randomUUID().toString.replace("-", "").take(8)

  private def commitMarker(dir: String, id: Long) =
    new org.apache.hadoop.fs.Path(s"${root(dir)}/commits/c$id")

  /** Next transaction id = max committed + 1.
    *
    * MULTI-WRITER SAFETY lives at the COMMIT, not here: id allocation
    * is read-then-use with no lock, so two concurrent drivers can mint
    * the SAME id and overwrite each other's `t<id>/` staging — but
    * [[commit]] claims the id with a create-if-absent marker, so
    * exactly ONE of them commits; the loser fails loudly mid-protocol
    * with its staging uncommitted (structurally invisible, reclaimed by
    * [[vacuum]]) and retries on a fresh id. This is the conditional-PUT
    * shape Delta uses (`_delta_log/<version>` put-if-absent): the log
    * entry itself is the arbitration point, and losing a race costs a
    * re-stage, never a corrupt layered state. Concurrent MAINTENANCE is
    * closed too: [[checkpoint]] folds a FROZEN commit set persisted at
    * stage entry (a commit landing mid-stage survives as a layer),
    * [[commit]] refuses retryably while the publish marker is up, and
    * [[vacuum]]'s retention guard keeps a live writer's fresh staging
    * out of reclamation — only `vacuum(retentionMs = 0)` retains the
    * original must-not-race-a-live-absorb contract. */
  def nextTxnId(s: SparkSession, dir: String): Long =
    committedTxns(s, dir).lastOption.map(_ + 1).getOrElse(0L)

  /** The one Hadoop existence probe every path decision of this module
    * goes through. */
  private def exists(s: SparkSession, p: String): Boolean = {
    val hp = new org.apache.hadoop.fs.Path(p)
    hp.getFileSystem(s.sparkContext.hadoopConfiguration).exists(hp)
  }

  /** THE LAYER RESOLVER: `(id, <txnDir>/<sub>)` for every COMMITTED
    * transaction with id ≤ `maxTxn` THAT STAGED `sub`, ascending.
    * Uncommitted staging is structurally invisible: the candidate list
    * is built from the commit log, not from a directory listing. A
    * committed transaction may not have touched every store
    * (absorbBoth stages dedup+stats+vocab; absorbIngest stages
    * graph+embed), so only the layers that exist are kept — a bounded
    * O(#txns) existence probe that is crash-safe because staging
    * completes strictly before the commit row lands: for a COMMITTED
    * id, a store's layer dir exists iff that transaction staged that
    * store.
    *
    * Refuses while a checkpoint publish is pending, and — for an as-of
    * read (`maxTxn` below the top) — once a checkpoint has FOLDED
    * layers into the base: history before the fold is no longer
    * reconstructable from a log prefix, so the read refuses loudly
    * rather than silently return the full folded state labeled as
    * historical. */
  private def layers(s: SparkSession, dir: String, sub: String,
      maxTxn: Long = Long.MaxValue): Seq[(Long, String)] = {
    requireNoCheckpoint(s, dir)
    if (maxTxn < Long.MaxValue && exists(s, foldedFlag(dir).toString))
      throw new IllegalStateException(
        s"store-txn history at ${root(dir)} was folded by a checkpoint; " +
          "as-of reads cannot reconstruct pre-checkpoint states — keep " +
          "the log (skip checkpoints) where time travel is required")
    committedTxnDirs(s, dir).filter(_._1 <= maxTxn)
      .map { case (id, td) => id -> s"$td/$sub" }.filter(l => exists(s, l._2))
  }

  /** Base table ∪ its committed layers, one scan. */
  private def layered(s: SparkSession, dir: String, base: String,
      sub: String, maxTxn: Long = Long.MaxValue): DataFrame =
    s.read.parquet((base +: layers(s, dir, sub, maxTxn).map(_._2)): _*)

  private def marker(dir: String) =
    new org.apache.hadoop.fs.Path(s"${root(dir)}/ckpt_pending")

  // ---- the maintenance lease: checkpoint/vacuum mutual exclusion ----

  /** `maint_lease` under the store root: the one-at-a-time guard for the
    * MAINTENANCE verbs. Commits-vs-maintenance is already structural
    * (frozen fold set + interlock), but two drivers running [[checkpoint]]
    * — or checkpoint racing [[vacuum]] — share one `staging_ckpt/` and
    * would interleave staged writes (the r19 one-at-a-time contract).
    * The lease closes that with the SAME device as the commit markers:
    * an [[atomicClaim]] (O_EXCL / hard-link locally, conditional PUT on
    * object stores) whose content is the holder's nonce, plus an mtime
    * TTL so a CRASHED holder's lease expires instead of wedging
    * maintenance forever — Delta's lease shape. */
  private def leasePath(dir: String) =
    new org.apache.hadoop.fs.Path(s"${root(dir)}/maint_lease")

  /** Default TTL: far above any real checkpoint/vacuum duration (seconds
    * at the sandbox scale, minutes at 100 TB — the verbs are
    * metadata-and-fold bounded), far below "operator pages someone". A
    * holder that outlives its TTL can be broken mid-run (inherent to
    * every mtime lease); size the TTL above the longest maintenance
    * duration, exactly like vacuum's own retention threshold. */
  private[graft] val defaultMaintLeaseTtlMs: Long = 15 * 60 * 1000L

  /** Acquire the lease or refuse loudly. Returns the holder token the
    * matching [[releaseMaintLease]] must present. A held lease older
    * than `ttlMs` is BROKEN via rename-then-verify-then-claim:
    *   - the rename is the atomic arbiter among racing breakers (exactly
    *     one rename of the expired file succeeds — a delete-then-claim
    *     breaker pair could otherwise interleave into two holders);
    *   - the tomb's CONTENT is then verified against the nonce whose
    *     expiry was observed. A breaker that stalled between its expiry
    *     stat and its rename could otherwise rename away a FRESH lease a
    *     faster breaker just claimed (the two-holder steal); on mismatch
    *     the rename is undone and the acquire refuses as busy. The undo
    *     itself can lose a race to a third acquirer claiming into the
    *     emptied path — that residual needs a third driver inside a
    *     microsecond window on top of the stalled breaker, and its
    *     outcome is one unprotected victim, not a torn store; the tomb
    *     is left for inspection rather than deleted. */
  private[graft] def acquireMaintLease(s: SparkSession, dir: String,
      ttlMs: Long = defaultMaintLeaseTtlMs): String = {
    val m = leasePath(dir)
    val fs = m.getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.mkdirs(m.getParent)
    val token = newNonce()
    if (atomicClaim(fs, m, token)) return token
    // re-stat immediately before the break decision: narrows the stale-
    // observation window to the stat→rename gap the verify below covers
    val expiredNonce =
      try {
        val st = fs.getFileStatus(m)
        if (System.currentTimeMillis() - st.getModificationTime > ttlMs)
          Some(readNonce(fs, m))
        else None
      } catch {
        // Released between claim and stat: there is nothing to break and
        // no observed-expired nonce to verify a break against — breaking
        // here could rename away a FRESH lease another driver claimed in
        // the gap (the two-holder steal). Just retry the claim on the
        // now-possibly-free path; if someone else won it, refuse as busy.
        case _: java.io.FileNotFoundException =>
          if (atomicClaim(fs, m, token)) return token
          None
        case _: java.io.IOException => None
      }
    expiredNonce match {
      case Some(expNonce) =>
        val tomb = new org.apache.hadoop.fs.Path(
          m.getParent, s".maint_lease.expired.$token")
        try {
          if (fs.rename(m, tomb)) {
            if (readNonce(fs, tomb) == expNonce)
              fs.delete(tomb, false) // broke the lease we observed expire
            else if (!fs.rename(tomb, m)) // renamed a FRESH lease: undo
              logger.warn(s"maint-lease break undo lost a race at $m; " +
                s"stolen lease left at $tomb")
          }
        } catch { case _: java.io.IOException => () } // claim below decides
        if (atomicClaim(fs, m, token)) return token
      case None => ()
    }
    throw new IllegalStateException(
      s"maintenance lease at $m is held by another driver — checkpoint " +
        "and vacuum are one-at-a-time; retry after the holder completes " +
        s"(a crashed holder's lease expires after $ttlMs ms)")
  }

  /** Release ONLY our own lease, atomically: the lease is renamed to a
    * release tomb FIRST (atomic — nobody can claim between a content
    * check and a delete, because the removal IS the check's subject),
    * then the tomb's content decides: ours → delete; someone else's (a
    * TTL breaker replaced us while we overran) → restore the rename and
    * leave their lease standing. A vanished lease (reset, or a breaker
    * mid-rename) releases as a no-op. */
  private[graft] def releaseMaintLease(s: SparkSession, dir: String,
      token: String): Unit = {
    val m = leasePath(dir)
    val fs = m.getFileSystem(s.sparkContext.hadoopConfiguration)
    val tomb = new org.apache.hadoop.fs.Path(
      m.getParent, s".maint_lease.release.$token")
    try {
      if (fs.rename(m, tomb)) {
        if (readNonce(fs, tomb) == token) fs.delete(tomb, false)
        else if (!fs.rename(tomb, m))
          logger.warn(s"maint-lease release undo lost a race at $m; " +
            s"displaced lease left at $tomb")
      }
    } catch {
      case _: java.io.FileNotFoundException => ()
      case _: java.io.IOException => ()
    }
  }

  /** Run `body` under the maintenance lease. */
  private def withMaintLease[T](s: SparkSession, dir: String,
      ttlMs: Long)(body: => T): T = {
    val token = acquireMaintLease(s, dir, ttlMs)
    try body finally releaseMaintLease(s, dir, token)
  }

  /** Readers refuse while a checkpoint publish is in flight (or died
    * mid-flight): between the base overwrite and the log truncation the
    * on-disk state double-counts folded layers, so serving it silently
    * would be the corruption the protocol exists to prevent. The heal is
    * redo: re-run [[checkpoint]]. */
  private def requireNoCheckpoint(s: SparkSession, dir: String): Unit =
    if (exists(s, marker(dir).toString))
      throw new IllegalStateException(
        s"store-txn checkpoint at ${root(dir)} is in flight or crashed " +
          "mid-publish; rerun StoreTxn.checkpoint to heal before reading")

  // ---- the base tables the layers stack on ----

  private def dedupBase(dir: String, t: String) = s"${DedupIndex.root(dir, variant)}/$t"
  private def statsBase(dir: String) = s"${StatsStore.root(dir, variant)}/partials"
  private def vocabBase(dir: String) = VocabStore.partialsPath(dir, variant)
  private def graphBase(dir: String) = s"${GraphStore.root(dir, variant)}/edges"
  private def embedBase(dir: String) = s"${EmbedIndex.root(dir, variant)}/buckets"
  private def annBase(dir: String) = s"${AnnTxStore.root(dir)}/buckets"
  private def mvBase(dir: String, suffix: String) =
    s"${ZoneMapStore.zonesPath(dir, variant)}$suffix"

  private def dedupTable(s: SparkSession, dir: String, t: String): DataFrame =
    layered(s, dir, dedupBase(dir, t), s"dedup/$t")

  private def statsPartials(s: SparkSession, dir: String,
      maxTxn: Long = Long.MaxValue): DataFrame =
    layered(s, dir, statsBase(dir), "stats/partials", maxTxn)

  private def vocabPartials(s: SparkSession, dir: String): DataFrame =
    layered(s, dir, vocabBase(dir), "vocab/partials")

  private[graft] def embedBuckets(s: SparkSession, dir: String): DataFrame =
    layered(s, dir, embedBase(dir), "embed/buckets")

  private[graft] def annBucketsTx(s: SparkSession, dir: String): DataFrame =
    layered(s, dir, annBase(dir), "ann/buckets")

  /** The search index's pruned postings over the transactional state.
    * NOT [[layered]]: the base is hive-partitioned on `tb=` while the
    * transaction layers keep tb as an ordinary column (a multi-root
    * read mixing the two layouts trips partition discovery), so the
    * base prunes directories and each small layer takes the same
    * predicate as a pushed filter, then the frames union. */
  private def allSearchPostingsTx(s: SparkSession, dir: String,
      maxTxn: Long = Long.MaxValue): DataFrame = {
    val cols = Seq("tb", "term", "doc_id", "tf", "dl", "positions").map(col)
    (SearchStore.postingsPath(dir, variant) +:
      layers(s, dir, "search/postings", maxTxn).map(_._2))
      .map(s.read.parquet(_).select(cols: _*)).reduce(_.unionByName(_))
  }

  private def searchStatsTx(s: SparkSession, dir: String,
      maxTxn: Long = Long.MaxValue): DataFrame =
    layered(s, dir, SearchStore.statsPath(dir, variant), "search/stats", maxTxn)

  /** The tick-i BATCH ingest absorb — the non-streaming equivalent of
    * one q166 micro-batch (tick 1 = embed batch 1 + the o%10 ∈ {7,8}
    * order tranche's pairs; tick 2 = embed batch 2 + o%10 = 9). The
    * spec replays both ticks batch-wise and bit-compares the resulting
    * edge and bucket state against the streamed run. */
  private[graft] def absorbIngestTick(s: SparkSession, dir: String,
      tick: Int, withAnn: Boolean = false): Long = {
    val op = Tables.t(s, dir, "lineitem")
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
    val (vecs, tranche) =
      if (tick == 1) (EmbedIndex.batch1Vecs(s, dir),
        op.where("o % 10 >= 7 AND o % 10 < 9"))
      else (EmbedIndex.batch2Vecs(s, dir), op.where("o % 10 = 9"))
    absorbIngest(s, dir, vecs, Graph.coPairsOf(tranche), withAnn)
  }

  /** Build the immutable base stores if missing/stale. When any base IS
    * stale (first build, corpus regenerated, or reset-invalidated), the
    * transaction root is dropped with it: layers and commits computed
    * against the OLD corpus generation must not survive under a
    * freshly-built base — without this, a corpus regeneration would
    * rebuild the bases pristine while `layered` kept unioning the old
    * generation's layers into every read. */
  def ensureBases(s: SparkSession, dir: String): Unit =
    ensureGeneration(s, dir, DedupIndex.isCurrent(s, dir, variant) &&
      StatsStore.isCurrent(s, dir, variant) &&
      VocabStore.isCurrent(s, dir, variant)) {
      DedupIndex.build(s, dir, variant)
      StatsStore.build(s, dir, variant)
      VocabStore.build(s, dir, variant)
    }

  /** [[ensureBases]] for the INGEST pair (graph edges + embed buckets) —
    * a separate verb, not more stores in ensureBases, so the text-family
    * transactions (q147/q151/q155-158) don't pay two extra corpus-slice
    * staleness probes per run for stores they never read. */
  def ensureIngestBases(s: SparkSession, dir: String): Unit =
    ensureGeneration(s, dir, GraphStore.isCurrent(s, dir, variant) &&
      EmbedIndex.isCurrent(s, dir, variant)) {
      GraphStore.build(s, dir, variant)
      EmbedIndex.build(s, dir, variant)
    }

  /** The generation rule for the ANN tier — its own verb for the same
    * reason the ingest pair got one: only the search transaction (q169)
    * pays this staleness probe. */
  def ensureAnnBase(s: SparkSession, dir: String): Unit =
    ensureGeneration(s, dir, AnnTxStore.isCurrent(s, dir))(AnnTxStore.build(s, dir))

  /** The generation rule for the inverted-index base (q185) — its own
    * verb so only the search transaction pays the staleness probe. */
  def ensureSearchBase(s: SparkSession, dir: String): Unit =
    ensureGeneration(s, dir, SearchStore.isCurrent(s, dir, variant))(
      SearchStore.build(s, dir, variant))

  /** The generation rule every ensure verb shares: when a base is stale
    * (first build, corpus regenerated, or reset-invalidated), the
    * transaction root and the folded flag are dropped before `build`:
    * layers and commits computed against the OLD corpus generation must
    * not survive under a freshly-built base. */
  private def ensureGeneration(s: SparkSession, dir: String,
      fresh: Boolean)(build: => Unit): Unit =
    if (!fresh) {
      StoreMeta.delete(s, root(dir))
      StoreMeta.delete(s, foldedFlag(dir).toString)
      build
    }

  // ---- the reader surface (base ∪ committed layers) ----

  def keeperIdsTx(s: SparkSession, dir: String): DataFrame =
    dedupTable(s, dir, "exact").select(col("keeper").as("doc_id"))

  def storedStatsTx(s: SparkSession, dir: String): DataFrame =
    StatsStore.finalize(statsPartials(s, dir))

  /** q83's vocabulary-coverage read over the transactional state. */
  def vocabCoverageTx(s: SparkSession, dir: String): DataFrame =
    VocabStore.coverageOf(vocabPartials(s, dir))

  /** The merged co-purchase edge list over the transactional state —
    * base edges ∪ committed graph layers, one additive groupBy (the
    * GraphStore.mergedEdges read against layered paths). */
  def mergedEdgesTx(s: SparkSession, dir: String): DataFrame =
    layered(s, dir, graphBase(dir), "graph/edges")
      .groupBy(col("a"), col("b")).agg(sum(col("w")).as("w"))

  /** q141's embedding-dedup judge against the transactional state —
    * candidates come from base buckets ∪ committed embed layers. */
  def judgeEmbedTx(s: SparkSession, dir: String, delta: DataFrame): DataFrame =
    EmbedIndex.judgeAgainstBuckets(s, dir, delta, embedBuckets(s, dir))

  /** q54's fixed-geometry top-k probes against the TRANSACTIONAL index
    * — candidate membership is base ∪ committed ann layers, so a search
    * session sees exactly the vectors the commit log says have landed.
    * Probes (the five smallest corpus ids, all in the base slice)
    * broadcast against the bucket equi-join; candidates rehydrate their
    * vectors from the corpus table, which is EXACT for every indexed id
    * (only the embed gate's raw-form survivors ever enter — AnnTxStore's
    * scaladoc). Bounded per-probe top-10 via TopKPerKey, never a global
    * sort. */
  def annTopKTx(s: SparkSession, dir: String): DataFrame = {
    graft.functions.CosineSimilarity.register(s)
    val emb = TextPipeline.embDoubles(s, dir)
    val cand = annBucketsTx(s, dir)
      .join(emb.select(col("vec_id"), col("e").as("be")), Seq("vec_id"))
    val probes = emb.where("vec_id < 5")
      .selectExpr("vec_id AS q_id", s"${TextPipeline.fixedBucket} AS b54",
        "e AS ae")
    val scored = broadcast(probes).join(cand, Seq("b54"))
      .where(col("vec_id") =!= col("q_id"))
      .selectExpr("q_id", "vec_id AS neighbor_id",
        "cosine_similarity(ae, be) AS cos")
    graft.plans.TopKPerKey.topK(scored, "q_id", "cos", "neighbor_id", 10, "cosine")
      .orderBy(col("q_id"), col("rn"))
  }

  /** TIME TRAVEL over the commit log: the stats as they stood after
    * transaction `maxTxn` — base ∪ layers of committed ids ≤ maxTxn.
    * The log IS the version history, so every past state is a prefix of
    * the committed id list: no snapshots, no tags, and (unlike q148's
    * per-store epoch tagging) the as-of point is CROSS-STORE consistent
    * by construction — "the world as of transaction k" means the same k
    * for every store the transaction touched. A transaction that staged
    * no stats layer (an ingest or search one) is skipped, and a
    * checkpoint-folded history refuses — both the resolver's rules
    * ([[layers]]). */
  def storedStatsTxAsOf(s: SparkSession, dir: String, maxTxn: Long): DataFrame =
    StatsStore.finalize(statsPartials(s, dir, maxTxn))

  /** q84's judge against the transactional state — base ∪ committed
    * layers, so a batch is judged against everything previous
    * transactions absorbed but never against uncommitted staging. */
  def judgeTx(s: SparkSession, dir: String, delta: DataFrame): DataFrame =
    DedupIndex.judgeAgainst(s, delta,
      dedupTable(s, dir, "exact"),
      dedupTable(s, dir, "shingles"),
      dedupTable(s, dir, "bands"))

  // ---- the writer surface ----

  /** Stage transaction `id`: judge the batch, materialize its kept docs
    * (one write; the three derived dedup tables and the stats partials
    * then each read the staged copy instead of re-running the judge —
    * absorbDocs' materialize-before-mutate device), and write every
    * layer table under the writer-unique [[stagingDir]]. Overwrite mode
    * throughout, so a retry of a crashed stage with the same nonce
    * replaces partial files (a retry with a FRESH nonce stages cleanly
    * beside the orphan — vacuum reclaims the husk). NOTHING here is
    * visible to readers until [[commit]] lands the nonce. */
  def stage(s: SparkSession, dir: String, dedupDelta: DataFrame,
      statsDelta: DataFrame, id: Long, nonce: String = ""): Unit = {
    val t = stagingDir(dir, id, nonce)
    val keptIds = judgeTx(s, dir, dedupDelta)
      .where("verdict = 'unique'").select(col("doc_id"))
    dedupDelta.join(keptIds, Seq("doc_id"))
      .write.mode("overwrite").parquet(s"$t/kept")
    val kept = s.read.parquet(s"$t/kept")
    // the three layer families are independent outputs of the staged
    // input (nothing orders them before the commit row that follows all
    // of them): overlap their write jobs — guide §2.6
    Jobs.par(
      () => DedupIndex.writeDerived(s, kept, s"$t/dedup", "overwrite"),
      () => StatsStore.partials(statsDelta)
        .write.mode("overwrite").parquet(s"$t/stats/partials"),
      () => VocabStore.partials(statsDelta)
        .write.mode("overwrite").parquet(s"$t/vocab/partials"))
  }

  /** THE COMMIT POINT: one marker file, created if-absent. Before it
    * exists no store shows the batch; after it every participating
    * store does.
    *
    * create-if-absent IS the multi-writer arbitration (the
    * conditional-PUT design note on [[nextTxnId]], implemented): if two
    * writers race to the same id, exactly one marker creation succeeds;
    * the loser gets a loud failure here — before anything became
    * visible — leaving only uncommitted staging (invisible to every
    * reader, [[vacuum]]'s food) to re-stage under a fresh id. On HDFS
    * the exclusive create is atomic; on an object store the same call
    * maps to a conditional PUT. A crashed commit retry is safe both
    * ways: crash BEFORE the marker → redo re-stages and re-commits the
    * same id; crash AFTER → nextTxnId already sees the commit and moves
    * on, and the retry's refusal here is the correct signal that the
    * transaction is already durable.
    *
    * The SAME-ID race is closed end-to-end (the r16/r17 residual): the
    * marker arbitrates the commit AND its content names the winner's
    * staging nonce, so a loser still mid-stage when the winner's marker
    * lands is writing into its OWN `t<id>-<nonce>/` — it cannot touch
    * the winner's now-committed layer, and its commit fails loudly
    * before anything became visible, leaving only orphaned staging
    * ([[vacuum]]'s food) to re-stage under a fresh id. This is Delta's
    * `_delta_log/<version>` shape complete: put-if-absent log entry
    * whose content owns the files. The legacy empty-nonce form stays
    * supported (stage/commit with the default "" arbitrates the commit
    * only — same-id staging then shares `t<id>/`, the documented
    * pre-nonce contract). */
  def commit(s: SparkSession, dir: String, id: Long, nonce: String = ""): Unit = {
    // CHECKPOINT INTERLOCK: while `ckpt_pending` is up the publish is
    // rewriting bases and truncating the log; refuse (retryably) rather
    // than land a commit nobody can read yet (readers refuse the whole
    // window). The check is check-then-act — a marker raised BETWEEN
    // this probe and the claim below lets one commit slip into the
    // publish window — so this is a courtesy fence, not the safety
    // mechanism: CORRECTNESS against a racing checkpoint rests entirely
    // on the frozen fold set (publish deletes exactly `_folded`'s ids,
    // so a commit landing anywhere in the window survives as a layer).
    // The staging is untouched; the writer retries the SAME id+nonce
    // after the checkpoint completes (ids allocated before the fold
    // stay valid: the retained high-water marker keeps allocation
    // monotone).
    if (exists(s, marker(dir).toString))
      throw new IllegalStateException(
        s"store-txn checkpoint at ${root(dir)} is publishing " +
          "(ckpt_pending is up) — commit refused; retry after " +
          "StoreTxn.checkpoint completes (staging is preserved)")
    val m = commitMarker(dir, id)
    val fs = m.getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.mkdirs(m.getParent)
    if (!atomicClaim(fs, m, nonce)) throw new IllegalStateException(
      s"transaction $id at ${root(dir)} is already committed — another " +
        "writer won the commit race (or this is a retry of a transaction " +
        "that already landed); re-stage under nextTxnId and commit again")
  }

  /** Create marker `m` carrying `content`, if-absent, ATOMICALLY — true
    * iff this call won the claim. On HDFS `create(overwrite = false)`
    * is an atomic exclusive create; on an object store the same call
    * maps to a conditional PUT. On the LOCAL filesystem Hadoop's
    * createNewFile/create(false) is exists()-then-create — check-then-
    * act, NOT atomic (the r17 ADVICE finding) — so the claim drops to
    * `java.io.File.createNewFile`, a single O_CREAT|O_EXCL syscall.
    * Only the claim WINNER writes the content, so the content write
    * itself is uncontended; a reader in the instruction-scale window
    * between claim and content sees a zero-length marker, which
    * [[readNonce]] resolves to a not-yet-existing layer dir — "not yet
    * visible", never a torn layer. */
  private def atomicClaim(fs: org.apache.hadoop.fs.FileSystem,
      m: org.apache.hadoop.fs.Path, content: String): Boolean = {
    val bytes = content.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val isLocal = fs.isInstanceOf[org.apache.hadoop.fs.LocalFileSystem] ||
      fs.isInstanceOf[org.apache.hadoop.fs.RawLocalFileSystem]
    if (isLocal) {
      val f = new java.io.File(m.toUri.getPath)
      if (bytes.isEmpty) f.createNewFile() // legacy empty marker: nothing to tear
      else {
        // Claim AND content in one atomic step: write the content to a
        // writer-unique temp file, then hard-LINK it to the marker path —
        // link(2) fails if the target exists (the losing race outcome)
        // and otherwise publishes the fully-written content atomically,
        // so no reader can ever observe a claimed-but-empty marker and a
        // crash between "claim" and "content" cannot exist (the two are
        // one syscall). The temp file is unlinked either way.
        val tmp = new java.io.File(f.getParentFile,
          s".${f.getName}.claim.${java.util.UUID.randomUUID().toString.take(8)}")
        try {
          // the write sits INSIDE the try so a failure (disk full) still
          // reaches the finally's delete — otherwise the dot-prefixed
          // temp (invisible to the foreign-layout check by design) would
          // accumulate in the commits dir
          java.nio.file.Files.write(tmp.toPath, bytes)
          try {
            java.nio.file.Files.createLink(f.toPath, tmp.toPath)
            true
          } catch {
            case _: java.nio.file.FileAlreadyExistsException => false
            // link(2)-less mounts surface two ways: providers that
            // don't implement createLink at all throw UOE, while the
            // default Unix provider maps the syscall's EPERM/EOPNOTSUPP
            // to FileSystemException (FAEE, the lost-race outcome, is
            // its subclass and is matched ABOVE). Either way: fall back
            // to the O_EXCL createNewFile + content write — this
            // reopens the instruction-scale claimed-then-content
            // window, which readNonce already tolerates as a
            // zero-length marker ("not yet visible"), so the fallback
            // degrades atomicity of claim+content, never correctness.
            // A FAILED content write rolls the claim back (the HDFS
            // path's rule): leaving the empty marker would burn the id
            // as a permanently content-less commit. A fallback that
            // fails too (a genuine IO problem, not a link limitation)
            // still fails loudly through createNewFile/write.
            case _: UnsupportedOperationException |
                 _: java.nio.file.FileSystemException =>
              if (!f.createNewFile()) false
              else {
                try { java.nio.file.Files.write(f.toPath, bytes); true }
                catch {
                  case e: java.io.IOException =>
                    f.delete()
                    throw new IllegalStateException(
                      s"won the claim on $m but failed writing its " +
                        "content — claim rolled back; retry the commit", e)
                }
              }
          }
        } finally tmp.delete()
      }
    } else {
      // HDFS/object store: create(overwrite=false) is the atomic claim
      // (conditional PUT). Only the CREATE maps to "lost the race"; a
      // failure while WRITING the content means this writer OWNS the
      // claim — leaving the empty marker behind would burn the id as a
      // permanently content-less commit (and could resurrect a legacy
      // bare t<id> dir as committed-visible), so the claim is rolled
      // back before rethrowing and the commit stays retryable.
      val out =
        try fs.create(m, false)
        catch {
          case _: org.apache.hadoop.fs.FileAlreadyExistsException => return false
          case _: java.nio.file.FileAlreadyExistsException => return false
          case e: java.io.IOException if fs.exists(m) => return false
        }
      try {
        try { if (bytes.nonEmpty) out.write(bytes) } finally out.close()
        true
      } catch {
        case e: java.io.IOException =>
          try fs.delete(m, false)
          catch { case sup: java.io.IOException => e.addSuppressed(sup) }
          throw new IllegalStateException(
            s"won the claim on $m but failed writing its content — claim " +
              "rolled back; retry the commit", e)
      }
    }
  }

  /** THE TRANSACTION VERB every absorb shares: allocate the next id,
    * stage its layers under a fresh writer-unique nonce (`body(id,
    * nonce)`), then commit that nonce. Returns the committed id. */
  private def transact(s: SparkSession, dir: String)(
      body: (Long, String) => Unit): Long = phase(s, "transact") {
    val id = nextTxnId(s, dir)
    val nonce = newNonce()
    body(id, nonce)
    commit(s, dir, id, nonce)
    id
  }

  /** The atomic absorb: stage both stores' increments under one commit. */
  def absorbBoth(s: SparkSession, dir: String, dedupDelta: DataFrame,
      statsDelta: DataFrame): Long =
    transact(s, dir)(stage(s, dir, dedupDelta, statsDelta, _, _))

  /** Stage transaction `id` for the INGEST pair — the two stores whose
    * absorbs previously committed independently (the r15 residual: a
    * crash between q150's graph absorb and q141's embed absorb left
    * edges covering the batch while the vector index didn't, the exact
    * skew absorbBoth closes for the text stores):
    *   - graph: the delta batch's own pair aggregation (additive
    *     partials, GraphStore.absorb's layer) under `t<id>/graph/edges`;
    *   - embed: the batch's 'unique' survivors judged against the
    *     COMMITTED transactional index (base ∪ layers — txn 0 sees the
    *     pristine base, exactly q142's absorb) under
    *     `t<id>/embed/buckets`.
    * Overwrite mode throughout (crashed-stage retry replaces partials);
    * invisible until [[commit]]. */
  def stageIngest(s: SparkSession, dir: String, embedDelta: DataFrame,
      id: Long): Unit =
    stageIngest(s, dir, embedDelta, GraphStore.deltaPairs(s, dir), id)

  /** The tranche-explicit form: a STREAMING ingest (q166) delivers the
    * delta one tick at a time, so each transaction stages its own
    * tick's pair aggregation, not the whole delta's — additive partials
    * sum across transactions to the one-shot absorb exactly. */
  def stageIngest(s: SparkSession, dir: String, embedDelta: DataFrame,
      graphPairs: DataFrame, id: Long, withAnn: Boolean = false,
      nonce: String = ""): Unit = {
    val t = stagingDir(dir, id, nonce)
    // the graph partial and the embed-judge chain are independent until
    // the commit row: overlap them (guide §2.6). The ANN layer stays
    // inside the embed thunk — it reads the just-staged embed rows.
    Jobs.par(
      () => graphPairs
        .write.mode("overwrite").parquet(s"$t/graph/edges"),
      () => {
        val keptIds = judgeEmbedTx(s, dir, embedDelta)
          .where("verdict = 'unique'").select(col("vec_id"))
        embedDelta.select(col("bucket"), col("vec_id")).join(keptIds, Seq("vec_id"))
          .select(col("bucket"), col("vec_id"))
          .write.mode("overwrite").parquet(s"$t/embed/buckets")
        // The ANN tier's layer: the SAME survivor set (read back from the
        // just-staged embed rows — one parquet read instead of a second
        // judge pass), assigned to q54's fixed-hyperplane buckets. The gate
        // decides WHAT enters the index; this stages WHERE it lands —
        // both invisible until the one commit row.
        if (withAnn) {
          val kept = s.read.parquet(s"$t/embed/buckets").select(col("vec_id"))
          AnnTxStore.withB54(embedDelta.join(kept, Seq("vec_id")))
            .select(col("b54"), col("vec_id"))
            .write.mode("overwrite").parquet(s"$t/ann/buckets")
        }
      })
  }

  /** The atomic ingest absorb: graph edge partials and embed bucket
    * rows land under ONE commit row — both stores advance in the same
    * instant or not at all (TxStoreSpec pins the crash window). */
  def absorbIngest(s: SparkSession, dir: String,
      embedDelta: DataFrame): Long =
    absorbIngest(s, dir, embedDelta, GraphStore.deltaPairs(s, dir))

  /** Tranche-explicit atomic ingest absorb (see the [[stageIngest]]
    * overload): one tick's embed rows and ITS OWN graph pair partials
    * land under one commit row. */
  def absorbIngest(s: SparkSession, dir: String, embedDelta: DataFrame,
      graphPairs: DataFrame, withAnn: Boolean = false): Long =
    transact(s, dir)(stageIngest(s, dir, embedDelta, graphPairs, _, withAnn, _))

  /** Stage a document tranche's search-index increment: its postings
    * (tb kept as an ordinary column — see [[allSearchPostingsTx]]) and its
    * one additive stat row, both invisible until [[commit]]. Overwrite
    * mode: a crashed-stage retry replaces the partial layer. */
  def stageSearch(s: SparkSession, dir: String, batch: DataFrame,
      id: Long, nonce: String = ""): Unit = {
    val t = stagingDir(dir, id, nonce)
    // independent outputs of one tranche — overlap (guide §2.6)
    Jobs.par(
      () => SearchStore.postings(batch)
        .write.mode("overwrite").parquet(s"$t/search/postings"),
      () => SearchStore.statPartial(batch)
        .coalesce(1).write.mode("overwrite").parquet(s"$t/search/stats"))
  }

  /** The atomic search absorb: one tranche's postings + stat partial
    * land under one commit row. Doc-disjoint tranches union to the
    * one-shot index exactly, so the committed read serves q99's
    * full-table oracle verbatim. */
  def absorbSearch(s: SparkSession, dir: String, batch: DataFrame): Long =
    transact(s, dir)(stageSearch(s, dir, batch, _, _))

  /** q99's BM25 off the TRANSACTIONAL index — base ∪ committed layers
    * through [[SearchStore.bm25Of]]. */
  def bm25Tx(s: SparkSession, dir: String): DataFrame = bm25TxAsOf(s, dir, Long.MaxValue)

  /** SEARCH-TIER TIME TRAVEL (q197): BM25 as of transaction `maxTxn` —
    * the index snapshot is a log-prefix filter over postings AND stats
    * layers together, so the ranker's N/Σdl normalizer and its postings
    * always describe the same historical corpus (the skew a per-store
    * as-of would reintroduce). Inherits the folded-generation refusal. */
  def bm25TxAsOf(s: SparkSession, dir: String, maxTxn: Long): DataFrame =
    // the predicate pushes through the union to every leg (partition
    // pruning on the hive-layout base, a pushed filter on the layers)
    SearchStore.bm25Of(allSearchPostingsTx(s, dir, maxTxn)
      .where(SearchStore.termFilter(s, SearchStore.bm25Terms)),
      searchStatsTx(s, dir, maxTxn))

  // ---- transactional parquet table (q191): ACID appends over plain
  // files. The zone table IS the manifest: appended data files land in
  // the shared layout directory but readers resolve the file list from
  // base zones ∪ committed zone layers — never a directory listing — so
  // a file is invisible until its manifest rows' commit row exists. This
  // is the Delta/Iceberg table contract rebuilt on the same commit log
  // the other six stores ride (data files outside the log, manifests
  // inside it, vacuum for unreferenced files). ----

  /** The generation rule for the table tier's clustered base. */
  def ensureZoneBase(s: SparkSession, dir: String): Unit =
    ensureGeneration(s, dir, ZoneMapStore.isCurrent(s, dir, variant))(
      ZoneMapStore.build(s, dir, variant))

  /** The table's committed VIEW of layer `sub` through transaction
    * `maxTxn`: whether the base participates, and the layers that do. A
    * committed REPLACE transaction (q198 — INSERT OVERWRITE) is a
    * boundary: the view is the replace's own layers onward, base and
    * earlier layers excluded — truncate-and-load as one commit row, old
    * files left on disk for time travel until [[vacuumTable]] reclaims
    * them. */
  private def tableLayers(s: SparkSession, dir: String, sub: String,
      maxTxn: Long = Long.MaxValue): (Boolean, Seq[(Long, String)]) = {
    val boundary = layers(s, dir, "table/replace", maxTxn).lastOption.map(_._1)
    (boundary.isEmpty,
      layers(s, dir, sub, maxTxn).filter(l => boundary.forall(l._1 >= _)))
  }

  /** Base manifest ∪ committed zone layers — the transactional file
    * list (through the replace boundary). Per-path reads (a folded base
    * carries the ftxn sequence column, fresh layers don't — mixed
    * schemas must not meet in one scan), normalized to the manifest's
    * four columns. */
  private def zoneManifestTx(s: SparkSession, dir: String,
      maxTxn: Long = Long.MaxValue): DataFrame = {
    val (withBase, zones) = tableLayers(s, dir, "table/zones", maxTxn)
    val cols = Seq("file", "min_key", "max_key", "n_rows").map(col)
    (Seq(ZoneMapStore.zonesPath(dir, variant)).filter(_ => withBase) ++ zones.map(_._2))
      .map(s.read.parquet(_).select(cols: _*)).reduce(_.unionByName(_))
  }

  /** Stage one tranche: its data files append to the layout (invisible —
    * nothing references them yet), its manifest rows land under the
    * transaction dir. The new-file diff lists the layout before/after
    * (bounded driver op, exact under the documented single-writer
    * assumption); a crashed-stage retry overwrites the zone layer
    * wholesale and appends fresh files — the orphans are
    * [[vacuumTable]]'s job, exactly like abandoned txn staging. */
  def stageTableAppend(s: SparkSession, dir: String, tranche: DataFrame,
      id: Long, nonce: String = ""): Unit = {
    val layout = ZoneMapStore.layoutPath(dir, variant)
    val hp = new org.apache.hadoop.fs.Path(layout)
    val fs = hp.getFileSystem(s.sparkContext.hadoopConfiguration)
    val known =
      if (exists(s, layout))
        fs.listStatus(hp).map(_.getPath.toString)
          .filter(_.endsWith(".parquet")).map(ZoneMapStore.normPath).toSet
      else Set.empty[String]
    val fresh = ZoneMapStore.appendFiles(s, tranche, dir, variant, 2, known)
    ZoneMapStore.zonesOf(s.read.parquet(fresh: _*))
      .coalesce(1).write.mode("overwrite")
      .parquet(s"${stagingDir(dir, id, nonce)}/table/zones")
  }

  /** The atomic table append: data files + manifest rows behind one
    * commit row. */
  def absorbTableAppend(s: SparkSession, dir: String,
      tranche: DataFrame): Long =
    transact(s, dir)(stageTableAppend(s, dir, tranche, _, _))

  /** The committed DELETE VECTOR with SEQUENCE NUMBERS: every delete row
    * carries the txn that issued it (`dtxn` — written at stage time, so
    * a checkpoint fold preserves it), because a delete applies only to
    * files from EARLIER transactions. That ordering is what makes
    * upserts (q195) expressible as delete + append under one txn: the
    * replacing rows' files carry the same sequence number as the delete
    * and survive it — Iceberg's sequence-number rule. None when no
    * delete has ever committed — the common case pays nothing. */
  private def tableDeletesTx(s: SparkSession, dir: String,
      maxTxn: Long = Long.MaxValue): Option[DataFrame] = {
    val (withBase, dels) = tableLayers(s, dir, "table/deletes", maxTxn)
    val paths = Seq(ZoneMapStore.deletesPath(dir, variant))
      .filter(p => withBase && exists(s, p)) ++ dels.map(_._2)
    if (paths.isEmpty) None else Some(s.read.parquet(paths: _*))
  }

  /** Every committed file tagged with its sequence number: base files
    * carry the ftxn a prior checkpoint folded (or −1 when pristine),
    * layer files their transaction id. Bounded (#files rows), reads
    * each layer separately so mixed schemas never meet one scan. */
  private def fileTxnMap(s: SparkSession, dir: String,
      maxTxn: Long = Long.MaxValue): DataFrame = {
    val (withBase, zones) = tableLayers(s, dir, "table/zones", maxTxn)
    val baseTagged = if (withBase) {
      val base = s.read.parquet(ZoneMapStore.zonesPath(dir, variant))
      if (base.columns.contains("ftxn"))
        Seq(base.select(col("file"), col("ftxn")))
      else Seq(base.select(col("file"), lit(-1L).as("ftxn")))
    } else Seq.empty
    (baseTagged ++ zones.map { case (id, p) =>
      s.read.parquet(p).select(col("file"), lit(id).as("ftxn")) })
      .reduce(_.unionByName(_))
  }

  /** Stage a MERGE-ON-READ delete (q193): the victims' keys land as a
    * delete-vector layer tagged with this txn's sequence number — no
    * data file is touched; readers drop a row iff some committed delete
    * with a HIGHER sequence number than the row's file names its key
    * (broadcast: deletions are small relative to the table). Iceberg
    * v2's equality-delete shape on this commit log. */
  def stageTableDelete(s: SparkSession, dir: String, pred: String,
      id: Long, nonce: String = ""): Unit =
    Tables.t(s, dir, "orders").where(pred)
      .select(col("o_orderkey"), lit(id).as("dtxn"))
      .coalesce(1).write.mode("overwrite")
      .parquet(s"${stagingDir(dir, id, nonce)}/table/deletes")

  /** The atomic table delete: one commit row flips the delete vector. */
  def absorbTableDelete(s: SparkSession, dir: String, pred: String): Long =
    transact(s, dir)(stageTableDelete(s, dir, pred, _, _))

  /** UPSERT (q195) — MERGE INTO as one transaction: a delete vector for
    * the incoming keys plus the replacing rows' files, both at the same
    * sequence number, one commit row. Readers resolve it row-free: old
    * files (lower ftxn) lose the keys, the new files (ftxn == dtxn)
    * keep them. */
  def stageTableUpsert(s: SparkSession, dir: String, pred: String,
      tranche: DataFrame, id: Long, nonce: String = ""): Unit =
    // the delete vector and the replacing tranche's files+manifest are
    // independent outputs of one transaction — overlap them (guide §2.6);
    // the commit row still lands strictly after both
    Jobs.par(
      () => stageTableDelete(s, dir, pred, id, nonce),
      () => stageTableAppend(s, dir, tranche, id, nonce))

  def absorbTableUpsert(s: SparkSession, dir: String, pred: String,
      tranche: DataFrame): Long =
    transact(s, dir)(stageTableUpsert(s, dir, pred, tranche, _, _))

  /** The sequence-number scrub: keep a row iff no committed delete with
    * a higher sequence number than its file's names its key. Two
    * broadcast joins (file→ftxn is #files rows; per-key max-dtxn is
    * |delete-vector| rows) — nothing corpus-scale moves. */
  private def deleteScrub(s: SparkSession, dir: String,
      maxTxn: Long = Long.MaxValue): DataFrame => DataFrame =
    df => tableDeletesTx(s, dir, maxTxn) match {
      case None => df
      case Some(dels) =>
        val dmax = dels.groupBy(col("o_orderkey"))
          .agg(max(col("dtxn")).as("dmax"))
        df.withColumn("__file",
            regexp_replace(input_file_name(), "^[a-zA-Z0-9+.-]+:/+", "/"))
          .join(broadcast(fileTxnMap(s, dir, maxTxn)),
            col("__file") === col("file"), "left")
          .join(broadcast(dmax), Seq("o_orderkey"), "left")
          .where(col("dmax").isNull || col("dmax") <= col("ftxn"))
          .drop("__file", "file", "ftxn", "dmax")
    }

  /** The table's full committed row set — every manifest file, delete
    * vector resolved. The whole-table read OPTIMIZE and exports use. */
  def tableRowsTx(s: SparkSession, dir: String): DataFrame = {
    val files = zoneManifestTx(s, dir)
      .select("file").collect().map(_.getString(0)).toIndexedSeq
    deleteScrub(s, dir)(s.read.parquet(files: _*))
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
  }

  /** OPTIMIZE (q206) — one transaction that compacts every committed
    * small file, resolves the delete vector PHYSICALLY, and re-ranges
    * the layout, all behind a single commit row: it is a REPLACE whose
    * tranche is the table's own committed row set. Readers flip from
    * the fragmented+vectored view to the clean one atomically; the old
    * generation stays as-of-readable until checkpoint+vacuum, exactly
    * like any replace. Post-optimize reads pay no delete anti-join
    * (the boundary excludes every delete layer). */
  def optimizeTable(s: SparkSession, dir: String): Long =
    absorbTableReplace(s, dir, tableRowsTx(s, dir))

  /** q183's range aggregate over the transactional manifest, with the
    * committed delete vector resolved out between scan and rollup. */
  def tableRangeAggregateTx(s: SparkSession, dir: String): DataFrame =
    tableRangeAggregateTxAsOf(s, dir, Long.MaxValue)

  /** TIME TRAVEL on the transactional table (q192): the manifest as of
    * transaction `maxTxn` — base zones ∪ committed zone layers with id
    * ≤ maxTxn — IS the table snapshot, because data files are immutable
    * once written: no data is copied, no file is rewritten, history is
    * a filter on the commit log exactly like [[storedStatsTxAsOf]]
    * (whose folded-generation refusal this inherits from [[layers]]:
    * after a checkpoint the log prefix no longer reconstructs the
    * snapshot). */
  def tableRangeAggregateTxAsOf(s: SparkSession, dir: String,
      maxTxn: Long): DataFrame =
    ZoneMapStore.rangeAggregateOf(s,
      ZoneMapStore.prunedFilesOf(zoneManifestTx(s, dir, maxTxn)),
      deleteScrub(s, dir, maxTxn))

  /** The orders feed of the table tier's streams (q194, q205): two
    * tranches, one tick each, staged once per corpus content. */
  private def stageOrderTicks(s: SparkSession, dir: String, name: String): Unit = {
    val orders = Tables.t(s, dir, "orders")
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
    StoreMeta.stageTicks(s, name, dir)(
      () => orders.where("o_orderkey % 10 IN (7, 8)"),
      () => orders.where("o_orderkey % 10 = 9"))
  }

  /** STREAMING table appends (q194): each micro-batch lands as its own
    * ACID commit — the continuously-ingesting deployment where a crash
    * between ticks can never expose a torn tranche, because the manifest
    * rows and the commit row of each tick stand or fall together. Feed
    * staging + deterministic micro-batch order are the q151/q166 device
    * (two range files, mtime-ordered, maxFilesPerTrigger=1). */
  private def streamTableAppend(s: SparkSession, dir: String): DataFrame = {
    freshTable(s, dir)
    stageOrderTicks(s, dir, "table")
    StoreMeta.drain(s, "table", dir)(absorbTableAppend(s, dir, _))
    tableRangeAggregateTx(s, dir)
  }

  /** The table lifecycles' common start: a fresh log over the clustered
    * base, with the files the previous lap's reset stranded reclaimed. */
  private def freshTable(s: SparkSession, dir: String): Unit = {
    reset(s, dir)
    ensureZoneBase(s, dir)
    vacuumTable(s, dir)
  }

  /** [[freshTable]], then the two order tranches (o%10 ∈ {7,8}, then
    * o%10 = 9) as two append commits. Returns the orders table. */
  private def tableTwoTranches(s: SparkSession, dir: String): DataFrame = {
    freshTable(s, dir)
    val orders = Tables.t(s, dir, "orders")
    absorbTableAppend(s, dir, orders.where("o_orderkey % 10 IN (7, 8)"))
    absorbTableAppend(s, dir, orders.where("o_orderkey % 10 = 9"))
    orders
  }

  // ---- incremental materialized view (q203): a status-rollup MV kept
  // in lockstep with the table by PARTIALS PER COMMIT — each txn stages
  // its own additive delta (adds from its new files, retractions from
  // the rows its delete vector kills), and the MV read merges partials
  // only, never re-scanning the table. Classic IVM on the commit log:
  // refresh cost is O(txn delta), not O(table). ----

  private def mvPartialOf(df: DataFrame, sign: Int): DataFrame =
    df.groupBy(col("o_orderstatus"))
      .agg((count(lit(1)) * sign).as("d_n"),
        (sum((col("o_totalprice").cast("decimal(18,2)") * 100).cast("bigint"))
          * sign).as("d_cents"))

  /** The base MV: one aggregation of the base layout, persisted once per
    * generation (production folds this at build time). */
  def mvEnsureBase(s: SparkSession, dir: String): Unit = {
    val files = s.read.parquet(ZoneMapStore.zonesPath(dir, variant))
      .select("file").collect().map(_.getString(0)).toIndexedSeq
    mvPartialOf(s.read.parquet(files: _*), 1)
      .coalesce(1).write.mode("overwrite")
      .parquet(mvBase(dir, "_mvbase"))
  }

  /** Stage txn `id`'s MV delta next to its table layers (same commit row
    * flips both — the MV can never skew from the table):
    *  - ADDS: aggregate of exactly the files this txn's manifest lists;
    *  - RETRACTS: the rows this txn's delete vector kills — i.e. rows
    *    visible as of `id − 1` whose key the vector names. Candidate
    *    files prune through the zones against the vector's key range
    *    (the point-lookup path of the zone store), then one broadcast
    *    semi-join; cost is files-containing-the-keys, not the table.
    * "Visible before this txn" is the committed view: `id` is
    * uncommitted while it stages, and under the log's monotone
    * allocation no later id commits before it (a writer that loses `id`
    * loses its commit too) — so the read needs no as-of filter, and
    * stays legal on a checkpoint-folded root. */
  def mvStage(s: SparkSession, dir: String, id: Long,
      nonce: String = ""): Unit = {
    val zp = s"${stagingDir(dir, id, nonce)}/table/zones"
    val dp = s"${stagingDir(dir, id, nonce)}/table/deletes"
    val adds =
      if (exists(s, zp)) {
        val files = s.read.parquet(zp)
          .select("file").collect().map(_.getString(0)).toIndexedSeq
        Some(mvPartialOf(s.read.parquet(files: _*), 1))
      } else None
    val retracts =
      if (exists(s, dp)) {
        val keys = s.read.parquet(dp).select(col("o_orderkey"))
        val bounds = keys.agg(min(col("o_orderkey")), max(col("o_orderkey"))).head()
        // a delete predicate that matched nothing stages an empty
        // vector: the min/max are null, there is nothing to retract
        if (bounds.isNullAt(0)) None
        else {
          val (kmin, kmax) = (bounds.getLong(0), bounds.getLong(1))
          // zone-pruned candidates among files visible BEFORE this txn
          val cand = zoneManifestTx(s, dir)
            .where(col("max_key") >= kmin && col("min_key") <= kmax)
            .select("file").collect().map(_.getString(0)).toIndexedSeq
          val victims = deleteScrub(s, dir)(s.read.parquet(cand: _*))
            .join(broadcast(keys), Seq("o_orderkey"), "left_semi")
          Some(mvPartialOf(victims, -1))
        }
      } else None
    // a txn may stage neither side (an empty-match delete): the MV
    // delta is then the empty partial, written so the commit still
    // carries a well-formed (if zero-row) mv layer
    (adds.toSeq ++ retracts.toSeq)
      .reduceOption(_.unionByName(_))
      .getOrElse(mvPartialOf(
        Tables.t(s, dir, "orders").where(lit(false)), 1))
      .coalesce(1).write.mode("overwrite")
      .parquet(s"${stagingDir(dir, id, nonce)}/mv")
  }

  /** A committed REPLACE (q198 / OPTIMIZE) drops base and earlier
    * layers from the table view, but the MV's additive partials cannot
    * express that subtraction — serving base + deltas across the
    * boundary would silently over-count, the exact skew this tier
    * exists to prevent. Refuse loudly (bm25TxAsOf's device); the heal
    * is [[checkpoint]], whose MV fold REBASES from the post-replace
    * committed rows. */
  private def requireNoReplaceForMv(s: SparkSession, dir: String): Unit = {
    val replaced = layers(s, dir, "table/replace").map(_._1)
    if (replaced.nonEmpty) throw new IllegalStateException(
      s"transactions ${replaced.mkString(",")} at ${root(dir)} are REPLACE " +
        "boundaries; additive MV partials cannot express a replace — run " +
        "StoreTxn.checkpoint (its MV fold rebases to the post-replace view) " +
        "before reading the materialized view")
  }

  /** The MV read: base partial ∪ committed per-txn deltas, one
    * #statuses-sized fold — the table itself is never opened (the spec
    * pins no layout path in the plan). */
  def matViewTx(s: SparkSession, dir: String): DataFrame =
    mvRead(s, dir, "_mvbase", "mv", "o_orderstatus")

  private def mvRead(s: SparkSession, dir: String, suffix: String,
      sub: String, key: String): DataFrame = {
    requireNoReplaceForMv(s, dir)
    mvFold(s, dir, suffix, sub, key).select(col(key),
      col("d_n").as("n_orders"), col("d_cents").as("revenue_cents"))
      .orderBy(col(key))
  }

  /** An MV's base partial ∪ its committed `sub` deltas, summed per `key`
    * — itself a partial: the read's input and the checkpoint's fold. */
  private def mvFold(s: SparkSession, dir: String, suffix: String,
      sub: String, key: String): DataFrame = {
    val base = mvBase(dir, suffix)
    s.read.parquet((Seq(base).filter(exists(s, _)) ++
      layers(s, dir, sub).map(_._2)): _*)
      .groupBy(col(key))
      .agg(sum(col("d_n")).as("d_n"), sum(col("d_cents")).as("d_cents"))
  }

  /** The join-MV partial (q204): the delta joined to the customer→nation
    * dimension path BEFORE aggregation — IVM through a join works
    * because the dimension is immutable here, so Δ(fact ⋈ dim) =
    * Δfact ⋈ dim and the partials stay additive. The join costs the
    * DELTA's size each refresh (dimensions broadcast), never the
    * table's. */
  private def mvJoinPartialOf(s: SparkSession, dir: String, df: DataFrame,
      sign: Int): DataFrame = {
    val cust = Tables.t(s, dir, "customer")
      .select(col("c_custkey"), col("c_nationkey"))
    val nat = Tables.t(s, dir, "nation")
      .select(col("n_nationkey"), col("n_name"))
    df.join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg((count(lit(1)) * sign).as("d_n"),
        (sum((col("o_totalprice").cast("decimal(18,2)") * 100).cast("bigint"))
          * sign).as("d_cents"))
  }

  /** q204's base partial + per-txn delta staging + read — the q203
    * machinery with the dimension join folded into every partial. The
    * staged tranche keeps o_custkey (the join key), so the table layers
    * carry it too; zones/pruning are unaffected (same key column). */
  def mvJoinEnsureBase(s: SparkSession, dir: String): Unit = {
    val files = s.read.parquet(ZoneMapStore.zonesPath(dir, variant))
      .select("file").collect().map(_.getString(0)).toIndexedSeq
    // base layout rows lack o_custkey (the table schema is 3-column);
    // rejoin via key against the source — base-build-time work only
    val base = s.read.parquet(files: _*).select(col("o_orderkey"))
      .join(Tables.t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice")),
        Seq("o_orderkey"))
    mvJoinPartialOf(s, dir, base, 1)
      .coalesce(1).write.mode("overwrite")
      .parquet(mvBase(dir, "_mvjbase"))
  }

  def mvJoinStage(s: SparkSession, dir: String, tranche: DataFrame,
      id: Long, nonce: String = ""): Unit =
    mvJoinPartialOf(s, dir, tranche, 1)
      .coalesce(1).write.mode("overwrite")
      .parquet(s"${stagingDir(dir, id, nonce)}/mvj")

  def matViewJoinTx(s: SparkSession, dir: String): DataFrame =
    mvRead(s, dir, "_mvjbase", "mvj", "n_name")

  /** TABLE CHANGELOG (q196): what each transaction did, recovered from
    * the commit log alone — rows added (manifest layer n_rows sums) and
    * keys deleted (delete layer counts) per txn, without replaying a
    * batch or touching a data file. One bounded driver loop over the
    * committed ids (#txns, the same class as committedTxns itself). */
  def tableChangelogTx(s: SparkSession, dir: String): DataFrame = {
    val added = layers(s, dir, "table/zones").map { case (id, p) =>
      id -> s.read.parquet(p).agg(sum(col("n_rows"))).head().getLong(0) }.toMap
    val deleted = layers(s, dir, "table/deletes")
      .map { case (id, p) => id -> s.read.parquet(p).count() }.toMap
    import s.implicits._
    committedTxns(s, dir)
      .map(id => (id, added.getOrElse(id, 0L), deleted.getOrElse(id, 0L)))
      .toDF("txn", "rows_added", "keys_deleted").orderBy(col("txn"))
  }

  /** VACUUM for the table tier: delete layout files no manifest row —
    * base or committed layer — references. Reclaims crashed-stage
    * orphans and the data files a [[reset]] log-drop stranded. Like
    * [[vacuum]], this is the one verb that LISTS the layout (orphans
    * are precisely what the manifests do not reference); returns the
    * reclaimed paths. Single-writer: must not race a stage. */
  def vacuumTable(s: SparkSession, dir: String): Seq[String] = {
    val layout = ZoneMapStore.layoutPath(dir, variant)
    val hp = new org.apache.hadoop.fs.Path(layout)
    val fs = hp.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!exists(s, layout)) return Seq.empty
    // referenced = EVERY manifest in the log, replace boundaries
    // ignored: a replaced generation's files stay reclaim-exempt while
    // their commits exist (time travel still reads them); they become
    // orphans only after a checkpoint folds the post-replace view and
    // truncates the log — the Delta retention story in two verbs
    val manifestPaths = Seq(ZoneMapStore.zonesPath(dir, variant))
      .filter(exists(s, _)) ++ layers(s, dir, "table/zones").map(_._2)
    val referenced = manifestPaths
      .flatMap(p => s.read.parquet(p).select("file")
        .collect().map(_.getString(0)))
      .toSet
    val orphans = fs.listStatus(hp).map(_.getPath.toString)
      .filter(_.endsWith(".parquet")).map(ZoneMapStore.normPath)
      .filterNot(referenced).toIndexedSeq
    orphans.foreach(p => fs.delete(new org.apache.hadoop.fs.Path(p), false))
    orphans
  }

  /** INSERT OVERWRITE (q198) — truncate-and-load as ONE transaction: the
    * replacing tranche's files + manifest land like any append, plus a
    * replace marker that makes this txn a view boundary (base and all
    * earlier layers drop out of every read at commit, atomically).
    * Nothing is deleted: the old generation stays readable via as-of
    * until a checkpoint folds the post-replace view and a vacuum
    * reclaims it. */
  def stageTableReplace(s: SparkSession, dir: String, tranche: DataFrame,
      id: Long, nonce: String = ""): Unit = {
    stageTableAppend(s, dir, tranche, id, nonce)
    import s.implicits._
    Seq(id).toDF("txn").coalesce(1).write.mode("overwrite")
      .parquet(s"${stagingDir(dir, id, nonce)}/table/replace")
  }

  def absorbTableReplace(s: SparkSession, dir: String,
      tranche: DataFrame): Long =
    transact(s, dir)(stageTableReplace(s, dir, tranche, _, _))

  // ---- checkpoint: fold committed layers into the base ----

  /** The persisted fold set: `staging_ckpt/_folded`, one `id<TAB>dirName`
    * line per frozen transaction, written at stage ENTRY. This is the
    * checkpoint's analogue of Delta naming the version a checkpoint
    * folds: the publish deletes EXACTLY this set's markers and layer
    * dirs, so a transaction that commits while the stage (or publish)
    * is in flight is simply NOT in the file and survives as a layer on
    * the folded base — sequence numbers already make that read
    * correctly. */
  private def foldedFile(dir: String) =
    new org.apache.hadoop.fs.Path(s"${stagingCkpt(dir)}/_folded")

  /** Where [[checkpointStage]] writes the staged copies. */
  private def stagingCkpt(dir: String) = s"${root(dir)}/staging_ckpt"

  private def writeFolded(s: SparkSession, dir: String,
      frozen: Seq[(Long, String)]): Unit = {
    val f = foldedFile(dir)
    val fs = f.getFileSystem(s.sparkContext.hadoopConfiguration)
    val body = frozen.map { case (id, td) =>
      s"$id\t${new org.apache.hadoop.fs.Path(td).getName}" }.mkString("\n")
    val out = fs.create(f, true)
    try out.write(body.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** None iff the staging carries no fold set — a pending marker raised
    * by a pre-freeze binary; the caller falls back to the legacy
    * re-list (correct under that binary's single-writer contract). */
  private def readFolded(s: SparkSession,
      dir: String): Option[Seq[(Long, String)]] = {
    val f = foldedFile(dir)
    val fs = f.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!exists(s, f.toString)) return None
    val in = fs.open(f)
    val body = try {
      val len = fs.getFileStatus(f).getLen.toInt
      val buf = new Array[Byte](len)
      in.readFully(buf)
      new String(buf, java.nio.charset.StandardCharsets.UTF_8)
    } finally in.close()
    Some(body.split("\n").toSeq.filter(_.nonEmpty).map { line =>
      val Array(id, name) = line.split("\t")
      id.toLong -> s"${root(dir)}/$name"
    })
  }

  /** Stage the merged (base ∪ committed layers) copy of every table,
    * then raise the pending marker. Split out so the crash window
    * between marker and publish is spec-drivable; [[checkpoint]] is the
    * public verb. The staged copies are pure READS of the committed
    * state — nothing is mutated until the marker is up.
    *
    * SNAPSHOT-CONSISTENT: the commit log is resolved ONCE at entry (the
    * frozen fold set), persisted to `staging_ckpt/_folded`, and every
    * staged read below resolves from that frozen set — so all tables
    * fold the SAME commit set even when a transaction commits
    * mid-stage, and [[checkpoint]]'s publish deletes exactly that set,
    * never a commit the fold didn't include. `midStage` is a spec hook
    * (default no-op) invoked after the freeze, where a racing writer's
    * commit would land. */
  private[graft] def checkpointStage(s: SparkSession, dir: String,
      midStage: () => Unit = () => ()): Unit = {
    val frozen = committedTxnDirs(s, dir)
    writeFolded(s, dir, frozen)
    midStage()
    beginStageGuard(dir)
    try withFrozenLog(dir, frozen) { stageFrozen(s, dir, stagingCkpt(dir)) }
    finally endStageGuard(dir)
    val m = marker(dir)
    m.getFileSystem(s.sparkContext.hadoopConfiguration).mkdirs(m)
  }

  /** The staged-fold body of [[checkpointStage]] — runs entirely under
    * the frozen commit log. A tier folds iff it participates (its bases
    * exist — see [[Tier]]). */
  private def stageFrozen(s: SparkSession, dir: String,
      staging: String): Unit =
    for (t <- tiers(s, dir) if t.bases.forall(exists(s, _)); f <- t.folds;
         df <- f.fold())
      df.coalesce(f.parts).write.mode("overwrite").parquet(s"$staging/${f.name}")

  // ---- the tier table: the one place a tier is declared ----

  /** One table a checkpoint folds: staged as `staging_ckpt/<name>` from
    * `fold` (the merged frame over the frozen log; None = nothing to
    * fold) in `parts` files, then published over `base` through
    * `publish` (the write shape). `dropUnstaged`: when the tier folds
    * but this table staged nothing, publish deletes its base instead. */
  private final case class Fold(name: String, base: String, parts: Int,
      fold: () => Option[DataFrame],
      publish: DataFrame => DataFrameWriter[Row] = _.write,
      dropUnstaged: Boolean = false)

  /** One tier of stores that ride the log. It takes part in a
    * checkpoint iff every path of `bases` exists — a session that never
    * built a tier's bases has, by the stage-before-commit bracket, no
    * committed layers of it either — and its folded tables publish iff
    * its first one was staged (the same test, applied to the redo
    * side). `invalidate` drops its bases' metas when [[reset]] discards
    * a folded history. */
  private final case class Tier(bases: Seq[String], invalidate: () => Unit,
      folds: Seq[Fold])

  private def tiers(s: SparkSession, dir: String): Seq[Tier] = {
    val single: DataFrame => DataFrameWriter[Row] = _.coalesce(1).write
    // Across a REPLACE boundary additive MV partials are meaningless
    // (base + pre-replace deltas no longer describe the table), so the
    // MV fold REBASES: one aggregation of the post-replace committed
    // rows — O(table) once, at the verb that is already O(table).
    lazy val replaced = layers(s, dir, "table/replace").nonEmpty
    def mv(name: String, suffix: String, sub: String, key: String,
        rebase: => DataFrame) = Fold(name, mvBase(dir, suffix), 1, () =>
      if (!exists(s, mvBase(dir, suffix))) None
      else Some(if (replaced) rebase else mvFold(s, dir, suffix, sub, key)),
      single)
    val zones = ZoneMapStore.zonesPath(dir, variant)
    val postings = SearchStore.postingsPath(dir, variant)
    Seq(
      Tier(Seq(dedupBase(dir, "exact"), statsBase(dir), vocabBase(dir)),
        () => {
          DedupIndex.invalidate(s, dir, variant)
          StatsStore.invalidate(s, dir, variant)
          VocabStore.invalidate(s, dir, variant)
        },
        Seq("exact", "shingles", "bands").map(t => Fold(s"dedup/$t",
          dedupBase(dir, t), 4, () => Some(dedupTable(s, dir, t)))) ++ Seq(
        Fold("stats/partials", statsBase(dir), 1, () => Some(
          statsPartials(s, dir).groupBy(col("lang"), col("source"))
            .agg(sum(col("n")).as("n"), sum(col("s1")).as("s1"),
              sum(col("s2")).as("s2"), min(col("mn")).as("mn"),
              max(col("mx")).as("mx")))),
        Fold("vocab/partials", vocabBase(dir), 1, () => Some(vocabPartials(s, dir)
          .groupBy(col("word")).agg(sum(col("cnt")).as("cnt")))))),
      // the ingest pair — without its fold, dropping t<id> dirs at
      // publish would silently delete committed graph/embed layers
      Tier(Seq(graphBase(dir), embedBase(dir)),
        () => {
          GraphStore.invalidate(s, dir, variant)
          EmbedIndex.invalidate(s, dir, variant)
        },
        Seq(Fold("graph/edges", graphBase(dir), 4, () => Some(mergedEdgesTx(s, dir))),
          Fold("embed/buckets", embedBase(dir), 4, () => Some(embedBuckets(s, dir))))),
      Tier(Seq(annBase(dir)), () => AnnTxStore.invalidate(s, dir),
        Seq(Fold("ann/buckets", annBase(dir), 4, () => Some(annBucketsTx(s, dir))))),
      // the search tier: postings union-fold (plain layout in staging;
      // the publish re-partitions into the base's tb= dirs), stats fold
      // to one additive row
      Tier(Seq(postings), () => SearchStore.invalidate(s, dir, variant), Seq(
        Fold("search/postings", postings, 4, () => Some(allSearchPostingsTx(s, dir)),
          _.repartition(col("tb")).write.partitionBy("tb")),
        Fold("search/stats", SearchStore.statsPath(dir, variant), 1,
          () => Some(searchStatsTx(s, dir)
            .agg(sum(col("n_docs")).as("n_docs"), sum(col("sum_dl")).as("sum_dl"))),
          single))),
      // the table tier folds its MANIFEST only — the data files already
      // live outside the log and stay referenced by the folded base zones
      Tier(Seq(zones), () => ZoneMapStore.invalidate(s, dir, variant), Seq(
        // the fold PRESERVES sequence numbers: each manifest row carries
        // its file's ftxn and each delete row its dtxn, so the
        // delete-applies-to-earlier-files rule keeps resolving correctly
        // after the t<id> dirs drop (folding them away would let a folded
        // delete re-kill the upsert rows that superseded it)
        Fold("table/zones", zones, 1,
          () => Some(zoneManifestTx(s, dir).join(fileTxnMap(s, dir), Seq("file"))),
          single),
        // the delete vector folds alongside (dropping t<id> dirs at
        // publish would otherwise resurrect every deleted row); only the
        // per-key MAX sequence matters to the resolution rule. A folded
        // view with NO deletes (e.g. a replace boundary dropped the
        // vector) deletes the base vector: a stale one from an earlier
        // fold would re-apply to the new generation.
        Fold("table/deletes", ZoneMapStore.deletesPath(dir, variant), 1,
          () => tableDeletesTx(s, dir).map(
            _.groupBy(col("o_orderkey")).agg(max(col("dtxn")).as("dtxn"))),
          single, dropUnstaged = true),
        // the MV partials fold alongside the manifest too — dropping the
        // t<id> dirs at publish would otherwise silently rewind matViewTx
        // to base-only state (it has no per-layer existence signal to
        // notice the loss, unlike the as-of readers' foldedFlag refusal)
        mv("table/mvbase", "_mvbase", "mv", "o_orderstatus",
          mvPartialOf(tableRowsTx(s, dir), 1)),
        mv("table/mvjbase", "_mvjbase", "mvj", "n_name", {
          // rebase keeps the COMMITTED totalprice (an upsert may have
          // rewritten it) and takes only the join key from the source
          val rows = tableRowsTx(s, dir)
            .select(col("o_orderkey"), col("o_totalprice"))
            .join(Tables.t(s, dir, "orders")
              .select(col("o_orderkey"), col("o_custkey")), Seq("o_orderkey"))
          mvJoinPartialOf(s, dir, rows, 1)
        }))))
  }

  /** CHECKPOINT the commit log: fold every committed layer into a new
    * base and truncate the log — the compaction verb of the protocol.
    * Months of daily transactions otherwise stack one layer set per
    * batch and every reader pays the multi-path listing/open cost (the
    * small-file problem the single-store compact verbs already solve).
    *
    * Crash bracket (redo, not undo):
    *   1. staged merge first — pure reads, invisible, no marker yet; a
    *      crash here costs nothing (retry re-stages);
    *   2. `ckpt_pending` marker raised AFTER staging completes — from
    *      here readers refuse loudly ([[requireNoCheckpoint]]), because
    *      the publish window genuinely double-counts;
    *   3. publish: overwrite the base tables from the staged (immutable)
    *      copies, truncate the commit log, drop folded layer dirs;
    *   4. marker cleared LAST. A crash anywhere in 3 heals by re-running
    *      checkpoint: the marker routes it straight back to publish,
    *      which is idempotent — every step rewrites from the staged
    *      copies or deletes.
    *
    * CONCURRENCY CONTRACT: checkpoint is safe against concurrent
    * CROSS-PROCESS writers (the frozen fold set keeps a mid-stage
    * commit out of the publish's delete list, and [[commit]] refuses
    * while the marker is up); a SAME-JVM reader or writer that resolves
    * the commit log during the seconds-long stage window gets a loud
    * retryable refusal instead (the stage guard on [[committedTxnDirs]]
    * — the price of failing fast on a stage helper escaping its frozen
    * scope, which would silently tear the fold). MAINTENANCE-vs-
    * MAINTENANCE is serialized by the [[acquireMaintLease]] guard — two
    * drivers running checkpoint (or checkpoint racing vacuum) would
    * otherwise share one `staging_ckpt/` and interleave staged writes;
    * the loser refuses loudly and retries after the holder completes. A
    * holder that CRASHES leaves a lease that expires after the TTL, and
    * the marker bracket below already makes the re-run (by whoever next
    * takes the lease) a pure redo. */
  def checkpoint(s: SparkSession, dir: String): Unit =
    checkpoint(s, dir, defaultMaintLeaseTtlMs)

  private[graft] def checkpoint(s: SparkSession, dir: String,
      leaseTtlMs: Long): Unit = phase(s, "checkpoint")(withMaintLease(s, dir, leaseTtlMs) {
    val staging = stagingCkpt(dir)
    val m = marker(dir)
    val fs = m.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!exists(s, m.toString)) checkpointStage(s, dir)
    // Publish deletes EXACTLY the fold set the stage persisted
    // (`staging_ckpt/_folded`) — never a re-listed one: a transaction
    // that committed after the freeze is absent from the staged fold,
    // so deleting its marker/layers here would silently lose committed
    // data (the r18 verdict lead). The legacy fallback (no _folded:
    // a pending marker raised by a pre-freeze binary) re-lists, which
    // is correct under that binary's single-writer contract; an absent
    // or already-emptied log reads as "nothing left to fold", and a
    // listing failure rethrows (committedTxns' policy).
    val folded = readFolded(s, dir).getOrElse(committedTxnDirs(s, dir))
    // publish each folded table from its immutable staged copy, tier by
    // tier in table order — a tier whose first table was not staged did
    // not take part in the stage
    for (t <- tiers(s, dir) if exists(s, s"$staging/${t.folds.head.name}");
         f <- t.folds) {
      val staged = s"$staging/${f.name}"
      if (exists(s, staged))
        f.publish(s.read.parquet(staged)).mode("overwrite").parquet(f.base)
      else if (f.dropUnstaged) fs.delete(new org.apache.hadoop.fs.Path(f.base), true)
    }
    // truncate the log: drop the folded commit markers, RETAINING the
    // highest one. Transaction ids must keep ascending for the life of
    // the store: folded delete-vector rows keep their dtxn, so if
    // allocation restarted at 0 a post-checkpoint append would land
    // with ftxn BELOW the folded dtxn and the folded vector would
    // silently re-kill its rows — sequence numbers only resolve
    // correctly under monotone allocation. The retained marker states
    // nothing false: that transaction IS committed; its layer dirs are
    // simply folded away, and every reader's existence probe skips
    // them. (Each marker is one file; a crash mid-loop is inside the
    // pending window — readers refuse — and the redo deletes the rest.
    // Markers go BEFORE the layer dirs so a crash between the loops
    // leaves dirs unreferenced — vacuum's food — never a committed id
    // whose layers half-exist.)
    folded.map(_._1).sorted.dropRight(1).foreach(id =>
      fs.delete(commitMarker(dir, id), false))
    fs.mkdirs(foldedFlag(dir)) // base is now the folded generation
    folded.foreach { case (_, td) =>
      fs.delete(new org.apache.hadoop.fs.Path(td), true) }
    // marker cleared BEFORE the staging delete: from the truncated-log
    // write above the on-disk state is fully consistent, so readers may
    // resume — deleting staging first would leave a crash window where
    // the marker survives with no staged copies to redo from, wedging
    // every reader permanently. A stale staging dir, by contrast, is
    // harmless (the next checkpoint overwrites it).
    fs.delete(m, true)
    fs.delete(new org.apache.hadoop.fs.Path(staging), true)
  })

  /** VACUUM orphaned staging — the reclamation verb of the protocol.
    * The redo discipline means a crashed absorb's `t<id>/` staging is
    * normally OVERWRITTEN by the retry, but a batch that is simply
    * abandoned (pipeline decommissioned, delta withdrawn, retry never
    * scheduled) leaves its uncommitted staging on disk forever — it is
    * structurally invisible to every reader (the path list comes from
    * the commit log, never a directory listing), so nothing ever
    * touches it again. Deletes:
    *   - every `t<id>/` dir whose id is NOT in the commit log. For a
    *     committed id the dir is a live layer and survives; after a
    *     checkpoint the log is truncated and ALL remaining t dirs are
    *     folded garbage (checkpoint already deletes the ones it folded
    *     — vacuum additionally catches staging that raced it);
    *   - a `staging_ckpt/` left by a checkpointStage that died BEFORE
    *     raising the pending marker (with the marker up, the staged
    *     copies are the redo source and MUST survive — vacuum refuses
    *     via [[requireNoCheckpoint]] and the caller heals by re-running
    *     [[checkpoint]] first).
    * This is the one verb that lists the transaction root (listing is
    * its point: orphans are precisely what the commit log does NOT
    * reference) — the listing is O(#staged txns), driver-side, same
    * bounded class as the commit-log read.
    *
    * RETENTION GUARD (`retentionMs`, Delta's VACUUM retention shape):
    * a LIVE writer's in-flight staging is indistinguishable from an
    * orphan by content, but not by AGE — an abandoned staging is old,
    * an in-flight one fresh. A t-dir (or pre-marker `staging_ckpt/`)
    * whose mtime is younger than `retentionMs` survives, so vacuum is
    * safe to race concurrent absorbs whenever the threshold exceeds
    * the longest stage duration (the dir's mtime is its last
    * direct-child creation, i.e. ~stage start; size the threshold in
    * hours against minutes-long stages, exactly Delta's 7-day default
    * vs file mtimes). `retentionMs = 0` preserves the original
    * reclaim-everything behavior, which then carries the original
    * single-writer requirement: with no retention, vacuum must not
    * race a live absorb. Runs under the maintenance lease (vacuum
    * deleting `staging_ckpt/` out from under a live checkpointStage is
    * exactly the verb-vs-verb race the lease serializes). Returns the
    * reclaimed txn ids, ascending. */
  def vacuum(s: SparkSession, dir: String, retentionMs: Long = 0L): Seq[Long] =
    vacuum(s, dir, retentionMs, defaultMaintLeaseTtlMs)

  private[graft] def vacuum(s: SparkSession, dir: String, retentionMs: Long,
      leaseTtlMs: Long): Seq[Long] = {
    // no-op BEFORE the lease: acquiring would mkdirs the store root, so
    // a vacuum against a path that never existed (typo, decommissioned
    // store) must keep returning empty without creating anything
    if (!exists(s, root(dir))) Seq.empty
    else phase(s, "vacuum")(withMaintLease(s, dir, leaseTtlMs) {
      vacuumLocked(s, dir, retentionMs)
    })
  }

  private def vacuumLocked(s: SparkSession, dir: String,
      retentionMs: Long): Seq[Long] = {
    requireNoCheckpoint(s, dir)
    val p = new org.apache.hadoop.fs.Path(root(dir))
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!exists(s, root(dir))) return Seq.empty
    val cutoff = System.currentTimeMillis() - retentionMs
    // a t-dir is live iff it IS the dir its id's commit marker resolves
    // to — a LOSING same-id staging (same id, different nonce) is an
    // orphan even though its id is committed
    val committedDirs = committedTxnDirs(s, dir)
      .map { case (_, td) => new org.apache.hadoop.fs.Path(td).getName }.toSet
    val orphans = fs.listStatus(p).toSeq
      .filter(_.isDirectory)
      .filter(_.getModificationTime <= cutoff)
      .map(_.getPath)
      .filter(_.getName.matches("t\\d+(-[0-9a-f]+)?"))
      .filter(t => !committedDirs.contains(t.getName))
    orphans.foreach(t => fs.delete(t, true))
    // no pending marker (requireNoCheckpoint above) => any staging_ckpt
    // is a pre-marker crash remnant, never a redo source — but a LIVE
    // checkpointStage's staging is exactly as pre-marker, so the same
    // retention gate applies
    val ckpt = new org.apache.hadoop.fs.Path(stagingCkpt(dir))
    if (exists(s, ckpt.toString) &&
        fs.getFileStatus(ckpt).getModificationTime <= cutoff)
      fs.delete(ckpt, true)
    orphans.map(_.getName.drop(1).takeWhile(_.isDigit).toLong)
      .distinct.sorted
  }

  /** The text lifecycles' common start (q147, q155, q158): a fresh log
    * over the pristine text bases, then the whole delta (doc_id % 10 ≥
    * 7) absorbed into dedup + stats + vocab as ONE transaction. */
  private def textDeltaTx(s: SparkSession, dir: String): Unit = {
    reset(s, dir)
    ensureBases(s, dir)
    absorbBoth(s, dir, DedupIndex.deltaDocs(s, dir),
      Tables.t(s, dir, "documents").where("doc_id % 10 >= 7"))
  }

  /** The search lifecycles' common start (q185, q197): a fresh log over
    * the inverted-index base, then two doc tranches as two commits. */
  private def searchTwoTranches(s: SparkSession, dir: String): Unit = {
    reset(s, dir)
    ensureSearchBase(s, dir)
    val docs = Tables.t(s, dir, "documents")
    absorbSearch(s, dir, docs.where("doc_id % 10 IN (7, 8)"))
    absorbSearch(s, dir, docs.where("doc_id % 10 = 9"))
  }

  /** q147: the q134 composed mix run through the TRANSACTIONAL lifecycle
    * — reset, build the immutable bases, absorb the delta into both
    * stores as ONE transaction, then build the mix from the
    * base-∪-committed-layer reads. Same downstream pipeline, same
    * oracle, different (crash-consistent) store protocol: a hash-green
    * q147 next to q134 is the cross-engine proof that the commit-log
    * indirection is semantics-free. */
  private def txStoreMix(s: SparkSession, dir: String): DataFrame = {
    textDeltaTx(s, dir)
    StoreMix.mixFrom(s, dir, keeperIdsTx(s, dir),
      storedStatsTx(s, dir)
        .select(col("lang"), col("source"), col("n_docs"), col("total_chars")))
  }

  /** q151: TRANSACTIONAL STREAMING INGESTION — the delta arrives as a
    * stream and every micro-batch commits to BOTH stores atomically via
    * [[absorbBoth]] inside foreachBatch: batch 1 (q135's planted
    * doc_id % 10 ∈ {7,8}) lands as transaction 0, batch 2 (% 10 = 9,
    * planted against batch-1 docs) as transaction 1 — judged against the
    * COMMITTED state of transaction 0, the multi-batch store semantics
    * q135 oracles, now with the crash-consistent protocol underneath. A
    * driver kill between the two stores' appends can no longer strand a
    * half-ingested micro-batch: replay re-stages under the same
    * transaction id and the commit row is the only visibility switch.
    *
    * The read is the operational ingest dashboard off the two stores
    * alone: per (lang, source), total docs + chars (stats store) next to
    * the kept-after-dedup count (dedup store). The oracle replays the
    * whole two-batch judge history (q135's CTE chain) plus the batch-2
    * keeper fold, then aggregates — cross-engine proof that streaming
    * cadence + transaction protocol together are semantics-free.
    *
    * Batch order is pinned the q131 way: two staged feed files with
    * explicit modification times, maxFilesPerTrigger=1 (FileStreamSource
    * takes files oldest-timestamp-first). Unlike q131/q145 — whose
    * associative merges make order irrelevant — the dedup judge is
    * order-SENSITIVE (batch 2 must see absorbed batch 1), so the feed
    * files are built from the deterministic batch predicates, not
    * repartitionByRange. */
  private def streamTxIngest(s: SparkSession, dir: String): DataFrame = {
    reset(s, dir)
    ensureBases(s, dir)
    // pre-stream registration (Registration.ensureAllNative's note):
    // the in-batch dedup judge needs minhash_sig bound before .start()
    graft.functions.Registration.ensureAllNative(s)
    // feed rows carry the PLANTED dedup text plus the raw stats columns
    val meta = Tables.t(s, dir, "documents")
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
    StoreMeta.stageTicks(s, "txn", dir)(
      () => DedupIndex.batch1Docs(s, dir).join(meta, Seq("doc_id")),
      () => DedupIndex.batch2Docs(s, dir).join(meta, Seq("doc_id")))
    StoreMeta.drain(s, "txn", dir)(b =>
      absorbBoth(s, dir, b.select(col("doc_id"), col("text")), b))

    // the ingest dashboard: both stores, no live input
    ingestDashboard(s, dir)
  }

  /** The q151 operational read — per (lang, source), total docs + chars
    * (stats store) next to the kept-after-dedup count (dedup store),
    * computed from the transactional state alone. Shared by q151
    * (streaming ingestion) and q165 (vacuum lifecycle): the same read
    * over the same final state, whatever the history that produced it. */
  private def ingestDashboard(s: SparkSession, dir: String): DataFrame = {
    val meta = Tables.t(s, dir, "documents")
      .select(col("doc_id"), col("lang"), col("source"))
    val stats = storedStatsTx(s, dir)
      .select(col("lang"), col("source"), col("n_docs"), col("total_chars"))
    val kept = keeperIdsTx(s, dir)
      .join(meta, Seq("doc_id"))
      .groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_keepers"))
    stats.join(kept, Seq("lang", "source"), "left")
      .selectExpr("lang", "source", "n_docs", "total_chars",
        "coalesce(n_keepers, 0L) AS n_keepers")
      .orderBy(col("lang"), col("source"))
  }

  /** q166: TRANSACTIONAL STREAMING for the INGEST PAIR — q151's device
    * applied to the graph + embed stores. A production ingest tick
    * delivers a batch of orders AND that batch's vectors together; here
    * the parquet feed streams the vector rows (embed batch 1 as tick 1,
    * batch 2 as tick 2 — q142's lifecycle) tagged with an `epoch`
    * column, and each micro-batch looks up its tick's ORDER tranche by
    * that tag (tick 1 = o%10 ∈ {7,8}, tick 2 = o%10 = 9 — disjoint,
    * union = the full delta). foreachBatch commits the tick's embed
    * survivors (judged against the COMMITTED layered index, so tick 2's
    * planted copies see absorbed tick 1) and the tick's OWN pair
    * aggregation as ONE transaction — a driver kill between the graph
    * and embed writes can no longer strand a half-ingested tick.
    *
    * Because pair weights are additive partials and the tranches
    * partition the delta, the streamed merged edges equal the one-shot
    * absorb EXACTLY — the terminal triangle read is q128's oracle
    * VERBATIM (q162's proof, now under streaming cadence). The embed
    * half's streamed state is pinned in TxStoreSpec (bit-compare vs the
    * q163 batch lifecycle). Feed-file order is forced the q151/q131
    * way: explicit modification times + maxFilesPerTrigger=1 — the
    * embed judge is order-SENSITIVE (tick 2 must see absorbed tick 1).
    */
  private def streamTxIngestPair(s: SparkSession, dir: String): DataFrame = {
    reset(s, dir)
    ensureIngestBases(s, dir)
    // pre-stream registration: the micro-batch clone's registry is
    // copied at stream start (Registration.ensureAllNative's note) —
    // the embed judge's cosine_similarity must be bound BEFORE .start()
    graft.functions.Registration.ensureAllNative(s)
    StoreMeta.stageTicks(s, "ingest", dir)(
      () => EmbedIndex.batch1Vecs(s, dir).withColumn("epoch", lit(1)),
      () => EmbedIndex.batch2Vecs(s, dir).withColumn("epoch", lit(2)))
    val op = Tables.t(s, dir, "lineitem")
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
    StoreMeta.drain(s, "ingest", dir) { b =>
      // the tick tag — a batch-sized driver agg, same bounded class as
      // the commit-log read (maxFilesPerTrigger=1 makes it single-valued)
      val epoch = b.agg(max(col("epoch"))).head().getInt(0)
      val tranche =
        if (epoch == 1) op.where("o % 10 >= 7 AND o % 10 < 9")
        else op.where("o % 10 = 9")
      absorbIngest(s, dir, b.drop("epoch"), Graph.coPairsOf(tranche))
    }
    Graph.triangleCountsOf(Graph.backboneOf(mergedEdgesTx(s, dir)))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q147_tx_store_mix" -> ((s, dir) => txStoreMix(s, dir)),
    "q151_stream_tx_ingest" -> ((s, dir) => streamTxIngest(s, dir)),
    // the N-store generalization read: the SAME transaction that commits
    // dedup keepers and stats partials also commits the delta's
    // vocabulary counts, and q83's coverage read off the transactional
    // state must equal the full-table recompute (q140's oracle
    // verbatim). One commit row now flips THREE stores at once — the
    // protocol is store-count-agnostic by construction (a layer set per
    // store, one log).
    "q155_tx_vocab_coverage" -> ((s, dir) => {
      textDeltaTx(s, dir)
      vocabCoverageTx(s, dir)
    }),
    // TIME TRAVEL on the commit log: two transactions land (batch 1 =
    // doc_id % 10 ∈ {7,8}, batch 2 = % 10 = 9), then the stats read AS
    // OF transaction 0 must equal the recompute over exactly the docs
    // ingested through it (q148's oracle verbatim — the same historical
    // state, reconstructed from the log prefix instead of epoch tags).
    "q156_tx_stats_asof" -> ((s, dir) => {
      reset(s, dir)
      ensureBases(s, dir)
      val docs = Tables.t(s, dir, "documents")
      absorbBoth(s, dir, DedupIndex.batch1Docs(s, dir),
        docs.where("doc_id % 10 >= 7 AND doc_id % 10 < 9"))
      absorbBoth(s, dir, DedupIndex.batch2Docs(s, dir),
        docs.where("doc_id % 10 = 9"))
      storedStatsTxAsOf(s, dir, maxTxn = 0L)
    }),
    // THE INGEST PAIR UNDER THE TRANSACTION FAMILY: graph edge partials
    // and embed bucket rows staged as ONE transaction's layers — closing
    // the r15 residual (q150's graph absorb and q141's embed absorb
    // committed independently, re-opening the cross-store crash window
    // q147 closed for the text stores). q162 reads q128's triangle
    // participation from the transactional merged edges — q128's oracle
    // VERBATIM, the q150 device with the commit-log indirection added.
    "q162_tx_graph_store" -> ((s, dir) => {
      reset(s, dir)
      ensureIngestBases(s, dir)
      absorbIngest(s, dir, EmbedIndex.batch1Vecs(s, dir))
      Graph.triangleCountsOf(Graph.backboneOf(mergedEdgesTx(s, dir)))
    }),
    // the embed half of the same transaction: batch 2 judged against
    // base ∪ the committed batch-1 layer — q142's two-batch oracle
    // VERBATIM (the store protocol must be invisible to the verdicts).
    "q163_tx_embed_judge" -> ((s, dir) => {
      reset(s, dir)
      ensureIngestBases(s, dir)
      absorbIngest(s, dir, EmbedIndex.batch1Vecs(s, dir))
      judgeEmbedTx(s, dir, EmbedIndex.batch2Vecs(s, dir))
    }),
    // STREAMING INGESTION for the INGEST PAIR: each tick's embed
    // survivors + its own graph pair partials commit atomically inside
    // foreachBatch; the streamed additive partials merge to the
    // one-shot absorb exactly, so the terminal triangle read is q128's
    // oracle VERBATIM — q162's proof under streaming cadence.
    "q166_stream_tx_ingest_pair" -> ((s, dir) => streamTxIngestPair(s, dir)),
    // TRANSACTIONAL ANN SEARCH — the similarity-search tier joins the
    // ingest transaction: each tick's embed-gate survivors land in the
    // fixed-geometry ANN index ([[AnnTxStore]]) in the SAME commit as
    // the gate's buckets and the tick's graph partials, so a search
    // session can never see a vector the gate hasn't admitted (or miss
    // one it has). The terminal read is q54's bucket-probe top-k over
    // base ∪ committed layers — with integer hyperplanes the WHOLE
    // transactionally-maintained search path is DuckDB-replayable: the
    // oracle recomputes both ticks' judge verdicts, the survivor sets,
    // and the probe ranking from scratch.
    "q169_tx_ann_search" -> ((s, dir) => {
      reset(s, dir)
      ensureIngestBases(s, dir)
      ensureAnnBase(s, dir)
      absorbIngestTick(s, dir, 1, withAnn = true)
      absorbIngestTick(s, dir, 2, withAnn = true)
      annTopKTx(s, dir)
    }),
    // TRANSACTIONAL INVERTED INDEX: the q181 search store's increments
    // as commit-log layers — two doc tranches land as two transactions,
    // then BM25 reads base ∪ committed postings. A crash between a
    // tranche's postings write and its stats write can no longer skew
    // the ranker (a half-landed batch would shift every score through
    // N/Σdl while its postings are missing); q99's full-table oracle
    // closes the lifecycle because doc-disjoint union layers ARE the
    // one-shot index.
    "q185_tx_search" -> ((s, dir) => {
      searchTwoTranches(s, dir)
      bm25Tx(s, dir)
    }),
    // TRANSACTIONAL TABLE APPENDS: two order tranches land as ACID
    // commits (data files invisible until their manifest rows' commit
    // row exists — the reader resolves files from the manifest, never a
    // listing), then the range query answers off the committed manifest
    // with zone pruning. vacuumTable first reclaims the files the
    // previous lap's reset stranded (the require pins that a vacuum
    // between histories leaves the committed read untouched — q183's
    // oracle closes the whole lifecycle).
    "q191_tx_table_append" -> ((s, dir) => {
      tableTwoTranches(s, dir)
      require(vacuumTable(s, dir).isEmpty,
        "committed table files read as orphans — manifest diverged")
      tableRangeAggregateTx(s, dir)
    }),
    // TABLE TIME TRAVEL: both tranches commit, then the read pins the
    // manifest AS OF txn 0 — the snapshot after tranche 1, with tranche
    // 2's files on disk and in the log but outside the prefix. No file
    // is copied; the snapshot is a commit-log filter. The oracle
    // recomputes over exactly the docs ingested through txn 0 (base ∪
    // tranche 1), including the snapshot-local key-space bounds.
    "q192_tx_table_asof" -> ((s, dir) => {
      tableTwoTranches(s, dir)
      tableRangeAggregateTxAsOf(s, dir, maxTxn = 0L)
    }),
    // STREAMING ACID APPENDS: the two tranches arrive as micro-batches,
    // each committing atomically inside foreachBatch; the drained
    // manifest equals the batch lifecycle exactly (q183's oracle
    // verbatim — commit-per-tick is reader-invisible)
    "q194_stream_table_append" -> ((s, dir) => streamTableAppend(s, dir)),
    // SEARCH TIME TRAVEL: both tranches commit, then BM25 is asked as
    // of txn 0 — postings AND the N/Σdl normalizer pinned to the same
    // log prefix. Oracle: q99 over exactly the docs ingested through
    // txn 0 (base corpus ∪ tranche 1).
    "q197_tx_search_asof" -> ((s, dir) => {
      searchTwoTranches(s, dir)
      bm25TxAsOf(s, dir, maxTxn = 0L)
    }),
    // INCREMENTAL MATERIALIZED VIEW: each transaction stages its own MV
    // delta (adds from its files, zone-pruned retractions from its
    // delete vector) behind the SAME commit row as the table layers —
    // the view can never skew from the table. The final read merges
    // partials only; the oracle recomputes the rollup from the raw
    // table, closing the IVM loop cross-engine.
    "q203_tx_mat_view" -> ((s, dir) => {
      freshTable(s, dir)
      mvEnsureBase(s, dir)
      val orders = Tables.t(s, dir, "orders")
      for (pred <- Seq("o_orderkey % 10 IN (7, 8)", "o_orderkey % 10 = 9"))
        transact(s, dir) { (id, n) =>
          stageTableAppend(s, dir, orders.where(pred), id, n)
          mvStage(s, dir, id, n)
        }
      transact(s, dir) { (id, n) =>
        stageTableDelete(s, dir, "o_orderkey % 13 = 5", id, n)
        mvStage(s, dir, id, n)
      }
      matViewTx(s, dir)
    }),
    // IVM THROUGH A JOIN: the nation-revenue view refreshes from
    // dimension-joined DELTAS (Δfact ⋈ dim — additive because the
    // dimension is immutable), one commit row per tranche covering
    // table layers and view delta alike; the oracle recomputes the
    // three-table rollup from raw data
    "q204_tx_mv_join" -> ((s, dir) => {
      freshTable(s, dir)
      mvJoinEnsureBase(s, dir)
      val orders = Tables.t(s, dir, "orders")
      for (pred <- Seq("o_orderkey % 10 IN (7, 8)", "o_orderkey % 10 = 9"))
        transact(s, dir) { (id, n) =>
          stageTableAppend(s, dir, orders.where(pred), id, n)
          mvJoinStage(s, dir, orders.where(pred), id, n)
        }
      matViewJoinTx(s, dir)
    }),
    // STREAMING IVM: each micro-batch commits its table layers AND its
    // MV delta under one row — the view is exactly as fresh as the
    // table at every tick, the property post-hoc refresh jobs can't
    // give. Drained state = base ∪ both tranches, no deletes, so the
    // oracle is the plain full-table rollup.
    "q205_stream_mv" -> ((s, dir) => {
      freshTable(s, dir)
      mvEnsureBase(s, dir)
      stageOrderTicks(s, dir, "mv")
      StoreMeta.drain(s, "mv", dir)(b => transact(s, dir) { (id, n) =>
        stageTableAppend(s, dir, b, id, n)
        mvStage(s, dir, id, n)
      })
      matViewTx(s, dir)
    }),
    // OPTIMIZE: appends + upsert fragment the layout and leave a live
    // delete vector; one optimize transaction compacts the files,
    // resolves the vector physically, and re-ranges — and the read must
    // not move a byte (q195's oracle VERBATIM: optimize is the identity
    // on content). The require pins that the post-optimize read path
    // really dropped the delete anti-join.
    "q206_tx_table_optimize" -> ((s, dir) => {
      val orders = tableTwoTranches(s, dir)
      absorbTableUpsert(s, dir, "o_orderkey % 10 = 9",
        orders.where("o_orderkey % 10 = 9")
          .withColumn("o_totalprice", col("o_totalprice") * 2))
      val before = tableRangeAggregateTx(s, dir).collect().toSeq
      require(tableDeletesTx(s, dir).nonEmpty,
        "upsert left no live delete vector — the optimize has nothing to prove")
      optimizeTable(s, dir)
      // persisted: the same frame feeds three consumers (content require,
      // plan audit, terminal sink) — without it the post-optimize read
      // runs twice end-to-end (guide §1.2)
      val after = Caches.persist(tableRangeAggregateTx(s, dir))
      require(after.collect().toSeq == before,
        "optimize changed the table content")
      // the scrub plans the delete vector as two BROADCAST joins
      // (file→ftxn map + per-key max-dtxn); post-optimize the replace
      // boundary excludes every delete layer, so tableDeletesTx is None,
      // the scrub is the identity, and the read plans join-free
      require(tableDeletesTx(s, dir).isEmpty,
        "post-optimize view still resolves a delete vector")
      require(!after.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"),
        "post-optimize read still pays the delete-scrub joins")
      after
    }),
    // INSERT OVERWRITE: two appends build the table, then a REPLACE
    // transaction swaps the whole content for tranche 1 alone — one
    // commit row flips the view boundary; the old generation stays on
    // disk (as-of still reads it) but vanishes from the current read.
    // Oracle: the range aggregate over just the replacing tranche,
    // bounds from its own key space.
    "q198_tx_table_replace" -> ((s, dir) => {
      val orders = tableTwoTranches(s, dir)
      absorbTableReplace(s, dir, orders.where("o_orderkey % 10 IN (7, 8)"))
      tableRangeAggregateTx(s, dir)
    }),
    // UPSERT / MERGE INTO: tranche 2 lands twice — original rows, then
    // a one-transaction upsert replacing them with doubled totals. The
    // sequence-number rule resolves it without rewriting a file: the
    // delete vector (same txn) kills the keys in EARLIER files only,
    // the replacing files survive it. Oracle: full table with tranche
    // 2's prices doubled.
    "q195_tx_table_upsert" -> ((s, dir) => {
      val orders = tableTwoTranches(s, dir)
      absorbTableUpsert(s, dir, "o_orderkey % 10 = 9",
        orders.where("o_orderkey % 10 = 9")
          .withColumn("o_totalprice", col("o_totalprice") * 2))
      tableRangeAggregateTx(s, dir)
    }),
    // CHANGELOG: per-transaction rows-added / keys-deleted recovered
    // from the log alone — no batch replay, no data file read; the
    // oracle recomputes each tranche's cardinality from the predicates
    "q196_tx_table_changelog" -> ((s, dir) => {
      tableTwoTranches(s, dir)
      absorbTableDelete(s, dir, "o_orderkey % 13 = 5")
      tableChangelogTx(s, dir)
    }),
    // MERGE-ON-READ TABLE DELETE: append both tranches, then retire a
    // 1-in-13 key slice as a delete-vector commit — no data file moves;
    // the read anti-joins the committed vector. The oracle keeps the
    // FULL-table key bounds (a delete vector does not rewrite manifests)
    // and drops the victims from the aggregate only.
    "q193_tx_table_delete" -> ((s, dir) => {
      tableTwoTranches(s, dir)
      absorbTableDelete(s, dir, "o_orderkey % 13 = 5")
      tableRangeAggregateTx(s, dir)
    }),
    // VACUUM LIFECYCLE: commit batch 1, stage batch 2 and ABANDON it
    // (the crashed-absorb-whose-retry-never-came shape — uncommitted
    // staging is invisible but otherwise immortal), vacuum reclaims
    // exactly that staging, then batch 2 is absorbed for real and the
    // q151 dashboard reads the final state — q151's oracle VERBATIM,
    // because a reclamation pass between two commits must leave no
    // observable trace. The require guards make a silent no-op vacuum
    // (which would still pass the oracle — the retry overwrites the
    // orphan) fail the query instead.
    //
    // The vacuum runs through the RETENTION-GUARDED path (the r19
    // deployment-posture gap: the guard existed but no grid entry
    // exercised it): the abandoned staging is AGED past a one-hour
    // threshold (the stage-age fixture — an abandoned staging IS old in
    // production; setTimes stands in for the wait), while a FRESH dir at
    // the same txn id plays a live writer's in-flight stage and must
    // survive the guarded pass. A second, retentionMs=0 pass then pins
    // the legacy reclaim-everything contract on the same lifecycle.
    "q165_tx_vacuum" -> ((s, dir) => {
      reset(s, dir)
      ensureBases(s, dir)
      val docs = Tables.t(s, dir, "documents")
      absorbBoth(s, dir, DedupIndex.batch1Docs(s, dir),
        docs.where("doc_id % 10 >= 7 AND doc_id % 10 < 9"))
      val abandoned = nextTxnId(s, dir)
      stage(s, dir, DedupIndex.batch2Docs(s, dir),
        docs.where("doc_id % 10 = 9"), abandoned) // crash: no commit
      val fs = new org.apache.hadoop.fs.Path(root(dir))
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.setTimes(new org.apache.hadoop.fs.Path(stagingDir(dir, abandoned, "")),
        System.currentTimeMillis() - 7200000L, -1) // aged 2 h: genuinely abandoned
      // a live writer's in-flight staging at the same id (fresh mtime):
      // to the vacuum listing an in-flight stage IS a t-dir mid-write,
      // so one part-file under a nonce'd dir stands in for the real verb
      val inflight = new org.apache.hadoop.fs.Path(
        s"${stagingDir(dir, abandoned, newNonce())}/kept")
      fs.mkdirs(inflight)
      val retained = vacuum(s, dir, retentionMs = 3600000L)
      require(retained == Seq(abandoned),
        s"guarded vacuum must reclaim exactly the aged staging, got $retained")
      require(exists(s, inflight.getParent.toString),
        "guarded vacuum reclaimed a fresh (possibly in-flight) staging")
      // the in-flight writer abandons too; the legacy retentionMs=0 pass
      // (the pre-guard contract) reclaims it
      val rest = vacuum(s, dir)
      require(rest == Seq(abandoned),
        s"legacy vacuum must reclaim the remaining orphan, got $rest")
      require(!exists(s, inflight.getParent.toString),
        "legacy vacuum left the abandoned in-flight staging behind")
      absorbBoth(s, dir, DedupIndex.batch2Docs(s, dir),
        docs.where("doc_id % 10 = 9"))
      ingestDashboard(s, dir)
    }),
    // THE FULL OPERATIONAL LOOP, capstone: one atomic transaction absorbs
    // the delta into dedup + stats + vocab; the benchmark store builds
    // and absorbs its tranches; then the training mix reads EVERY store —
    // membership = transactional keepers, minus benchmark docs, minus
    // the decontamination store's contamination verdicts; length gate
    // from the transactional stats; q73's quality/repetition gates, cap,
    // splits, and BPE counts on top. The oracle replays the entire
    // history (dedup judge chain + winnow containment chain + gates)
    // from scratch — the one-query proof that the whole store family
    // COMPOSES into the pipeline it exists for.
    "q158_tx_full_loop" -> ((s, dir) => {
      textDeltaTx(s, dir)
      DecontamIndex.buildIfStale(s, dir)
      DecontamIndex.absorb(s, dir)
      val flagged = DecontamIndex.judgeDocs(s, dir,
        DecontamIndex.plantedSrc(s, dir).where("doc_id % 97 != 0"))
        .select(col("doc_id"))
      val keepers = keeperIdsTx(s, dir)
        .where("doc_id % 97 != 0")
        .join(flagged, Seq("doc_id"), "left_anti")
      StoreMix.mixFrom(s, dir, keepers,
        storedStatsTx(s, dir)
          .select(col("lang"), col("source"), col("n_docs"), col("total_chars")))
    })
  )

  // q134's oracle VERBATIM: the transaction protocol must be invisible
  // to the composed result (the q143-shares-q135 device). q151 extends
  // q135's two-batch CTE chain with the batch-2 keeper fold and the
  // per-group dashboard aggregate.
  val oracles: Map[String, String] = Map(
    // q99's oracle VERBATIM — the committed transactional index must
    // rank exactly like a from-scratch full-table BM25
    "q185_tx_search" -> TextPipeline.oracles("q99_bm25_search"),
    // q183's oracle verbatim — the committed manifest must serve exactly
    // the full-table range aggregate
    "q191_tx_table_append" -> ZoneMapStore.oracles("q183_zonemap_store"),
    // the snapshot through txn 0: base slice ∪ tranche 1 — bounds AND
    // rows both restricted to the snapshot
    "q192_tx_table_asof" ->
      """WITH snap AS (SELECT * FROM orders WHERE o_orderkey % 10 != 9),
        |mk AS (SELECT max(o_orderkey) AS m FROM snap),
        |b AS (SELECT (m * 3) // 10 AS lo, (m * 5) // 10 AS hi FROM mk)
        |SELECT o_orderstatus, count(*)::BIGINT AS n_orders,
        |  round(sum(o_totalprice), 2) AS revenue,
        |  min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
        |FROM snap, b WHERE o_orderkey BETWEEN lo AND hi
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    // q183's oracle verbatim — per-tick commits land on the same bytes
    "q194_stream_table_append" -> ZoneMapStore.oracles("q183_zonemap_store"),
    // q99 over the snapshot corpus (the only FROM documents is in the
    // base CTE — st/sc select FROM base)
    "q197_tx_search_asof" -> TextPipeline.oracles("q99_bm25_search")
      .replace("FROM documents)", "FROM documents WHERE doc_id % 10 != 9)"),
    // the MV must equal the rollup over the table's final state: all
    // orders minus the deleted slice (cents via DECIMAL(18,2), the q45
    // cross-engine device)
    "q203_tx_mat_view" ->
      """SELECT o_orderstatus, count(*)::BIGINT AS n_orders,
        |  sum((o_totalprice::DECIMAL(18,2) * 100)::BIGINT)::BIGINT
        |    AS revenue_cents
        |FROM orders WHERE NOT (o_orderkey % 13 = 5)
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    // the streamed MV lands on the plain full-table rollup
    "q205_stream_mv" ->
      """SELECT o_orderstatus, count(*)::BIGINT AS n_orders,
        |  sum((o_totalprice::DECIMAL(18,2) * 100)::BIGINT)::BIGINT
        |    AS revenue_cents
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    // the join-MV must equal the three-table rollup over the full table
    "q204_tx_mv_join" ->
      """SELECT n.n_name, count(*)::BIGINT AS n_orders,
        |  sum((o.o_totalprice::DECIMAL(18,2) * 100)::BIGINT)::BIGINT
        |    AS revenue_cents
        |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |  JOIN nation n ON c.c_nationkey = n.n_nationkey
        |GROUP BY n.n_name ORDER BY n.n_name""".stripMargin,
    // the post-replace table IS the replacing tranche
    "q198_tx_table_replace" ->
      """WITH t AS (SELECT * FROM orders WHERE o_orderkey % 10 IN (7, 8)),
        |mk AS (SELECT max(o_orderkey) AS m FROM t),
        |b AS (SELECT (m * 3) // 10 AS lo, (m * 5) // 10 AS hi FROM mk)
        |SELECT o_orderstatus, count(*)::BIGINT AS n_orders,
        |  round(sum(o_totalprice), 2) AS revenue,
        |  min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
        |FROM t, b WHERE o_orderkey BETWEEN lo AND hi
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    // the upserted table: tranche 2's totals doubled, bounds unchanged
    // (keys are identical before and after the merge)
    "q195_tx_table_upsert" ->
      """WITH t AS (SELECT o_orderkey, o_orderstatus,
        |    CASE WHEN o_orderkey % 10 = 9 THEN o_totalprice * 2
        |         ELSE o_totalprice END AS o_totalprice
        |  FROM orders),
        |mk AS (SELECT max(o_orderkey) AS m FROM t),
        |b AS (SELECT (m * 3) // 10 AS lo, (m * 5) // 10 AS hi FROM mk)
        |SELECT o_orderstatus, count(*)::BIGINT AS n_orders,
        |  round(sum(o_totalprice), 2) AS revenue,
        |  min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
        |FROM t, b WHERE o_orderkey BETWEEN lo AND hi
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    // q195's oracle verbatim — optimize is the identity on content
    "q206_tx_table_optimize" ->
      """WITH t AS (SELECT o_orderkey, o_orderstatus,
        |    CASE WHEN o_orderkey % 10 = 9 THEN o_totalprice * 2
        |         ELSE o_totalprice END AS o_totalprice
        |  FROM orders),
        |mk AS (SELECT max(o_orderkey) AS m FROM t),
        |b AS (SELECT (m * 3) // 10 AS lo, (m * 5) // 10 AS hi FROM mk)
        |SELECT o_orderstatus, count(*)::BIGINT AS n_orders,
        |  round(sum(o_totalprice), 2) AS revenue,
        |  min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
        |FROM t, b WHERE o_orderkey BETWEEN lo AND hi
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    // each txn's ledger row from the tranche predicates
    "q196_tx_table_changelog" ->
      """SELECT 0::BIGINT AS txn,
        |  (SELECT count(*) FROM orders WHERE o_orderkey % 10 IN (7, 8))::BIGINT
        |    AS rows_added,
        |  0::BIGINT AS keys_deleted
        |UNION ALL SELECT 1,
        |  (SELECT count(*) FROM orders WHERE o_orderkey % 10 = 9)::BIGINT, 0
        |UNION ALL SELECT 2, 0,
        |  (SELECT count(*) FROM orders WHERE o_orderkey % 13 = 5)::BIGINT
        |ORDER BY txn""".stripMargin,
    // full-table bounds (the delete vector rewrites nothing), victims
    // dropped from the rollup only
    "q193_tx_table_delete" ->
      """WITH mk AS (SELECT max(o_orderkey) AS m FROM orders),
        |b AS (SELECT (m * 3) // 10 AS lo, (m * 5) // 10 AS hi FROM mk)
        |SELECT o_orderstatus, count(*)::BIGINT AS n_orders,
        |  round(sum(o_totalprice), 2) AS revenue,
        |  min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
        |FROM orders, b WHERE o_orderkey BETWEEN lo AND hi
        |  AND NOT (o_orderkey % 13 = 5)
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "q147_tx_store_mix" -> StoreMix.oracles("q134_store_mix"),
    "q155_tx_vocab_coverage" -> VocabStore.oracles("q140_vocab_store"),
    "q156_tx_stats_asof" -> StatsStore.oracles("q148_stats_asof"),
    "q162_tx_graph_store" -> Graph.oracles("q128_triangle_backbone"),
    "q166_stream_tx_ingest_pair" -> Graph.oracles("q128_triangle_backbone"),
    "q163_tx_embed_judge" -> EmbedIndex.oracles("q142_embed_two_batch"),
    // The transactionally-maintained ANN search replayed store-free:
    // q142's two-tick judge chain yields each tick's 'unique' survivors
    // (kept1 judged vs the corpus slice, kept2 vs slice ∪ kept1 — the
    // embed-gate SIGN buckets decide candidacy there), the index id set
    // is slice ∪ kept1 ∪ kept2, and q54's FIXED-hyperplane probe ranks
    // top-10 per query id over exactly that membership. Survivors are
    // raw-form by construction (planted copies always judge exact/near),
    // so rehydrating from the raw corpus table is exact on both sides.
    "q169_tx_ann_search" ->
      s"""WITH emb AS (SELECT vec_id,
         |    list_transform(embedding, x -> x::DOUBLE) AS e,
         |    (embedding[1] > 0)::INT * 4 + (embedding[2] > 0)::INT * 2
         |      + (embedding[3] > 0)::INT AS bucket,
         |    (2*e[1] - e[5] + e[9] >= 0)::INT * 8
         |      + (e[2] + e[6] - 2*e[10] >= 0)::INT * 4
         |      + (e[3] - e[7] + e[11] >= 0)::INT * 2
         |      + (-e[4] + e[8] + 2*e[12] >= 0)::INT AS b54
         |  FROM embeddings),
         |b1 AS (SELECT d.vec_id, coalesce(o.e, d.e) AS e,
         |    coalesce(o.bucket, d.bucket) AS bucket
         |  FROM emb d LEFT JOIN emb o
         |    ON o.vec_id = d.vec_id - 7 AND d.vec_id % 10 = 7
         |  WHERE d.vec_id % 10 IN (7, 8)),
         |b2 AS (SELECT d.vec_id, coalesce(o.e, d.e) AS e,
         |    coalesce(o.bucket, d.bucket) AS bucket
         |  FROM emb d LEFT JOIN emb o
         |    ON o.vec_id = d.vec_id - 1 AND d.vec_id % 20 = 9
         |  WHERE d.vec_id % 10 = 9),
         |store1 AS (SELECT vec_id, e, bucket FROM emb WHERE vec_id % 10 < 7),
         |cand1 AS (SELECT s.vec_id AS d_id,
         |    ${TextPipeline.duckCos("s", "t")} AS cos
         |  FROM b1 s JOIN store1 t ON s.bucket = t.bucket),
         |best1 AS (SELECT d_id, max(cos) AS best_cos
         |  FROM cand1 GROUP BY d_id),
         |kept1 AS (SELECT b1.vec_id, b1.e, b1.bucket
         |  FROM b1 LEFT JOIN best1 ON best1.d_id = b1.vec_id
         |  WHERE best1.best_cos IS NULL OR best1.best_cos < 0.3),
         |store2 AS (SELECT vec_id, e, bucket FROM store1
         |  UNION ALL SELECT vec_id, e, bucket FROM kept1),
         |cand2 AS (SELECT s.vec_id AS d_id,
         |    ${TextPipeline.duckCos("s", "t")} AS cos
         |  FROM b2 s JOIN store2 t ON s.bucket = t.bucket),
         |best2 AS (SELECT d_id, max(cos) AS best_cos
         |  FROM cand2 GROUP BY d_id),
         |kept2 AS (SELECT b2.vec_id
         |  FROM b2 LEFT JOIN best2 ON best2.d_id = b2.vec_id
         |  WHERE best2.best_cos IS NULL OR best2.best_cos < 0.3),
         |idx AS (SELECT vec_id FROM store1
         |  UNION ALL SELECT vec_id FROM kept1
         |  UNION ALL SELECT vec_id FROM kept2),
         |cand AS (SELECT m.vec_id, m.e, m.b54
         |  FROM idx i JOIN emb m USING (vec_id)),
         |probes AS (SELECT vec_id AS q_id, e, b54 FROM emb WHERE vec_id < 5),
         |scored AS (SELECT p.q_id, c.vec_id AS neighbor_id,
         |    ${TextPipeline.duckCos("p", "c")} AS cos
         |  FROM probes p JOIN cand c ON c.b54 = p.b54 AND c.vec_id != p.q_id),
         |ranked AS (SELECT q_id, neighbor_id, cos,
         |    row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, neighbor_id) AS rn
         |  FROM scored)
         |SELECT q_id, neighbor_id, round(cos, 4) AS cosine, rn
         |FROM ranked WHERE rn <= 10 ORDER BY q_id, rn""".stripMargin,
    // q134's full store-free replay (planted dedup chain + absorbed
    // membership + full-table stats + gates/cap/splits/tokens) with the
    // decontamination layer added: the prefixed winnow chain flags
    // contained benchmark items and the kept set excludes benchmark docs
    // and flagged docs. Every constant matches the Spark side textually.
    "q158_tx_full_loop" ->
      s"""WITH RECURSIVE ${TextPipeline.duckBpeCtes},
         |${TextPipeline.duckQualityCtes},
         |${TextPipeline.duckRepCtes},
         |${TextPipeline.duckWinnowExCtes("wn_")},
         |wbench AS (SELECT doc_id AS bench_id, fp FROM wn_ex
         |  WHERE doc_id % 97 = 0),
         |wbsz AS (SELECT bench_id, count(DISTINCT fp) AS n_fps
         |  FROM wbench GROUP BY bench_id),
         |wov AS (SELECT c.doc_id, b.bench_id, count(DISTINCT c.fp) AS shared
         |  FROM wn_ex c JOIN wbench b ON b.fp = c.fp
         |  WHERE c.doc_id % 97 != 0 GROUP BY c.doc_id, b.bench_id),
         |flagged AS (SELECT DISTINCT wov.doc_id
         |  FROM wov JOIN wbsz USING (bench_id)
         |  WHERE shared * 2 >= n_fps),
         |src AS (
         |  SELECT doc_id, text FROM documents WHERE doc_id % 10 < 7
         |  UNION ALL
         |  SELECT d0.doc_id, coalesce(o.text, d0.text) AS text
         |  FROM documents d0 LEFT JOIN documents o
         |    ON o.doc_id = d0.doc_id - 7 AND d0.doc_id % 10 = 7
         |  WHERE d0.doc_id % 10 >= 7),
         |docs AS (${TextPipeline.duckShingleDocsFrom("src")}),
         |${TextPipeline.duckBandsCtes},
         |cand AS (SELECT DISTINCT x.doc_id AS d_id, y.doc_id AS c_id
         |  FROM bands x JOIN bands y ON x.b = y.b AND x.k0 = y.k0
         |    AND x.k1 = y.k1 AND x.k2 = y.k2
         |  WHERE x.doc_id % 10 >= 7 AND y.doc_id % 10 < 7),
         |near AS (SELECT d_id, count(*)::BIGINT AS n_near
         |  FROM cand
         |  JOIN docs da ON da.doc_id = d_id
         |  JOIN docs db ON db.doc_id = c_id
         |  WHERE round(len(list_intersect(da.sh, db.sh))::DOUBLE
         |      / len(list_distinct(list_concat(da.sh, db.sh))), 4) >= 0.5
         |  GROUP BY d_id),
         |ex AS (SELECT md5(text) AS fp, min(doc_id) AS keeper
         |  FROM src WHERE doc_id % 10 < 7 GROUP BY fp),
         |dd AS (SELECT doc_id, md5(text) AS fp
         |  FROM src WHERE doc_id % 10 >= 7),
         |uq AS (SELECT dd.doc_id, dd.fp FROM dd
         |  LEFT JOIN ex USING (fp)
         |  LEFT JOIN near ON near.d_id = dd.doc_id
         |  WHERE ex.keeper IS NULL AND coalesce(near.n_near, 0) = 0),
         |keepers AS (
         |  SELECT keeper AS doc_id FROM ex
         |  UNION ALL
         |  SELECT min(doc_id) AS doc_id FROM uq GROUP BY fp),
         |stats AS (SELECT lang, source, count(*)::BIGINT AS n_docs,
         |    sum(n_chars)::BIGINT AS total_chars
         |  FROM documents GROUP BY lang, source),
         |kept AS (SELECT d.doc_id, d.lang, d.source
         |  FROM documents d
         |  JOIN keepers USING (doc_id)
         |  JOIN qual USING (doc_id)
         |  JOIN stats st ON st.lang = d.lang AND st.source = d.source
         |  LEFT JOIN top2 USING (doc_id) LEFT JOIN dup3 USING (doc_id)
         |  LEFT JOIN flagged f ON f.doc_id = d.doc_id
         |  WHERE d.doc_id % 97 != 0 AND f.doc_id IS NULL
         |    AND qual.quality_e4 >= 6100 AND NOT ${TextPipeline.duckRepPred}
         |    AND d.n_chars * st.n_docs <= 2 * st.total_chars),
         |kh AS (SELECT lang, source, doc_id,
         |    ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT AS hv
         |  FROM kept),
         |kr AS (SELECT lang, source, doc_id, hv,
         |    row_number() OVER (PARTITION BY lang, source ORDER BY hv, doc_id) AS rn
         |  FROM kh)
         |SELECT doc_id, lang, source,
         |  CASE WHEN hv % 100 < 90 THEN 'train'
         |       WHEN hv % 100 < 95 THEN 'val' ELSE 'test' END AS split,
         |  coalesce(cnt.n, 0) AS n_tokens
         |FROM kr LEFT JOIN cnt USING (doc_id)
         |WHERE rn <= 5
         |ORDER BY doc_id""".stripMargin,
    "q151_stream_tx_ingest" -> ingestDashboardOracle,
    // the SAME oracle VERBATIM: q165's history inserts an abandoned
    // staging and a vacuum between the two commits, and the final state
    // must be indistinguishable — reclamation is reader-invisible.
    "q165_tx_vacuum" -> ingestDashboardOracle
  )

  /** q151's oracle — the full two-batch judge history replay (batch 2
    * judged against absorbed batch 1) plus the per-group dashboard
    * aggregate. A val so q165 (vacuum lifecycle) shares it verbatim. */
  private lazy val ingestDashboardOracle: String =
      s"""WITH ${DedupIndex.twoBatchCtes},
         |u2 AS (SELECT d2.doc_id, d2.fp FROM d2
         |  LEFT JOIN ex2 USING (fp)
         |  LEFT JOIN near2 ON near2.d_id = d2.doc_id
         |  WHERE ex2.keeper IS NULL AND coalesce(near2.n_near, 0) = 0),
         |kept2 AS (SELECT fp, min(doc_id) AS keeper FROM u2 GROUP BY fp),
         |keepers AS (
         |  SELECT keeper AS doc_id FROM ex0
         |  UNION ALL SELECT keeper FROM kept1
         |  UNION ALL SELECT keeper FROM kept2),
         |kstats AS (SELECT d.lang, d.source, count(*)::BIGINT AS n_keepers
         |  FROM documents d JOIN keepers USING (doc_id) GROUP BY 1, 2),
         |stats AS (SELECT lang, source, count(*)::BIGINT AS n_docs,
         |    sum(n_chars)::BIGINT AS total_chars
         |  FROM documents GROUP BY lang, source)
         |SELECT s.lang, s.source, s.n_docs, s.total_chars,
         |  coalesce(k.n_keepers, 0)::BIGINT AS n_keepers
         |FROM stats s LEFT JOIN kstats k USING (lang, source)
         |ORDER BY s.lang, s.source""".stripMargin
}
