package graft.queries

import java.io.{FileNotFoundException, IOException}
import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.json4s.{JObject, JString}
import org.json4s.jackson.JsonMethods

/** The STORE KERNEL — the one owner of what every persisted store in
  * `graft.queries` shares: the md5-keyed tmpdir root, the (kind, fp)
  * meta record — one JSON object in `<root>/meta.json`, written and read
  * through the [[record]] verbs without a Spark job — the content
  * fingerprint, and the lifecycle verbs (invalidate,
  * isCurrent/buildIfStale, the absorbs, the staged compact, the
  * AvailableNow drain of a staged feed).
  * A store keeps only its tables, partials, fold and read verbs, and
  * passes its staleness ladder as a predicate over the meta rows.
  *
  * Meta kinds: `base` (the base slice's fingerprint, written LAST by a
  * build), `batch1` (an absorbed layer: its fingerprint when verified,
  * the opaque `absorbed` otherwise, `absorbing` while in flight),
  * `compacted` (the fold stamp of an already-folded layer set) and
  * SearchStore's `deleted`. A verb that dies mid-write leaves one of the
  * [[torn]] values behind, which reads stale and makes compact refuse.
  *
  * Folding fourteen hand-rolled lifecycles into this kernel took 556
  * code lines out of `src/main` net (15,799 → 15,243; comment lines
  * 8,035 → 7,984), and the ladders stay explicit: [[pristine]] for the
  * flat stores, [[layered]] for the layered ones, SearchStore's own. */
private[graft] object StoreMeta {

  /** `<tmpdir>/graft_<name>_<md5 fragment of dir>[_<variant>]` — the
    * md5 fragment, not `hashCode`: a 32-bit collision between two data
    * roots would alternate a store fingerprint-stale and rebuild it on
    * every access. `variant` separates independent instances over the
    * same corpus (an absorbing lifecycle must not flip the pristine
    * store another query's contract needs). */
  def root(name: String, dir: String, variant: String = ""): String = {
    val v = if (variant.isEmpty) "" else s"_$variant"
    s"${sys.props("java.io.tmpdir")}/graft_${name}_${Tables.dirHash(dir)}$v"
  }

  def delete(s: SparkSession, path: String): Unit = {
    val p = new Path(path)
    p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
  }

  /** Content fingerprint: row count + order-independent sum of the md5
    * prefixes of `key` (a SQL string expression). One cheap scan — any
    * membership or content change of the slice moves it. */
  def fingerprintOf(df: DataFrame, key: String): String = {
    val r = df
      .selectExpr(s"cast(conv(substring(md5($key), 1, 8), 16, 10) AS bigint) AS h")
      .agg(count(lit(1)).as("n"), sum(col("h")).as("hsum"))
      .head()
    s"${r.getLong(0)}:${r.getLong(1)}"
  }

  /** Swap a fully-staged table dir into its live location as a METADATA
    * move (delete + rename) instead of a second read-rewrite Spark job
    * over the same bytes. The staged dir was already written complete;
    * renaming preserves its files (and any range-disjointness their
    * writer arranged) exactly. The delete and the rename are two steps,
    * NOT atomic (on object stores the rename is a server-side copy):
    * [[Store.compact]] flips the meta torn BEFORE the swap, so a failure
    * between them reads as torn and the next lifecycle heals by rebuild. */
  def swapIn(s: SparkSession, staging: String, live: String): Unit = {
    val src = new Path(staging)
    val fs = src.getFileSystem(s.sparkContext.hadoopConfiguration)
    val dst = new Path(live)
    fs.delete(dst, true)
    if (!fs.rename(src, dst))
      throw new IOException(s"swap rename $src -> $dst failed")
  }

  /** The one COMMIT-RECORD device of `graft.queries` and
    * `graft.similarity`: a record is a few bytes in one file, read and
    * written through the Hadoop FileSystem of the path — no Spark job.
    * None only when nothing is at `path` (never written, or deleted by
    * an invalidation); a directory there, or bytes the FileSystem cannot
    * read, throw: a present record that fails to read is a present-store
    * problem, never a silent "rebuild me". */
  def record(s: SparkSession, path: String): Option[String] = {
    val p = new Path(path)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    val st = try fs.getFileStatus(p) catch { case _: FileNotFoundException => return None }
    if (st.isDirectory) throw new IOException(s"record $p is a directory")
    val in = fs.open(p)
    try Some(new String(in.readAllBytes(), UTF_8)) finally in.close()
  }

  /** Replace the record at `path` with `body`: write a hidden temp
    * sibling (`.`-prefixed, so the file stream source and parquet
    * listings skip it, as they skip one a dead writer leaves), then
    * rename it over `path`. A reader sees the old record or the new one;
    * only where the FileSystem's rename refuses an existing target (HDFS)
    * is the old one deleted first, and a crash in that window leaves no
    * record — which every caller reads as unbuilt or stale. */
  def putRecord(s: SparkSession, path: String, body: String): Unit = {
    val p = new Path(path)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    val tmp = new Path(p.getParent, s".${p.getName}.${java.util.UUID.randomUUID}.tmp")
    val out = fs.create(tmp, true)
    try out.write(body.getBytes(UTF_8)) finally out.close()
    if (!fs.rename(tmp, p) && !(fs.delete(p, false) && fs.rename(tmp, p)))
      throw new IOException(s"record rename $tmp -> $p failed")
  }

  private def metaPath(path: String): String = s"$path/meta.json"

  /** The meta rows as one JSON object in `<path>/meta.json`. */
  def write(s: SparkSession, path: String,
      rows: Seq[(String, String)]): Unit =
    putRecord(s, metaPath(path), JsonMethods.compact(JsonMethods.render(
      JObject(rows.map { case (k, v) => k -> JString(v) }.toList))))

  /** A MISSING meta reads as EMPTY — the stale default every ladder
    * rebuilds from (never built, invalidated, or a `meta/` parquet dir
    * from before the JSON record, which is never read). A present meta
    * that is not a JSON object of strings throws: swallowed as "empty",
    * a torn or foreign record would silently trigger a full store
    * rebuild — the opposite of the refuse-loudly policy the commit log
    * enforces for the same class of failure. This is the ONLY meta read
    * in the package. */
  def rows(s: SparkSession, path: String): Map[String, String] =
    record(s, metaPath(path)).fold(Map.empty[String, String]) { body =>
      def bad = throw new IllegalStateException(
        s"store meta ${metaPath(path)} is not a JSON object of strings: $body")
      JsonMethods.parseOpt(body) match {
        case Some(JObject(fields)) =>
          fields.map { case (k, JString(v)) => k -> v; case _ => bad }.toMap
        case _ => bad
      }
    }

  /** Values a verb leaves behind when it dies mid-write. */
  val torn: Set[String] = Set("absorbing", "compacting", "purging")

  type Ladder = Map[String, String] => Boolean

  /** The flat stores: current only while PRISTINE — the base row alone;
    * any absorbed layer makes the next lifecycle rebuild. */
  val pristine: Ladder = _.size == 1

  /** The fingerprinted-batch stores: a verified absorbed layer keeps the
    * store current; only a torn verb does not. */
  val layered: Ladder = !_.values.exists(torn)

  /** One persisted store family: the root `name`, the base-slice
    * fingerprint `fp` (memoized by the caller) and the `ladder` that
    * decides which meta states beyond a matching base count as current.
    * Each lifecycle verb labels its Spark jobs `graft:store:<name>:<verb>`
    * ([[graft.JobPhase]]). */
  final class Store(name: String, fp: (SparkSession, String) => String,
      ladder: Ladder) {

    private def phase[T](s: SparkSession, verb: String)(body: => T): T =
      graft.JobPhase(s.sparkContext, s"store:$name:$verb")(body)

    def root(dir: String, variant: String = ""): String =
      StoreMeta.root(name, dir, variant)

    def rows(s: SparkSession, dir: String, variant: String = ""): Map[String, String] =
      StoreMeta.rows(s, root(dir, variant))

    def isCurrent(s: SparkSession, dir: String, variant: String = ""): Boolean =
      phase(s, "isCurrent") {
        val r = rows(s, dir, variant)
        r.get("base").exists(_ == fp(s, dir)) && ladder(r)
      }

    def buildIfStale(s: SparkSession, dir: String, variant: String = "")(
        build: => Any): String = phase(s, "buildIfStale") {
      if (!isCurrent(s, dir, variant)) build
      root(dir, variant)
    }

    /** A build's LAST step: the base row alone, clearing every batch,
      * stamp and tombstone row — a crashed build leaves no meta and
      * rebuilds. */
    def built(s: SparkSession, dir: String, variant: String = ""): Unit =
      phase(s, "built")(write(s, root(dir, variant), Seq("base" -> fp(s, dir))))

    /** Delete the meta record so the next buildIfStale rebuilds — the
      * store-owned invalidation verb ([[StoreTxn]] invalidates through it
      * instead of carving paths from outside). */
    def invalidate(s: SparkSession, dir: String, variant: String = ""): Unit =
      phase(s, "invalidate")(delete(s, metaPath(root(dir, variant))))

    /** Absorb a batch the store cannot fingerprint-verify. The meta
      * becomes the one OPAQUE row `batch1 = absorbed` BEFORE `append`
      * mutates anything: the store is past whatever base it was built
      * from, every ladder reads it stale from then on, and a crash
      * mid-append leaves that same stale state — which is also why a
      * compact may fold it (its restored meta stays stale). */
    def absorb(s: SparkSession, dir: String, variant: String = "")(
        append: => Unit): Unit = phase(s, "absorb") {
      write(s, root(dir, variant), Seq("batch1" -> "absorbed"))
      append
    }

    /** Absorb a batch whose fingerprint is `batchFp` — IDEMPOTENT: an
      * already-absorbed, unchanged batch over a current base is a no-op
      * (the steady state), while a changed batch, a torn previous absorb
      * or a stale base rebuilds first (append-only layers cannot retract
      * a half-written one). The torn-first bracket: `batch1` flips to
      * `absorbing` before the append and to `batchFp` after, so a crash
      * between the two reads stale, never as silently current. */
    def absorbOnce(s: SparkSession, dir: String, variant: String,
        batchFp: String, rebuild: => Any)(append: => Unit): Unit = phase(s, "absorbOnce") {
      val path = root(dir, variant)
      val r = StoreMeta.rows(s, path)
      val base = fp(s, dir)
      val current = r.get("base").contains(base) && ladder(r)
      if (!(current && r.get("batch1").contains(batchFp))) {
        if (!current || r.contains("batch1")) rebuild
        write(s, path, Seq("base" -> base, "batch1" -> "absorbing"))
        append
        write(s, path, Seq("base" -> base, "batch1" -> batchFp))
      }
    }

    /** The staged compact. `stage` writes each of `tables` complete
      * under the staging dir it is given; then the meta flips to the
      * torn `flip` value, each table swaps in ([[swapIn]]), the meta is
      * restored and the staging dir dropped. REFUSES on torn or unbuilt
      * meta: folding a half-written layer and restoring the torn rows
      * verbatim would launder the tear into a current-looking store —
      * the heal is absorb/buildIfStale. With `foldOnce` the restored
      * meta carries a `compacted` stamp and an already-folded layer set
      * is a no-op. */
    def compact(s: SparkSession, dir: String, variant: String,
        tables: Seq[String], flip: String = "compacting",
        foldOnce: Boolean = false)(stage: String => Unit): Unit = phase(s, "compact") {
      val path = root(dir, variant)
      val saved = StoreMeta.rows(s, path)
      if (saved.isEmpty || saved.values.exists(torn))
        throw new IllegalStateException(
          s"store at $path is torn or unbuilt (meta = $saved) — run " +
            "absorb/buildIfStale to heal before compacting")
      val fold = s"${saved.getOrElse("base", "")}|${saved.getOrElse("batch1", "")}"
      if (!(foldOnce && saved.get("compacted").contains(fold))) {
        val staging = s"$path/staging_compact"
        stage(staging)
        write(s, path, Seq("base" -> flip))
        tables.foreach(t => swapIn(s, s"$staging/$t", s"$path/$t"))
        write(s, path,
          if (foldOnce) (saved - "compacted").toSeq :+ ("compacted" -> fold)
          else saved.toSeq)
        delete(s, staging)
      }
    }
  }

  /** Stage the feed [[drain]] reads as deterministic micro-batch TICKS,
    * once per corpus content ([[Tables.stagedOnce]]): one file per tick,
    * with mtimes a minute apart so `maxFilesPerTrigger=1` replays them
    * in tick order. */
  def stageTicks(s: SparkSession, name: String, dir: String)(
      ticks: (() => DataFrame)*): Unit = {
    val feed = root(s"${name}_feed", dir)
    Tables.stagedOnce(s, dir, feed, s"${name}_feed;ticks=${ticks.size}") { () =>
      val base = System.currentTimeMillis() - 3600000L
      var seen = Set.empty[String]
      ticks.zipWithIndex.foreach { case (tick, i) =>
        tick().coalesce(1)
          .write.mode(if (i == 0) "overwrite" else "append").parquet(feed)
        seen = touchParts(s, feed, seen)(_ => base + 60000L * i)
      }
    }
  }

  /** Order a staged feed for `maxFilesPerTrigger=1` replay: set the
    * mtime of each `part-` file under `dir` not in `seen` to `mtime(j)`,
    * j its rank by name among them, through the Hadoop FileSystem; return
    * every part name now under `dir`. */
  private[queries] def touchParts(s: SparkSession, dir: String, seen: Set[String] = Set.empty)(
      mtime: Int => Long): Set[String] = {
    val p = new Path(dir)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    val parts = fs.listStatus(p).map(_.getPath).filter(_.getName.startsWith("part-"))
    parts.filterNot(f => seen(f.getName)).sortBy(_.getName).zipWithIndex
      .foreach { case (f, j) => fs.setTimes(f, mtime(j), -1) }
    seen ++ parts.map(_.getName)
  }

  /** Drain the staged feed `<tmpdir>/graft_<name>_feed_<h>` to completion:
    * one file per micro-batch (`maxFilesPerTrigger=1`), each handed to
    * `batch` through foreachBatch under an AvailableNow trigger, from a
    * fresh checkpoint. */
  def drain(s: SparkSession, name: String, dir: String)(
      batch: DataFrame => Unit): Unit = {
    val feed = root(s"${name}_feed", dir)
    val ckpt = root(s"${name}_ckpt", dir)
    delete(s, ckpt)
    drainStream(s.readStream.schema(s.read.parquet(feed).schema)
      .option("maxFilesPerTrigger", "1").parquet(feed), ckpt)(batch)
  }

  /** [[drain]] over an explicit streaming source, resuming from whatever
    * `ckpt` already holds. */
  def drainStream(stream: DataFrame, ckpt: String)(
      batch: DataFrame => Unit): Unit = {
    // explicit function value — the inline lambda is ambiguous between
    // the Scala and Java foreachBatch overloads on 2.13
    val each: (org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], Long) => Unit =
      (b, _) => batch(b.toDF())
    stream.writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch(each)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
      .awaitTermination()
  }
}
