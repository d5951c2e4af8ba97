package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType, TimestampNTZType, TimestampType}

/** Shared parquet table loader for the testdata star schema. */
object Tables {

  /** The store family's path-keying hash: an 8-byte md5 fragment of the
    * data dir (NOT `hashCode` — see StoreMeta.root's collision note).
    * One definition so the keying scheme has one place to change. */
  private[graft] def dirHash(dir: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes("UTF-8")).take(8).map("%02x".format(_)).mkString

  /** Projection normalizing generation-dependent timestamp physical types
    * to session-local TIMESTAMP, or None when the schema is already clean
    * (the common case — avoid inserting a no-op Project over every scan).
    *
    * Two generator variants exist in the wild:
    *  - TIMESTAMP(NANOS), which Spark only reads as raw longs (sessions
    *    set `spark.sql.legacy.parquet.nanosAsLong=true`); converted via
    *    integer division — a double round-trip would lose precision at
    *    1e18 nanos, and the testdata's nanos are exact multiples of 1000
    *    so micros are lossless.
    *  - TIMESTAMP(MICROS) without the isAdjustedToUTC annotation, which
    *    Spark reads as TIMESTAMP_NTZ. NTZ is rejected by event-time
    *    watermarks, `unix_micros`, and the as-of operators' long-backed
    *    key contract, so it is cast to TIMESTAMP here. Sessions run with
    *    `spark.sql.session.timeZone=UTC`, making the cast a pure
    *    re-annotation of the same wall-clock instant — the DuckDB oracle
    *    (naive timestamps throughout) sees identical values either way.
    */
  private def tsFixup(schema: StructType): Option[Seq[Column]] = {
    val needsFix = schema.fields.exists(f =>
      f.dataType == TimestampNTZType || (f.name == "ts" && f.dataType == LongType))
    if (!needsFix) None
    else Some(schema.fields.toSeq.map { f =>
      f.dataType match {
        case LongType if f.name == "ts" =>
          timestamp_micros(expr(s"${f.name} div 1000")).as(f.name)
        case TimestampNTZType => col(f.name).cast(TimestampType).as(f.name)
        case _ => col(f.name)
      }
    })
  }

  /** Table `name` of the corpus at `dir`. The read's one eager job,
    * parquet's schema inference, is labelled `graft:read:<name>`. */
  def t(s: SparkSession, dir: String, name: String): DataFrame = {
    val df = graft.JobPhase(s.sparkContext, s"read:$name")(s.read.parquet(s"$dir/$name.parquet"))
    tsFixup(df.schema).map(df.select(_: _*)).getOrElse(df)
  }

  /** Stamp-validated fingerprint memo. Every store's staleness guard is
    * a deterministic content aggregation over source tables under `dir`
    * (count + order-independent md5-fragment sum), recomputed on EVERY
    * isCurrent/absorb probe — two to three corpus scans per steady-state
    * lifecycle lap whose inputs cannot have changed. The corpora are
    * immutable once generated, so a metadata-only stat sweep of the data
    * dir (name, length, mtime of every file) validates reuse exactly:
    * memo hit = same stamp, any regeneration/append/rewrite moves a
    * stat and recomputes. The stamp covers the WHOLE dir, not one
    * table — conservative (any table's change invalidates all
    * fingerprints for that dir) and immune to a store slicing from a
    * table the label doesn't name. Contract limit, stated honestly: a
    * rewrite that preserves every (name, length, mtime) triple defeats
    * the stamp — the corpora contract (generated once, never edited in
    * place) is what makes that shape unreachable here; stores guarding
    * ARBITRARY mutable sources should call their aggregation directly. */
  private val fpMemo =
    new java.util.concurrent.ConcurrentHashMap[String, (String, String)]()

  /** The one file stamp: (name, length, mtime) of every file under
    * `dir`, recursively, through the Hadoop FileSystem of the path — a
    * metadata sweep, no Spark job. A missing `dir` throws. */
  private[graft] def dirStamp(s: SparkSession, dir: String): String = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    def walk(st: org.apache.hadoop.fs.FileStatus): Seq[org.apache.hadoop.fs.FileStatus] =
      if (st.isDirectory) fs.listStatus(st.getPath).toSeq.flatMap(walk)
      else Seq(st)
    walk(fs.getFileStatus(p)).sortBy(_.getPath.toString)
      .map(x => s"${x.getPath.getName}:${x.getLen}:${x.getModificationTime}")
      .mkString(";")
  }

  private[queries] def memoFingerprint(s: SparkSession, dir: String,
      label: String)(compute: => String): String = {
    val key = s"$label@$dir"
    val stamp = dirStamp(s, dir)
    val hit = fpMemo.get(key)
    if (hit != null && hit._1 == stamp) hit._2
    else {
      val fp = compute
      fpMemo.put(key, (stamp, fp))
      fp
    }
  }

  /** The same fixup for a streaming DataFrame (schema known up front). */
  def streamTsFixup(df: DataFrame): DataFrame =
    tsFixup(df.schema).map(df.select(_: _*)).getOrElse(df)

  /** Stage a DETERMINISTIC per-corpus streaming feed once per corpus
    * content — the q40 staged-events `_staged_meta` device generalized
    * (r21): several streaming lifecycles re-wrote identical mtime-ordered
    * feed files every lap (two to three write jobs per lap for bytes
    * that cannot differ). `stage` must write the feed files AND set
    * their relative mtimes; the `<feed>/_staged_meta` record
    * ([[StoreMeta.putRecord]]: the [[dirStamp]] of `srcDir` + caller tag)
    * is written LAST so a crashed staging re-stages, and any source
    * change moves the stamp and re-stages. The underscore-prefixed
    * record is invisible to the file stream source. */
  private[queries] def stagedOnce(s: SparkSession, srcDir: String,
      feed: String, tag: String)(stage: () => Unit): Unit = {
    val stamp = s"${dirStamp(s, srcDir)};$tag"
    val meta = s"$feed/_staged_meta"
    if (StoreMeta.record(s, meta).contains(stamp)) return
    stage()
    StoreMeta.putRecord(s, meta, stamp)
  }
}
