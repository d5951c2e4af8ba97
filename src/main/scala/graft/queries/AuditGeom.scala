package graft.queries

import org.apache.spark.sql.SparkSession

/**
 * PERSISTED AUDIT GEOMETRY — the q58-class persisted-store device applied
 * to the recall audits' DETERMINISTIC codebook fits (q220's per-subspace
 * PQ books, q221's coarse centroids + residual books).
 *
 * Why this is a store and not a cache: the audits' codebooks are a pure
 * function of the embeddings table (integer Lloyd's, first-k-ids init —
 * engineered deterministic so the DuckDB oracle replays them), i.e. the
 * same class of derived artifact as q58's persisted LSH index or q133's
 * persisted PQ codes. Re-fitting them every bench lap paid ~7-9
 * driver-synchronous collect rounds over bytes that cannot have changed.
 * The fit now lands ONCE under a fingerprint-guarded root and every later
 * audit answers from the persisted geometry; any corpus change moves the
 * content fingerprint and refits. Cold (fresh fit + persist) and warm
 * (load) paths produce bit-identical geometry BY CONSTRUCTION (the fit is
 * deterministic) and both stay oracle-green.
 *
 * NOTE the audits deliberately do NOT read the production q133/q138
 * index geometry: those tiers fit k-means++-seeded floating-point
 * Lloyd's on unit-normalized vectors (AnnLloyd; PQ at 16x16), a
 * different — unoracled — geometry. The audit's own deterministic
 * geometry is what the DuckDB oracle replays, so that is what persists.
 *
 * Store discipline (the kernel's, [[StoreMeta]]): geometry parquet
 * first, the `base` meta row (content fingerprint) written LAST — a
 * crashed save is metadata-less and refits; a regenerated corpus fails
 * the fingerprint compare and refits; an unreadable meta throws. The fingerprint recompute itself sits behind the file-stat
 * stamp memo ([[Tables.memoFingerprint]]), so steady-state probes are
 * metadata-only.
 */
private[queries] object AuditGeom {

  /** One group of centroid rows: (grp, cid, vector). `grp` is the PQ
    * subspace for book rows and -1 for q221's coarse centroids. */
  type Books = Seq[Seq[(Long, Seq[Long])]]

  private def root(dir: String, leaf: String): String =
    s"${StoreMeta.root("audit_geom", dir)}/$leaf"

  /** Content fingerprint of the FULL embeddings table (every audit fit
    * derives from semGrid over all vectors): count + order-independent
    * xor — any membership or in-place change moves it. */
  private def fingerprint(s: SparkSession, dir: String): String =
    Tables.memoFingerprint(s, dir, "auditgeom") {
      val r = Tables.t(s, dir, "embeddings")
        .selectExpr("count(*) AS n",
          "coalesce(bit_xor(xxhash64(vec_id, embedding)), 0L) AS chk")
        .head()
      s"${r.getLong(0)}:${r.getLong(1)}"
    }

  private def save(s: SparkSession, path: String, fp: String,
      rows: Seq[(Long, Long, Seq[Long])]): Unit = {
    import s.implicits._
    rows.toDF("grp", "cid", "e")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/geom")
    StoreMeta.write(s, path, Seq("base" -> fp))
  }

  private def load(s: SparkSession, path: String,
      fp: String): Option[Seq[(Long, Long, Seq[Long])]] =
    if (!StoreMeta.rows(s, path).get("base").contains(fp)) None
    else Some(s.read.parquet(s"$path/geom").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getSeq[Long](2)))
      .toSeq.sortBy(t => (t._1, t._2)))

  /** Load the persisted geometry for `leaf`, or run `fit`, persist its
    * result, and return it. The flattened row form keeps one meta per
    * leaf regardless of how many centroid groups the fit produces. */
  private def getOrFit(s: SparkSession, dir: String, leaf: String)(
      fit: => Seq[(Long, Long, Seq[Long])]): Seq[(Long, Long, Seq[Long])] = {
    val path = root(dir, leaf)
    val fp = fingerprint(s, dir)
    load(s, path, fp).getOrElse {
      val rows = fit
      save(s, path, fp, rows)
      rows.sortBy(t => (t._1, t._2))
    }
  }

  private def toRows(grpOffset: Long, books: Books): Seq[(Long, Long, Seq[Long])] =
    books.zipWithIndex.flatMap { case (cents, sub) =>
      cents.map { case (cid, e) => (grpOffset + sub, cid, e) }
    }

  private def toBooks(rows: Seq[(Long, Long, Seq[Long])]): Books =
    rows.groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (_, cs) => cs.sortBy(_._2).map(t => (t._2, t._3)) }

  /** q220's per-subspace PQ books. */
  def pqGeom(s: SparkSession, dir: String)(fit: => Books): Books =
    toBooks(getOrFit(s, dir, "pq")(toRows(0L, fit)))

  /** q221's coarse centroids (grp -1) + residual books (grp 0..pqM-1). */
  def ivfPqGeom(s: SparkSession, dir: String)(
      fit: => (Seq[(Long, Seq[Long])], Books)): (Seq[(Long, Seq[Long])], Books) = {
    val rows = getOrFit(s, dir, "ivfpq") {
      val (cents, books) = fit
      cents.map { case (cid, e) => (-1L, cid, e) } ++ toRows(0L, books)
    }
    val (coarse, books) = rows.partition(_._1 == -1L)
    (coarse.sortBy(_._2).map(t => (t._2, t._3)), toBooks(books))
  }
}
