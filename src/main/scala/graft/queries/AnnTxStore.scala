package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * THE SIMILARITY-SEARCH TIER OF THE INGEST TRANSACTION — a persisted
 * bucket index with q54's FIXED integer hyperplanes, built so the ANN
 * family can ride the same commit row as the graph and embed stores
 * (q169). [[graft.similarity.AnnIndex]]'s tiers stay the production ANN
 * path (seeded gaussian/k-means geometry, their own append/fingerprint
 * protocol); this store exists for the transactional composition and its
 * PROOF: with integer-literal hyperplanes the bucket ids — and therefore
 * the whole layered top-k read — are exactly expressible in cross-engine
 * SQL, so q169 is the one transactionally-maintained ANN read DuckDB can
 * hash-check end to end (the gaussian tiers are spec-gated instead).
 *
 * Layout under the md5-keyed tmpdir root (EmbedIndex's skeleton):
 *   buckets/  (b54, vec_id) — fixed-hyperplane bucket per corpus-slice
 *             vector (vec_id % 10 < 7, the ingest family's base slice);
 *   meta/     corpus-slice fingerprint, written LAST (crash = rebuild).
 *
 * The base never mutates after build: transactional ticks stage their
 * survivors' (b54, vec_id) rows as `t<id>/ann/buckets` layers in the
 * SAME transaction as the embed-gate and graph-partial staging, and the
 * reader ([[StoreTxn.annTopKTx]]) probes base ∪ committed layers. Only
 * the embed gate's 'unique' survivors enter the index — planted
 * duplicates always judge exact/near (their source is already indexed),
 * so every indexed id's stored vector form equals its raw corpus row and
 * candidate rehydration from the corpus table is exact (the q142 oracle's
 * "kept vectors keep their judged form" note, applied to search).
 */
object AnnTxStore {

  private val store = new StoreMeta.Store("anntx", fingerprint,
    StoreMeta.pristine)

  private[graft] def root(dir: String): String = store.root(dir)

  /** q54's fixed-hyperplane bucket over a double-array column `e` —
    * shared with the oracle side via TextPipeline.fixedBucket. */
  private[graft] def withB54(delta: DataFrame): DataFrame =
    delta.selectExpr("vec_id", s"${TextPipeline.fixedBucket} AS b54")

  /** Same corpus-slice fingerprint as EmbedIndex (count + order-free xor
    * over id+vector): membership or in-place changes move it. */
  private def fingerprint(s: SparkSession, dir: String): String =
    Tables.memoFingerprint(s, dir, "anntx.base") {
      val r = Tables.t(s, dir, "embeddings").where("vec_id % 10 < 7")
        .selectExpr("count(*) AS n",
          "coalesce(bit_xor(xxhash64(vec_id, embedding)), 0L) AS chk")
        .head()
      s"${r.getLong(0)}:${r.getLong(1)}"
    }

  def build(s: SparkSession, dir: String): String = {
    val path = root(dir)
    withB54(TextPipeline.embDoubles(s, dir).where("vec_id % 10 < 7"))
      .select(col("b54"), col("vec_id"))
      .write.mode("overwrite").parquet(s"$path/buckets")
    store.built(s, dir)
    path
  }

  def isCurrent(s: SparkSession, dir: String): Boolean = store.isCurrent(s, dir)

  /** Delete the meta record so the next ensure rebuilds. */
  private[graft] def invalidate(s: SparkSession, dir: String): Unit =
    store.invalidate(s, dir)
}
