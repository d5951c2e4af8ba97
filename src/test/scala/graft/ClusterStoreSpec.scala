package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.queries.{Caches, ClusterStore, StoreMeta}

/**
 * Steady-state contract of the cluster-profile store (q211/q212): the
 * layered meta must make an absorbed, unchanged store a NO-OP lifecycle
 * (no retrain, no re-assignment), compact must be read-invisible, and a
 * torn absorb must rebuild rather than double-count.
 */
class ClusterStoreSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"
  private val v = "spec"

  private def profile = Caches.scoped(
    ClusterStore.profile(spark, sf, v).collect().toSeq.map(_.toString))
  private def drift = Caches.scoped(
    ClusterStore.drift(spark, sf, v).collect().toSeq.map(_.toString))

  private def fs = new org.apache.hadoop.fs.Path(ClusterStore.root(sf, v))
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Newest mtime under the centroids table — moves iff a retrain ran. */
  private def centMtime: Long =
    fs.listStatus(new org.apache.hadoop.fs.Path(
        s"${ClusterStore.root(sf, v)}/centroids"))
      .map(_.getModificationTime).max

  private def partialsCount: Long =
    Caches.scoped(
      spark.read.parquet(s"${ClusterStore.root(sf, v)}/partials").count())

  test("absorbed+current store is a no-op lifecycle; compact is read-invisible") {
    ClusterStore.invalidate(spark, sf, v)
    ClusterStore.buildIfStale(spark, sf, v)
    ClusterStore.absorb(spark, sf, v)
    val (p1, d1) = (profile, drift)
    val (m0, n0) = (centMtime, partialsCount)

    // second lifecycle: both verbs must skip — the store is absorbed
    // AND current, which the old flat meta could not express
    assert(ClusterStore.isCurrent(spark, sf, v),
      "an absorbed, unchanged store reads as stale")
    ClusterStore.buildIfStale(spark, sf, v)
    ClusterStore.absorb(spark, sf, v)
    assert(centMtime == m0, "a current absorbed store was retrained")
    assert(partialsCount == n0, "an idempotent absorb appended a second layer")
    assert(profile == p1 && drift == d1, "the no-op lifecycle moved a read")

    // compact folds the batch layers; every read is invariant
    ClusterStore.compact(spark, sf, v)
    assert(partialsCount <= n0, "compact grew the partials table")
    assert(profile == p1 && drift == d1, "compact changed a read")
    assert(ClusterStore.isCurrent(spark, sf, v), "compact left the meta torn")
    Caches.releaseAll()
  }

  test("torn absorb (batch row 'absorbing') reads stale and heals to the clean state") {
    ClusterStore.invalidate(spark, sf, v)
    ClusterStore.buildIfStale(spark, sf, v)
    ClusterStore.absorb(spark, sf, v)
    val p1 = profile
    // plant the crash: meta says an absorb is in flight (the partial
    // layer may or may not have landed — both must heal identically)
    val root = ClusterStore.root(sf, v)
    val base = StoreMeta.rows(spark, root)("base")
    StoreMeta.write(spark, root, Seq("base" -> base, "batch1" -> "absorbing"))
    assert(!ClusterStore.isCurrent(spark, sf, v),
      "a torn absorb read as current")
    // compact must REFUSE on the torn meta: folding now could bless a
    // half-written layer, and restoring the saved rows verbatim would
    // resurrect the tear as an "absorbed" state (the r17 ADVICE window)
    intercept[IllegalStateException](ClusterStore.compact(spark, sf, v))
    assert(!ClusterStore.isCurrent(spark, sf, v),
      "the refused compact mutated the torn meta")
    // the next absorb rebuilds (append-only partials cannot retract a
    // half-written layer) and lands on the clean absorbed state
    ClusterStore.absorb(spark, sf, v)
    assert(ClusterStore.isCurrent(spark, sf, v), "heal left the store stale")
    assert(profile == p1, "heal diverged from the clean lifecycle")
    Caches.releaseAll()
  }
}
