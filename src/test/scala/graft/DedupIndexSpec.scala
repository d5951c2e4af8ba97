package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/**
 * Incremental-dedup index semantics (q84 covers the cross-engine hash):
 * planted delta docs (doc_id % 10 = 7 carrying corpus doc (id−7)'s text)
 * must come back 'exact' with exactly that keeper, and judging a delta
 * must be a pure READ of the store — build once, judge twice, bit-equal
 * verdicts, no store file touched.
 */
class DedupIndexSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  private def storeFiles(root: String): Map[String, Long] =
    Files.walk(Paths.get(root)).iterator().asScala
      .filter(Files.isRegularFile(_))
      .map((p: Path) => p.toString -> Files.getLastModifiedTime(p).toMillis)
      .toMap

  test("planted copies judge exact with the right keeper; judging never writes the store") {
    val path = graft.queries.DedupIndex.build(spark, sf)
    graft.queries.Caches.releaseAll()
    val first = graft.queries.Caches.scoped(
      graft.queries.DedupIndex.deltaVerdicts(spark, sf).collect().toSeq)
    assert(first.nonEmpty)

    // every planted doc is an exact dup of its source, nothing else is
    for (r <- first) {
      val id = r.getLong(0)
      if (id % 10 == 7) {
        assert(r.getInt(1) == 1, s"planted doc $id not judged exact")
        assert(r.getLong(2) == id - 7, s"doc $id keeper ${r.getLong(2)} != ${id - 7}")
        assert(r.getString(5) == "exact")
      } else {
        assert(r.getInt(1) == 0, s"unplanted doc $id judged exact")
        assert(r.getString(5) != "exact")
      }
    }
    // verdict consistency with the evidence columns
    for (r <- first) r.getString(5) match {
      case "exact"  => assert(r.getInt(1) == 1)
      case "near"   => assert(r.getInt(1) == 0 && r.getLong(3) > 0
        && r.getLong(4) % 10 < 7, s"near match ${r.getLong(4)} is not a corpus doc")
      case "unique" => assert(r.getInt(1) == 0 && r.getLong(3) == 0
        && r.getLong(2) == -1 && r.getLong(4) == -1)
    }
    // a planted copy is also a trivially-near candidate of its source —
    // the band join must have surfaced it (jaccard 1.0)
    assert(first.filter(_.getLong(0) % 10 == 7).forall(r => r.getLong(3) >= 1),
      "planted copy missing from its own band bucket")

    // incremental contract: a second judge run reads the same store
    // (no file rewritten, no new files) and returns identical verdicts
    val before = storeFiles(path)
    val second = graft.queries.Caches.scoped(
      graft.queries.DedupIndex.deltaVerdicts(spark, sf).collect().toSeq)
    assert(second == first, "re-judging the same delta changed verdicts")
    assert(storeFiles(path) == before, "judging the delta wrote to the store")
  }

  test("buildIfStale skips a current store, rebuilds after an absorb") {
    val idx = graft.queries.DedupIndex
    val path = idx.build(spark, sf)
    graft.queries.Caches.releaseAll()
    val before = storeFiles(path)
    assert(idx.isCurrent(spark, sf))
    idx.buildIfStale(spark, sf)
    assert(storeFiles(path) == before, "buildIfStale rebuilt a current store")

    // an absorb extends the store past the pristine corpus-only state the
    // oracled queries judge against — buildIfStale must rebuild
    graft.queries.Caches.scoped { idx.absorb(spark, sf); () }
    assert(!idx.isCurrent(spark, sf), "absorbed store still reads as pristine")
    idx.buildIfStale(spark, sf)
    graft.queries.Caches.releaseAll()
    assert(idx.isCurrent(spark, sf), "rebuild did not restore a current store")
  }

  test("streaming delta verdicts are bit-equal to the batch judge") {
    val idx = graft.queries.DedupIndex
    idx.build(spark, sf)
    graft.queries.Caches.releaseAll()
    val batch = graft.queries.Caches.scoped(
      idx.deltaVerdicts(spark, sf).collect().toSeq)
    val stream = graft.queries.Caches.scoped(
      idx.streamDeltaVerdicts(spark, sf).collect().toSeq)
    assert(stream == batch,
      "streaming judge diverged from the batch judge on the same store")
  }

  test("absorbing kept docs makes them visible to the next judge, append-only") {
    val idx = graft.queries.DedupIndex
    val path = idx.build(spark, sf)
    graft.queries.Caches.releaseAll()
    val first = graft.queries.Caches.scoped(
      idx.deltaVerdicts(spark, sf).collect().toSeq)
    val uniques = first.filter(_.getString(5) == "unique").map(_.getLong(0)).toSet
    assert(uniques.nonEmpty, "no unique docs to absorb — test has no teeth")
    val preAbsorb = storeFiles(path)

    graft.queries.Caches.scoped { idx.absorb(spark, sf); () }
    // append-only: every pre-existing store file is untouched
    val postAbsorb = storeFiles(path)
    // _SUCCESS markers (and their .crc sidecars) are rewritten by any
    // append commit, and meta.json is the mutable commit record absorb
    // updates by design — the append-only contract is on the DATA files
    // of exact/, bands/, and shingles/
    for ((f, t) <- preAbsorb if !f.contains("_SUCCESS") && !f.contains("meta.json"))
      assert(postAbsorb.get(f).contains(t), s"absorb rewrote store file $f")

    // the same batch re-judged: every previously-kept doc now matches
    // ITSELF exactly (its fp is in the store), nothing is 'unique'
    val rejudged = graft.queries.Caches.scoped(
      idx.deltaVerdicts(spark, sf).collect().toSeq)
    for (r <- rejudged) {
      assert(r.getString(5) != "unique",
        s"doc ${r.getLong(0)} still unique after its batch was absorbed")
      if (uniques.contains(r.getLong(0)))
        assert(r.getInt(1) == 1 && r.getLong(2) <= r.getLong(0),
          s"absorbed doc ${r.getLong(0)} not matched exactly (keeper ${r.getLong(2)})")
    }
    // absorbed docs must be NEAR-visible too, not just exact-visible:
    // their bands and shingle sets are in the store (the r15 bug: the
    // band/shingle appends re-evaluated the kept set against the
    // already-mutated exact table and absorbed EMPTY sets — every
    // absorbed doc judged exact but could never produce a near verdict
    // for a later batch)
    val bandIds = spark.read.parquet(s"$path/bands")
      .select("doc_id").distinct().collect().map(_.getLong(0)).toSet
    val shingleIds = spark.read.parquet(s"$path/shingles")
      .select("doc_id").distinct().collect().map(_.getLong(0)).toSet
    for (u <- uniques) {
      assert(bandIds.contains(u), s"absorbed doc $u missing from the band index")
      assert(shingleIds.contains(u), s"absorbed doc $u missing from the shingle store")
    }
    // rebuild so sibling tests (any order) see the pristine corpus store
    idx.build(spark, sf)
    graft.queries.Caches.releaseAll()
  }
}
