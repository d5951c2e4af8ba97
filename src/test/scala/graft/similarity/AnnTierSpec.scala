package graft.similarity

import org.json4s._
import org.json4s.JsonDSL._
import org.scalatest.funsuite.AnyFunSuite

/** A tier value is the one way to name a tier: its metadata fields read
  * back as the same value, and each method's defaults are its case
  * class's. Pure JSON — no Spark job. */
class AnnTierSpec extends AnyFunSuite {

  private def meta(t: AnnTier): JObject = ("method" -> t.method) ~ t.knobs

  test("fromMeta reads back every tier at its defaults and at non-default knobs") {
    val nonDefault = Seq(
      LshTier(numTables = 12, probesPerTable = 1024, poolFrac = 0.85),
      LshTier(numPlanes = 8, numTables = 5, probesPerTable = 28, seed = 17L, minCollisions = 1),
      IvfTier(nlist = 64, nprobe = 9),
      PqTier(m = 8, kCodes = 32, seed = 17L),
      IvfPqTier(nlist = 64, nprobe = 9, m = 8, kCodes = 32, seed = 17L))
    for (t <- Seq("lsh", "ivf", "pq", "ivfpq").map(AnnTier.defaults) ++ nonDefault)
      assert(AnnTier.fromMeta(meta(t)) == t, s"round-trip of $t")
  }

  test("defaults(method) is the tier's no-argument case class") {
    assert(AnnTier.defaults("lsh") == LshTier())
    assert(AnnTier.defaults("ivf") == IvfTier())
    assert(AnnTier.defaults("pq") == PqTier())
    assert(AnnTier.defaults("ivfpq") == IvfPqTier())
    assertThrows[IllegalArgumentException](AnnTier.defaults("hnsw"))
  }

  test("LSH metadata with \"adaptive\": true is refused, \"adaptive\": false ignored") {
    val lsh = meta(LshTier())
    assert(AnnTier.fromMeta(lsh ~ ("adaptive" -> false)) == LshTier())
    val e = intercept[IllegalArgumentException](AnnTier.fromMeta(lsh ~ ("adaptive" -> true)))
    assert(e.getMessage.contains("\"adaptive\""), e.getMessage)
  }
}
