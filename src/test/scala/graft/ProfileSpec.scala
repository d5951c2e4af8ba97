package graft

import org.json4s._
import org.json4s.jackson.JsonMethods
import org.scalatest.funsuite.AnyFunSuite

/** The grid's layer profile ([[Profile]]) over real entries at sf0.001,
  * each run once as [[Bench]] runs it, and the bench's output lines over
  * a synthetic full-size grid. */
class ProfileSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  private lazy val layers: Map[String, Profile.Layers] = {
    val profile = Profile.register(spark)
    try {
      for (q <- Seq("iforest_score", "q136_stats_absorbed", "q58_ann_persisted",
          "q104_stream_outer_join"))
        profile.run(q)(Bench.runEntry(spark, sf, SparkEntry.queries(q)))
      profile.layers().toMap
    } finally profile.close()
  }

  private def med(l: Profile.Layers, column: String): Double = l.columns(column)._2

  test("iforest_score runs exactly its graft:iforest size, build and threshold jobs and the sink's") {
    val l = layers("iforest_score")
    // and the lineitem read's schema inference
    assert(l.phases.keySet ==
      Set("read:lineitem", "iforest:size", "iforest:build", "iforest:threshold", "sink"),
      l.phases)
    assert(l.phases("read:lineitem")._2 == ((1.0, 1.0)))
    assert(l.phases.values.map(_._2._2).sum == med(l, "jobs"))
    assert(med(l, "unphased_s") == 0.0)
  }

  test("a StatsStore entry and q58 label their jobs graft:store:* and graft:ann:*") {
    assert(layers("q136_stats_absorbed").phases.contains("store:stats_store:absorb"),
      layers("q136_stats_absorbed").phases)
    assert(layers("q58_ann_persisted").phases.keySet.exists(_.startsWith("ann:lsh:")),
      layers("q58_ann_persisted").phases)
  }

  test("phase walls sum to no more than the entry wall, and the driver gap is >= 0") {
    for ((q, l) <- layers) {
      // job times are whole milliseconds, the entry wall is nanoTime
      assert(l.phases.values.map(_._1._2).sum <= med(l, "wall_s") + 0.002, q)
      assert(med(l, "driver_gap_s") >= 0.0, q)
      assert(med(l, "job_s") <= med(l, "wall_s") + 0.002, q)
      assert(med(l, "jobs") > 0 && med(l, "tasks") >= med(l, "stages"), q)
    }
  }

  test("a streaming entry reports each micro-batch's durations") {
    val l = layers("q104_stream_outer_join")
    assert(med(l, "batches") > 0)
    assert(l.batches.size == med(l, "batches").toInt)
    assert(l.batches.forall(_.keySet == Profile.BatchDurations.toSet))
    assert(l.batches.map(_("addBatch")._2).sum > 0)
  }

  test("over 222 entries the slowest-15 line stays within 1,500 chars and the summary is last") {
    val rng = new scala.util.Random(7)
    val longPhase = "store:store_txn:checkpoint"
    val synthetic = (0 until 222).map { i =>
      // as long as the grid's longest entry name (26 chars)
      val name = f"q$i%03d_stream_tx_ingest_pair".take(26)
      val cols = Profile.Columns.map(c =>
        c -> (rng.nextDouble() * 9999.99, rng.nextDouble() * 9999.99)).toMap ++
        Map("jobs" -> (99999.0, 99999.0))
      name -> Profile.Layers(cols,
        Map(longPhase -> ((1.23456, 1234.56789), (7.0, 7.5)), Profile.Unphased -> ((0.5, 0.5), (1.0, 1.0))),
        Nil)
    }
    val results = synthetic.map { case (q, l) => q -> (l.columns("wall_s")._2, l.columns("wall_s")._1) }
    val out = Bench.lines(results, Seq("q000" -> ((1, "boom\n\"x\""))), synthetic, 3, "4",
      "/data/sf0.1", "BENCH_LOCAL.json")
    assert(out.size == 3)
    val top = out(1)
    assert(top.length <= Profile.MaxTopLine, top.length)
    val JObject(fields) = JsonMethods.parse(top)
    val slowest = synthetic.sortBy(-_._2.columns("wall_s")._2).take(15).map(_._1)
    assert(fields.map(_._1).filterNot(Set("metric", "unit", "cols")) == slowest)
    val JObject(full) = JsonMethods.parse(out.head)
    val JObject(perEntry) = full.toMap.apply("layers")
    assert(perEntry.size == 222)
    val JObject(summary) = JsonMethods.parse(out.last)
    assert(summary.toMap.apply("metric") == JString("total"))
    assert(summary.toMap.apply("n_queries") == JInt(222))
  }
}
