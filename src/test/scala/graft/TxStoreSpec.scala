package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/**
 * [[graft.queries.StoreTxn]] — the transactional cross-store absorb.
 * The oracled q147 proves the protocol lands on q134's bytes; these
 * cases pin what the oracle can't see: the CRASH WINDOWS. Uncommitted
 * staging must be invisible to BOTH stores (atomicity), a crashed stage
 * must heal by redo with the same transaction id, and a second
 * transaction must be judged against the first one's committed state.
 */
class TxStoreSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"
  import graft.queries.{Caches, DedupIndex, StatsStore, StoreMix, StoreTxn, Tables}

  private def statsDelta(pred: String) =
    Tables.t(spark, sf, "documents").where(pred)

  private def keeperSet: Set[Long] = Caches.scoped(
    StoreTxn.keeperIdsTx(spark, sf).collect().map(_.getLong(0)).toSet)

  private def statsRows: Seq[String] = Caches.scoped(
    StoreTxn.storedStatsTx(spark, sf).collect().toSeq.map(_.toString))

  private def vocabRows: Seq[String] = Caches.scoped(
    StoreTxn.vocabCoverageTx(spark, sf).collect().toSeq.map(_.toString))

  test("uncommitted staging is invisible to both stores; commit flips both at once") {
    StoreTxn.reset(spark, sf)
    StoreTxn.ensureBases(spark, sf)
    val baseKeepers = keeperSet
    val baseStats = statsRows

    // stage the full delta as txn 0 — but CRASH before the commit row
    val baseVocab = vocabRows
    StoreTxn.stage(spark, sf, DedupIndex.deltaDocs(spark, sf),
      statsDelta("doc_id % 10 >= 7"), 0L)
    assert(keeperSet == baseKeepers,
      "dedup reader saw uncommitted staging")
    assert(statsRows == baseStats,
      "stats reader saw uncommitted staging")
    assert(vocabRows == baseVocab,
      "vocab reader saw uncommitted staging")
    assert(StoreTxn.nextTxnId(spark, sf) == 0L,
      "crashed stage must not advance the transaction id")

    // the commit point: ONE append — afterwards all three stores advance
    StoreTxn.commit(spark, sf, 0L)
    val committedKeepers = keeperSet
    assert(committedKeepers.size > baseKeepers.size,
      "commit did not surface the dedup layer")
    assert(statsRows != baseStats,
      "commit did not surface the stats layer")
    assert(vocabRows != baseVocab,
      "commit did not surface the vocab layer")
    // post-commit stats == pristine-store-plus-live-delta merge (the
    // oracled q107 state over the same corpus ∪ delta)
    StatsStore.buildIfStale(spark, sf)
    val expected = Caches.scoped(
      StatsStore.mergedStats(spark, sf).collect().toSeq.map(_.toString))
    assert(statsRows == expected,
      "transactional stats diverged from the merged-partials recompute")
    Caches.releaseAll()
  }

  test("transactional absorb == the plain single-store absorb (keeper sets)") {
    StoreTxn.reset(spark, sf)
    StoreTxn.ensureBases(spark, sf)
    StoreTxn.absorbBoth(spark, sf, DedupIndex.deltaDocs(spark, sf),
      statsDelta("doc_id % 10 >= 7"))
    // reference: the non-transactional absorb on a throwaway variant
    DedupIndex.build(spark, sf, "txspec")
    DedupIndex.absorb(spark, sf, "txspec")
    val plain = Caches.scoped(DedupIndex.keeperIds(spark, sf, "txspec")
      .collect().map(_.getLong(0)).toSet)
    assert(keeperSet == plain,
      "commit-log keepers diverged from the plain absorb")
    Caches.releaseAll()
  }

  test("crashed stage heals by redo: same id, clean final state") {
    StoreTxn.reset(spark, sf)
    StoreTxn.ensureBases(spark, sf)
    // crash mid-stage: kept + exact layer written, shingles/bands/stats not
    val t = s"${StoreTxn.root(sf)}/t0"
    StoreTxn.stage(spark, sf, DedupIndex.deltaDocs(spark, sf),
      statsDelta("doc_id % 10 >= 7"), 0L)
    val fs = new org.apache.hadoop.fs.Path(t)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$t/dedup/bands"), true)
    fs.delete(new org.apache.hadoop.fs.Path(s"$t/stats"), true)

    // retry recomputes the SAME id (nothing committed) and overwrites
    val id = StoreTxn.absorbBoth(spark, sf, DedupIndex.deltaDocs(spark, sf),
      statsDelta("doc_id % 10 >= 7"))
    assert(id == 0L, "retry must reuse the uncommitted transaction id")
    StatsStore.buildIfStale(spark, sf)
    val expected = Caches.scoped(
      StatsStore.mergedStats(spark, sf).collect().toSeq.map(_.toString))
    assert(statsRows == expected, "healed state diverged from the recompute")
    Caches.releaseAll()
  }

  test("txn 2 is judged against txn 1's committed state") {
    StoreTxn.reset(spark, sf)
    StoreTxn.ensureBases(spark, sf)
    StoreTxn.absorbBoth(spark, sf, DedupIndex.batch1Docs(spark, sf),
      statsDelta("doc_id % 10 >= 7 AND doc_id % 10 < 9"))
    val keepersAfter1 = keeperSet

    // batch 2's mod-20 = 9 docs are planted copies of batch-1 (mod-8)
    // docs; where the source doc was absorbed in txn 1, the judge must
    // read 'exact' with the absorbed doc as keeper
    val verdicts = Caches.scoped(
      StoreTxn.judgeTx(spark, sf, DedupIndex.batch2Docs(spark, sf))
        .where("doc_id % 20 = 9").collect().toSeq)
    val planted = verdicts.filter(r => keepersAfter1.contains(r.getAs[Long]("doc_id") - 1))
    assert(planted.nonEmpty, "fixture lost its planted copies")
    planted.foreach { r =>
      assert(r.getAs[String]("verdict") == "exact" &&
        r.getAs[Long]("exact_keeper") == r.getAs[Long]("doc_id") - 1,
        s"planted copy not judged against txn 1's absorbed doc: $r")
    }

    // absorb txn 2 as well: final stats must equal the full-table state
    StoreTxn.absorbBoth(spark, sf, DedupIndex.batch2Docs(spark, sf),
      statsDelta("doc_id % 10 = 9"))
    StatsStore.buildIfStale(spark, sf)
    val expected = Caches.scoped(
      StatsStore.mergedStats(spark, sf).collect().toSeq.map(_.toString))
    assert(statsRows == expected,
      "two-transaction stats diverged from the recompute")
    Caches.releaseAll()
  }

  test("checkpoint folds the log into the base; publish window refuses loudly; redo heals") {
    StoreTxn.reset(spark, sf)
    StoreTxn.ensureBases(spark, sf)
    StoreTxn.absorbBoth(spark, sf, DedupIndex.batch1Docs(spark, sf),
      statsDelta("doc_id % 10 >= 7 AND doc_id % 10 < 9"))
    StoreTxn.absorbBoth(spark, sf, DedupIndex.batch2Docs(spark, sf),
      statsDelta("doc_id % 10 = 9"))
    val keepersBefore = keeperSet
    val statsBefore = statsRows

    StoreTxn.checkpoint(spark, sf)
    // truncation retains the HIGHEST folded marker: ids must stay
    // monotone for the life of the store (folded dtxn/ftxn sequence
    // numbers would otherwise outrank post-checkpoint appends)
    assert(StoreTxn.nextTxnId(spark, sf) == 2L,
      "checkpoint must truncate the log to the high-water marker alone")
    assert(keeperSet == keepersBefore,
      "checkpoint changed the dedup read")
    assert(statsRows == statsBefore,
      "checkpoint changed the stats read")

    // crash window: marker up, publish not finished — readers must
    // refuse rather than serve the double-counting intermediate state
    StoreTxn.checkpointStage(spark, sf)
    intercept[IllegalStateException](keeperSet)
    intercept[IllegalStateException](statsRows)
    // redo heals: the marker routes checkpoint straight to publish
    StoreTxn.checkpoint(spark, sf)
    assert(keeperSet == keepersBefore && statsRows == statsBefore,
      "checkpoint redo diverged")

    // reset heals the folded base for the pristine-base lifecycles
    StoreTxn.reset(spark, sf)
    StoreTxn.ensureBases(spark, sf)
    assert(keeperSet.size < keepersBefore.size,
      "reset after checkpoint must rebuild the pristine corpus base")
    Caches.releaseAll()
  }

  test("vacuum reclaims abandoned staging only; refuses mid-checkpoint; drops pre-marker ckpt staging") {
    def exists(p: String): Boolean = {
      val hp = new org.apache.hadoop.fs.Path(p)
      hp.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(hp)
    }
    val r = StoreTxn.root(sf)
    StoreTxn.reset(spark, sf)
    StoreTxn.ensureBases(spark, sf)
    // txn 0 commits; txn 1 is staged then ABANDONED (crash, retry never comes)
    StoreTxn.absorbBoth(spark, sf, DedupIndex.batch1Docs(spark, sf),
      statsDelta("doc_id % 10 >= 7 AND doc_id % 10 < 9"))
    val committedKeepers = keeperSet
    val committedStats = statsRows
    StoreTxn.stage(spark, sf, DedupIndex.batch2Docs(spark, sf),
      statsDelta("doc_id % 10 = 9"), 1L)
    assert(exists(s"$r/t1"), "precondition: abandoned staging on disk")

    // absorbBoth committed txn 0 under a writer-unique nonce'd dir —
    // resolve it the way readers do, through the marker's content
    val t0dir = StoreTxn.committedTxnDirs(spark, sf).head._2
    assert(StoreTxn.vacuum(spark, sf) == Seq(1L),
      "vacuum must reclaim exactly the uncommitted staging")
    assert(!exists(s"$r/t1"), "orphaned staging survived vacuum")
    assert(exists(t0dir), "vacuum deleted a COMMITTED layer")
    assert(keeperSet == committedKeepers && statsRows == committedStats,
      "vacuum changed a committed read")
    assert(StoreTxn.vacuum(spark, sf).isEmpty, "vacuum is not idempotent")

    // a checkpointStage that died BEFORE raising the marker leaves
    // staging_ckpt with no marker — vacuum reclaims it
    val fs = new org.apache.hadoop.fs.Path(r)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$r/staging_ckpt/dedup"))
    StoreTxn.vacuum(spark, sf)
    assert(!exists(s"$r/staging_ckpt"),
      "pre-marker checkpoint staging survived vacuum")

    // with the marker UP the staged copies are the redo source: refuse
    StoreTxn.checkpointStage(spark, sf)
    intercept[IllegalStateException](StoreTxn.vacuum(spark, sf))
    assert(exists(s"$r/staging_ckpt"),
      "vacuum deleted the redo source of an in-flight checkpoint")
    // heal by redo, then nothing is left to reclaim
    StoreTxn.checkpoint(spark, sf)
    assert(StoreTxn.vacuum(spark, sf).isEmpty)
    StoreTxn.reset(spark, sf) // heal the folded base for later lifecycles
    Caches.releaseAll()
  }

  test("generation guards: commit race loses loudly; asOf refuses folded history; stale base drops old layers") {
    StoreTxn.reset(spark, sf)
    StoreTxn.ensureBases(spark, sf)
    StoreTxn.absorbBoth(spark, sf, DedupIndex.batch1Docs(spark, sf),
      statsDelta("doc_id % 10 >= 7 AND doc_id % 10 < 9"))

    // TWO-WRITER RACE on one txn id: both drivers read nextTxnId before
    // either commits, both stage, both try to commit. The marker's
    // create-if-absent arbitrates — the second commit must FAIL LOUDLY
    // (conditional-PUT semantics), never append a duplicate log entry.
    // Writer B's orphaned staging stays invisible and vacuumable.
    val racedId = StoreTxn.nextTxnId(spark, sf) - 1 // = the id just committed
    intercept[IllegalStateException](StoreTxn.commit(spark, sf, racedId))
    val fs = new org.apache.hadoop.fs.Path(StoreTxn.root(sf))
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // a non-id file in the log dir is ignored by the listing, not
    // misread as a transaction
    val junk = new org.apache.hadoop.fs.Path(
      s"${StoreTxn.root(sf)}/commits/_SUCCESS")
    fs.create(junk).close()
    assert(StoreTxn.nextTxnId(spark, sf) == racedId + 1)
    fs.delete(junk, false)

    // a checkpoint folds history into the base — log-prefix time travel
    // must refuse rather than return folded data labeled as historical
    StoreTxn.checkpoint(spark, sf)
    intercept[IllegalStateException](
      StoreTxn.storedStatsTxAsOf(spark, sf, 0L).collect())

    // a stale base (corpus regeneration in production; a meta delete
    // here) must take the old generation's commits and layers with it
    StoreTxn.absorbBoth(spark, sf, DedupIndex.batch2Docs(spark, sf),
      statsDelta("doc_id % 10 = 9"))
    fs.delete(new org.apache.hadoop.fs.Path(
      s"${graft.queries.StatsStore.root(sf, "tx")}/meta.json"), true)
    StoreTxn.ensureBases(spark, sf)
    assert(StoreTxn.nextTxnId(spark, sf) == 0L,
      "base rebuild kept the old generation's commit log")
    val baseOnly = keeperSet
    assert(!baseOnly.exists(_ % 10 >= 7),
      "base rebuild kept old-generation dedup layers")
    Caches.releaseAll()
  }

  test("ingest pair: uncommitted graph/embed staging invisible; one commit flips both") {
    import graft.queries.EmbedIndex
    StoreTxn.reset(spark, sf)
    StoreTxn.ensureBases(spark, sf)       // text bases: txn 1 below stages them
    StoreTxn.ensureIngestBases(spark, sf) // ingest bases: txn 0 stages these
    def edgeCount: Long = StoreTxn.mergedEdgesTx(spark, sf).count()
    def judged: Seq[String] = Caches.scoped(
      StoreTxn.judgeEmbedTx(spark, sf, EmbedIndex.batch2Vecs(spark, sf))
        .collect().toSeq.map(_.toString))
    val baseEdges = edgeCount
    val baseJudge = judged

    // stage graph pairs + embed batch-1 survivors as txn 0; CRASH before
    // the commit row: neither store may move
    StoreTxn.stageIngest(spark, sf, EmbedIndex.batch1Vecs(spark, sf), 0L)
    assert(edgeCount == baseEdges, "graph reader saw uncommitted staging")
    assert(judged == baseJudge, "embed judge saw uncommitted staging")
    assert(StoreTxn.nextTxnId(spark, sf) == 0L)

    // ONE append — both stores advance in the same instant
    StoreTxn.commit(spark, sf, 0L)
    assert(edgeCount > baseEdges, "commit did not surface the graph layer")
    assert(judged != baseJudge, "commit did not surface the embed layer")
    // a mixed history: text-store txns skip the ingest stores' readers —
    // txn 1 stages only dedup/stats/vocab, and the graph/embed reads are
    // unchanged by its commit (the existence-filtered layered read)
    val edgesAfterIngest = edgeCount
    val judgeAfterIngest = judged
    StoreTxn.stage(spark, sf, DedupIndex.deltaDocs(spark, sf),
      statsDelta("doc_id % 10 >= 7"), 1L)
    StoreTxn.commit(spark, sf, 1L)
    assert(edgeCount == edgesAfterIngest,
      "a text-store transaction changed the graph read")
    assert(judged == judgeAfterIngest,
      "a text-store transaction changed the embed read")
    Caches.releaseAll()
  }

  test("q169 ann tier: staging invisible until commit; membership tracks the gate; checkpoint folds it") {
    import graft.queries.{AnnTxStore, EmbedIndex}
    StoreTxn.reset(spark, sf)
    StoreTxn.ensureBases(spark, sf)       // checkpoint below folds the text stores too
    StoreTxn.ensureIngestBases(spark, sf)
    StoreTxn.ensureAnnBase(spark, sf)
    def annIds: Set[Long] = Caches.scoped(
      StoreTxn.annBucketsTx(spark, sf).select("vec_id")
        .collect().map(_.getLong(0)).toSet)
    def embIds: Set[Long] = Caches.scoped(
      StoreTxn.embedBuckets(spark, sf).select("vec_id")
        .collect().map(_.getLong(0)).toSet)
    val baseAnn = annIds
    assert(baseAnn == embIds, "base ann membership must equal the embed gate's")

    // stage tick 1 WITH the ann tier, crash before the commit row: the
    // search index must not move (the graph payload is irrelevant here —
    // the orphan staging is overwritten by the real absorb's redo below)
    val fakePairs = Tables.t(spark, sf, "lineitem")
      .selectExpr("l_orderkey AS a", "l_partkey AS b").limit(5)
      .withColumn("w", lit(1L))
    StoreTxn.stageIngest(spark, sf, EmbedIndex.batch1Vecs(spark, sf),
      fakePairs, 0L, withAnn = true)
    assert(annIds == baseAnn, "ann reader saw uncommitted staging")

    StoreTxn.absorbIngestTick(spark, sf, 1, withAnn = true)
    StoreTxn.absorbIngestTick(spark, sf, 2, withAnn = true)
    val grown = annIds
    assert(grown.size > baseAnn.size, "the ticks absorbed no survivors")
    assert(grown == embIds, "ann membership must track the embed gate exactly")

    // every stored b54 equals a raw recompute over the corpus table
    // (survivors are raw-form — AnnTxStore's rehydration contract)
    val stored = Caches.scoped(
      StoreTxn.annBucketsTx(spark, sf)
        .collect().map(r => (r.getLong(1), r.getInt(0))).toSet)
    val emb = Tables.t(spark, sf, "embeddings")
      .selectExpr("vec_id", "transform(embedding, x -> cast(x AS double)) AS e")
    val expected = Caches.scoped(
      AnnTxStore.withB54(emb)
        .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
        .filter(p => grown.contains(p._1)))
    assert(stored == expected, "a stored b54 diverged from the raw recompute")

    val topkBefore = Caches.scoped(
      StoreTxn.annTopKTx(spark, sf).collect().toSeq.map(_.toString))
    assert(topkBefore.size == 50, s"expected 5 probes x 10: ${topkBefore.size}")

    // checkpoint folds the ann layers into the base; the read is invariant
    StoreTxn.checkpoint(spark, sf)
    assert(annIds == grown, "checkpoint changed the ann membership")
    val topkAfter = Caches.scoped(
      StoreTxn.annTopKTx(spark, sf).collect().toSeq.map(_.toString))
    assert(topkBefore == topkAfter, "checkpoint changed a search answer")
    Caches.releaseAll()
  }

  test("q166 streamed ingest pair == two batch tick absorbs, bit-identically") {
    // streamed: q166's full lifecycle (reset + two foreachBatch commits)
    val streamedTri = Caches.scoped(
      SparkEntry.queries("q166_stream_tx_ingest_pair")(spark, sf)
        .collect().toSeq.map(_.toString))
    assert(streamedTri.nonEmpty)
    val sEdges = Caches.scoped(
      StoreTxn.mergedEdgesTx(spark, sf).collect().toSeq.map(_.toString).sorted)
    val sBuckets = Caches.scoped(
      StoreTxn.embedBuckets(spark, sf).collect().toSeq.map(_.toString).sorted)
    assert(StoreTxn.nextTxnId(spark, sf) == 2L,
      "streamed run must have committed exactly two transactions")

    // batch: the same two ticks absorbed without the stream
    StoreTxn.reset(spark, sf)
    StoreTxn.ensureIngestBases(spark, sf)
    StoreTxn.absorbIngestTick(spark, sf, 1)
    StoreTxn.absorbIngestTick(spark, sf, 2)
    val bEdges = Caches.scoped(
      StoreTxn.mergedEdgesTx(spark, sf).collect().toSeq.map(_.toString).sorted)
    val bBuckets = Caches.scoped(
      StoreTxn.embedBuckets(spark, sf).collect().toSeq.map(_.toString).sorted)
    assert(sEdges == bEdges, "streamed merged edges diverged from batch absorbs")
    assert(sBuckets == bBuckets, "streamed bucket state diverged from batch absorbs")
    Caches.releaseAll()
  }

  test("q185 search tier: uncommitted postings invisible; commit shifts every score") {
    StoreTxn.reset(spark, sf)
    StoreTxn.ensureSearchBase(spark, sf)
    def ranks: Seq[String] = Caches.scoped(
      StoreTxn.bm25Tx(spark, sf).collect().toSeq.map(_.toString))
    val baseRanks = ranks

    // stage tranche 1 but crash before the commit row: the ranker must
    // still serve the base index — postings AND the N/Σdl normalizer
    val docs = Tables.t(spark, sf, "documents")
    StoreTxn.stageSearch(spark, sf, docs.where("doc_id % 10 IN (7, 8)"), 0L)
    assert(ranks == baseRanks, "BM25 saw uncommitted postings or stats")

    StoreTxn.commit(spark, sf, 0L)
    val committed = ranks
    assert(committed != baseRanks, "commit did not surface the search layer")

    // after the second tranche the transactional index must equal the
    // plain single-store full lifecycle (q181's absorbed state)
    StoreTxn.absorbSearch(spark, sf, docs.where("doc_id % 10 = 9"))
    val txFull = ranks
    graft.queries.SearchStore.invalidate(spark, sf)
    graft.queries.SearchStore.buildIfStale(spark, sf)
    graft.queries.SearchStore.absorb(spark, sf)
    val plain = Caches.scoped(
      graft.queries.SearchStore.bm25(spark, sf).collect().toSeq.map(_.toString))
    assert(txFull == plain,
      "transactional index diverged from the single-store lifecycle")

    // checkpoint folds the postings layers into the tb-partitioned base
    // and must be invisible to the ranker
    StoreTxn.checkpoint(spark, sf)
    assert(ranks == txFull, "checkpoint fold changed the BM25 ranking")
    Caches.releaseAll()
  }

  test("q191 table tier: staged data files invisible via manifest; vacuum reclaims orphans") {
    StoreTxn.reset(spark, sf)
    StoreTxn.ensureZoneBase(spark, sf)
    StoreTxn.vacuumTable(spark, sf)
    def agg: Seq[String] = Caches.scoped(
      StoreTxn.tableRangeAggregateTx(spark, sf).collect().toSeq.map(_.toString))
    def layoutFiles: Int = {
      val d = new java.io.File(queries.ZoneMapStore.layoutPath(sf, "tx"))
      d.listFiles().count(_.getName.endsWith(".parquet"))
    }
    val baseAgg = agg
    val baseFiles = layoutFiles

    // stage tranche 1 but crash pre-commit: the data files ARE on disk,
    // yet the read — manifest-driven, never a listing — must not move
    val orders = queries.Tables.t(spark, sf, "orders")
    StoreTxn.stageTableAppend(spark, sf, orders.where("o_orderkey % 10 IN (7, 8)"), 0L)
    assert(layoutFiles > baseFiles, "stage wrote no data files")
    assert(agg == baseAgg, "reader saw uncommitted data files")

    // the abandoned stage's files are unreferenced orphans: vacuum
    // reclaims exactly them and the committed read still doesn't move
    val reclaimed = StoreTxn.vacuumTable(spark, sf)
    assert(reclaimed.nonEmpty, "vacuum reclaimed nothing")
    assert(layoutFiles == baseFiles, "vacuum left orphan data files")
    assert(agg == baseAgg, "vacuum disturbed the committed read")

    // redo: stage again (fresh files), commit — now the read advances
    StoreTxn.stageTableAppend(spark, sf, orders.where("o_orderkey % 10 IN (7, 8)"), 0L)
    StoreTxn.commit(spark, sf, 0L)
    val afterT1 = agg
    assert(afterT1 != baseAgg, "commit did not surface the appended tranche")
    assert(StoreTxn.vacuumTable(spark, sf).isEmpty,
      "committed files read as orphans")

    // second tranche, then checkpoint: manifest folds into the base
    // zones, data files stay put, the read is unchanged
    StoreTxn.absorbTableAppend(spark, sf, orders.where("o_orderkey % 10 = 9"))
    val full = agg
    StoreTxn.checkpoint(spark, sf)
    assert(agg == full, "checkpoint fold changed the table read")
    assert(StoreTxn.vacuumTable(spark, sf).isEmpty,
      "checkpoint stranded committed data files")
    Caches.releaseAll()
  }

  test("q193 delete vector: invisible until commit; checkpoint must not resurrect") {
    StoreTxn.reset(spark, sf)
    StoreTxn.ensureZoneBase(spark, sf)
    StoreTxn.vacuumTable(spark, sf)
    def agg: Seq[String] = Caches.scoped(
      StoreTxn.tableRangeAggregateTx(spark, sf).collect().toSeq.map(_.toString))
    val orders = queries.Tables.t(spark, sf, "orders")
    StoreTxn.absorbTableAppend(spark, sf, orders.where("o_orderkey % 10 >= 7"))
    val full = agg

    // staged delete, crash pre-commit: nothing moves
    StoreTxn.stageTableDelete(spark, sf, "o_orderkey % 13 = 5", 1L)
    assert(agg == full, "reader saw an uncommitted delete vector")
    StoreTxn.commit(spark, sf, 1L)
    val afterDelete = agg
    assert(afterDelete != full, "commit did not surface the delete vector")

    // checkpoint folds manifest AND delete vector: dropping the t<id>
    // dirs must not resurrect the deleted rows
    StoreTxn.checkpoint(spark, sf)
    assert(agg == afterDelete, "checkpoint resurrected deleted rows")
    Caches.releaseAll()
  }

  test("q195 upsert: replacing rows survive their own delete; checkpoint keeps the merge") {
    StoreTxn.reset(spark, sf)
    StoreTxn.ensureZoneBase(spark, sf)
    StoreTxn.vacuumTable(spark, sf)
    def agg: Seq[String] = Caches.scoped(
      StoreTxn.tableRangeAggregateTx(spark, sf).collect().toSeq.map(_.toString))
    val orders = queries.Tables.t(spark, sf, "orders")
    StoreTxn.absorbTableAppend(spark, sf, orders.where("o_orderkey % 10 = 9"))
    val before = agg
    StoreTxn.absorbTableUpsert(spark, sf, "o_orderkey % 10 = 9",
      orders.where("o_orderkey % 10 = 9")
        .withColumn("o_totalprice", col("o_totalprice") * 2))
    val merged = agg
    assert(merged != before, "upsert was invisible")
    // row COUNT must be unchanged (replace, not append+keep-both) —
    // capture the live count map AT each named state (the helper takes
    // no argument precisely so nothing can pretend to measure a state
    // it isn't reading)
    def countsNow: Map[String, Long] =
      Caches.scoped(StoreTxn.tableRangeAggregateTx(spark, sf).collect()
        .map(r => (r.getString(0), r.getLong(1))).toMap)
    val mergedCounts = countsNow
    StoreTxn.reset(spark, sf); StoreTxn.ensureZoneBase(spark, sf)
    StoreTxn.vacuumTable(spark, sf)
    StoreTxn.absorbTableAppend(spark, sf, orders.where("o_orderkey % 10 = 9"))
    val plainCounts = countsNow
    assert(mergedCounts == plainCounts,
      s"upsert changed cardinality: $plainCounts -> $mergedCounts")
    // redo the merge and checkpoint: sequence numbers must survive the
    // fold — the folded delete (dtxn) must not re-kill the folded
    // replacing files (ftxn == dtxn)
    StoreTxn.absorbTableUpsert(spark, sf, "o_orderkey % 10 = 9",
      orders.where("o_orderkey % 10 = 9")
        .withColumn("o_totalprice", col("o_totalprice") * 2))
    val mergedAgain = agg
    StoreTxn.checkpoint(spark, sf)
    assert(agg == mergedAgain, "checkpoint fold broke the upsert resolution")
    Caches.releaseAll()
  }

  test("q198 replace: boundary flips atomically; old generation readable until checkpoint+vacuum") {
    StoreTxn.reset(spark, sf)
    StoreTxn.ensureZoneBase(spark, sf)
    StoreTxn.vacuumTable(spark, sf)
    def agg: Seq[String] = Caches.scoped(
      StoreTxn.tableRangeAggregateTx(spark, sf).collect().toSeq.map(_.toString))
    val orders = queries.Tables.t(spark, sf, "orders")
    StoreTxn.absorbTableAppend(spark, sf, orders.where("o_orderkey % 10 = 9"))
    val beforeReplace = agg
    StoreTxn.absorbTableReplace(spark, sf, orders.where("o_orderkey % 10 IN (7, 8)"))
    val afterReplace = agg
    assert(afterReplace != beforeReplace, "replace boundary was invisible")
    // as-of BEFORE the replace still reconstructs the old generation
    val asOf0 = Caches.scoped(
      StoreTxn.tableRangeAggregateTxAsOf(spark, sf, 0L).collect().toSeq.map(_.toString))
    assert(asOf0 == beforeReplace, "replace destroyed the pre-replace snapshot")
    // the old generation's files stay reclaim-exempt while the log
    // references them...
    assert(StoreTxn.vacuumTable(spark, sf).isEmpty,
      "vacuum reclaimed files the log still references")
    // ...and become orphans once a checkpoint folds the post-replace
    // view and truncates the log
    StoreTxn.checkpoint(spark, sf)
    assert(agg == afterReplace, "checkpoint changed the post-replace read")
    assert(StoreTxn.vacuumTable(spark, sf).nonEmpty,
      "replaced generation never became reclaimable")
    assert(agg == afterReplace, "vacuum disturbed the folded read")
    Caches.releaseAll()
  }

  test("q203 MV: delta invisible until commit; read never opens the table") {
    StoreTxn.reset(spark, sf)
    StoreTxn.ensureZoneBase(spark, sf)
    StoreTxn.vacuumTable(spark, sf)
    StoreTxn.mvEnsureBase(spark, sf)
    def mv: Seq[String] = Caches.scoped(
      StoreTxn.matViewTx(spark, sf).collect().toSeq.map(_.toString))
    val baseMv = mv
    val orders = queries.Tables.t(spark, sf, "orders")
    // staged table layers + MV delta, crash pre-commit: the MV read —
    // like every other reader — must not move
    StoreTxn.stageTableAppend(spark, sf, orders.where("o_orderkey % 10 >= 7"), 0L)
    StoreTxn.mvStage(spark, sf, 0L)
    assert(mv == baseMv, "MV saw an uncommitted delta")
    StoreTxn.commit(spark, sf, 0L)
    assert(mv != baseMv, "commit did not surface the MV delta")
    // the MV read touches partial tables only, never the layout
    val p = Caches.scoped(
      StoreTxn.matViewTx(spark, sf).queryExecution.executedPlan.toString)
    assert(!p.contains("/layout"), s"MV read scanned the table layout:\n$p")
    Caches.releaseAll()
  }

  test("MV checkpoint fold: reads identical across checkpoint; replace refused then rebased") {
    StoreTxn.reset(spark, sf)
    StoreTxn.ensureZoneBase(spark, sf)
    StoreTxn.vacuumTable(spark, sf)
    StoreTxn.mvEnsureBase(spark, sf)
    def mv: Seq[String] = Caches.scoped(
      StoreTxn.matViewTx(spark, sf).collect().toSeq.map(_.toString))
    // the ground truth the MV must always equal: the rollup recomputed
    // from the committed table rows themselves
    def tableRollup: Seq[String] = Caches.scoped(
      StoreTxn.tableRowsTx(spark, sf)
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n_orders"),
          sum((col("o_totalprice").cast("decimal(18,2)") * 100)
            .cast("bigint")).as("revenue_cents"))
        .orderBy(col("o_orderstatus")).collect().toSeq.map(_.toString))
    val orders = queries.Tables.t(spark, sf, "orders")
    var id = StoreTxn.nextTxnId(spark, sf)
    StoreTxn.stageTableAppend(spark, sf, orders.where("o_orderkey % 10 >= 7"), id)
    StoreTxn.mvStage(spark, sf, id); StoreTxn.commit(spark, sf, id)
    // a delete whose predicate matches NOTHING must stage cleanly (the
    // empty-vector guard), and leave the MV unmoved
    id = StoreTxn.nextTxnId(spark, sf)
    StoreTxn.stageTableDelete(spark, sf, "o_orderkey < 0", id)
    StoreTxn.mvStage(spark, sf, id); StoreTxn.commit(spark, sf, id)
    // ... and a delete with real victims retracts them
    id = StoreTxn.nextTxnId(spark, sf)
    StoreTxn.stageTableDelete(spark, sf, "o_orderkey % 13 = 5", id)
    StoreTxn.mvStage(spark, sf, id); StoreTxn.commit(spark, sf, id)
    val before = mv
    assert(before == tableRollup, "MV skewed from the table pre-checkpoint")
    // THE FOLD: dropping the t<id> dirs must not rewind the MV to
    // base-only state — the checkpoint stages and publishes the folded
    // MV bases alongside the manifest
    StoreTxn.checkpoint(spark, sf)
    assert(mv == before, "checkpoint rewound the MV to base-only state")
    // a REPLACE boundary invalidates additive partials: the MV read
    // refuses until a checkpoint rebases it to the post-replace view
    StoreTxn.absorbTableReplace(spark, sf, orders.where("o_orderkey % 10 = 7"))
    intercept[IllegalStateException](StoreTxn.matViewTx(spark, sf).collect())
    StoreTxn.checkpoint(spark, sf)
    assert(mv == tableRollup, "post-replace checkpoint did not rebase the MV")
    StoreTxn.reset(spark, sf) // heal the folded base for later lifecycles
    Caches.releaseAll()
  }

  test("q205 MV crash-replay: stage-then-crash leaves both invisible; redo lands both or neither") {
    StoreTxn.reset(spark, sf)
    StoreTxn.ensureZoneBase(spark, sf)
    StoreTxn.vacuumTable(spark, sf)
    StoreTxn.mvEnsureBase(spark, sf)
    def mv: Seq[String] = Caches.scoped(
      StoreTxn.matViewTx(spark, sf).collect().toSeq.map(_.toString))
    def agg: Seq[String] = Caches.scoped(
      StoreTxn.tableRangeAggregateTx(spark, sf).collect().toSeq.map(_.toString))
    val orders = queries.Tables.t(spark, sf, "orders")
    val (mv0, agg0) = (mv, agg)
    // one q205 tick, killed between its two stage writes and the commit:
    // the txn stages TWO artifacts (table layers + MV partial) under one
    // id — neither may be visible, in any interleaving of the crash
    val id = StoreTxn.nextTxnId(spark, sf)
    StoreTxn.stageTableAppend(spark, sf, orders.where("o_orderkey % 10 >= 7"), id)
    // crash #1: after the table stage, before the MV stage
    assert(mv == mv0 && agg == agg0, "half-staged tick leaked into a read")
    StoreTxn.mvStage(spark, sf, id)
    // crash #2: after both stages, before the commit
    assert(mv == mv0 && agg == agg0, "fully-staged uncommitted tick leaked")
    // the REDO re-stages the same batch under the SAME id (nothing was
    // committed, so nextTxnId is unchanged) and commits: both artifacts
    // become visible in the same instant and agree with each other
    assert(StoreTxn.nextTxnId(spark, sf) == id, "redo minted a different id")
    StoreTxn.stageTableAppend(spark, sf, orders.where("o_orderkey % 10 >= 7"), id)
    StoreTxn.mvStage(spark, sf, id)
    StoreTxn.commit(spark, sf, id)
    assert(mv != mv0 && agg != agg0, "committed tick stayed invisible")
    val rollup = Caches.scoped(
      StoreTxn.tableRowsTx(spark, sf)
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n_orders"),
          sum((col("o_totalprice").cast("decimal(18,2)") * 100)
            .cast("bigint")).as("revenue_cents"))
        .orderBy(col("o_orderstatus")).collect().toSeq.map(_.toString))
    assert(mv == rollup, "redo left the MV skewed from the table")
    Caches.releaseAll()
  }

  test("writer-unique staging: a racing same-id stager cannot clobber the committed layer") {
    StoreTxn.reset(spark, sf)
    StoreTxn.ensureBases(spark, sf)
    def exists(p: String): Boolean = {
      val hp = new org.apache.hadoop.fs.Path(p)
      hp.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(hp)
    }
    // every byte of a layer dir: (relative path, length, mtime) — any
    // overwrite, truncation, or added file changes the fingerprint
    def fingerprint(dir: String): Set[(String, Long, Long)] = {
      val base = java.nio.file.Paths.get(dir)
      val s = java.nio.file.Files.walk(base)
      try s.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
        .map(p => (base.relativize(p).toString, java.nio.file.Files.size(p),
          java.nio.file.Files.getLastModifiedTime(p).toMillis)).toSet
      finally s.close()
    }
    // writer A stages and commits txn 0 under its own nonce
    val id = StoreTxn.nextTxnId(spark, sf)
    val nonceA = StoreTxn.newNonce()
    StoreTxn.stage(spark, sf, DedupIndex.batch1Docs(spark, sf),
      statsDelta("doc_id % 10 >= 7 AND doc_id % 10 < 9"), id, nonceA)
    StoreTxn.commit(spark, sf, id, nonceA)
    val committedKeepers = keeperSet
    val committedStats = statsRows
    val aDir = StoreTxn.committedTxnDirs(spark, sf).head._2
    assert(aDir.endsWith(s"t$id-$nonceA"),
      "marker content did not resolve to the winner's staging dir")
    val committedBytes = fingerprint(aDir)

    // writer B raced: it read the SAME nextTxnId before A committed and
    // is still staging when A's marker lands — r17's clobber window.
    // With writer-unique staging B's bytes land under ITS nonce only.
    val nonceB = StoreTxn.newNonce()
    StoreTxn.stage(spark, sf, DedupIndex.batch2Docs(spark, sf),
      statsDelta("doc_id % 10 = 9"), id, nonceB)
    assert(fingerprint(aDir) == committedBytes,
      "same-id staging clobbered the committed winner's layer")
    // B's commit fails loudly — and STILL nothing of A's moved
    intercept[IllegalStateException](StoreTxn.commit(spark, sf, id, nonceB))
    assert(fingerprint(aDir) == committedBytes,
      "the losing commit disturbed the committed layer")
    assert(keeperSet == committedKeepers && statsRows == committedStats,
      "readers saw the loser's same-id staging")
    // B's staging is an invisible orphan; vacuum reclaims it (same id,
    // different nonce — the id being committed must not shield it)
    assert(exists(StoreTxn.root(sf) + s"/t$id-$nonceB"),
      "precondition: loser staging on disk")
    assert(StoreTxn.vacuum(spark, sf) == Seq(id),
      "vacuum must reclaim exactly the losing same-id staging")
    assert(!exists(StoreTxn.root(sf) + s"/t$id-$nonceB"),
      "loser staging survived vacuum")
    assert(fingerprint(aDir) == committedBytes,
      "vacuum reclaimed the winner's committed layer")
    Caches.releaseAll()
  }

  test("nonce memo: a reset-and-rebuilt store resolves its NEW nonce, never the memoized one") {
    StoreTxn.reset(spark, sf)
    StoreTxn.ensureBases(spark, sf)
    val id = StoreTxn.nextTxnId(spark, sf)
    val nonceA = StoreTxn.newNonce()
    StoreTxn.stage(spark, sf, DedupIndex.batch1Docs(spark, sf),
      statsDelta("doc_id % 10 >= 7 AND doc_id % 10 < 9"), id, nonceA)
    StoreTxn.commit(spark, sf, id, nonceA)
    // prime the process-wide memo with (marker path -> nonceA)
    assert(StoreTxn.committedTxnDirs(spark, sf).head._2.endsWith(s"t$id-$nonceA"))
    // rebuild the store AT THE SAME PATH — the same txn id re-lands
    // under a fresh nonce; the memo's (modTime, length) key must miss
    StoreTxn.reset(spark, sf)
    StoreTxn.ensureBases(spark, sf)
    Thread.sleep(5) // local-FS mtime is ms-granular; real rebuilds are seconds apart
    val nonceB = StoreTxn.newNonce()
    assert(StoreTxn.nextTxnId(spark, sf) == id, "rebuilt store must restart ids")
    StoreTxn.stage(spark, sf, DedupIndex.batch1Docs(spark, sf),
      statsDelta("doc_id % 10 >= 7 AND doc_id % 10 < 9"), id, nonceB)
    StoreTxn.commit(spark, sf, id, nonceB)
    assert(StoreTxn.committedTxnDirs(spark, sf).head._2.endsWith(s"t$id-$nonceB"),
      "a stale memoized nonce was served for a rebuilt store's marker")
    Caches.releaseAll()
  }

  test("two-writer commit race under real concurrency: one winner, loser orphaned, reader never torn") {
    StoreTxn.reset(spark, sf)
    StoreTxn.ensureBases(spark, sf)
    val baseKeepers = keeperSet
    val id = StoreTxn.nextTxnId(spark, sf)
    // both writers minted the same id (read-then-use allocation); each
    // stages under its own nonce CONCURRENTLY, then both race the commit
    val barrier = new java.util.concurrent.CyclicBarrier(2)
    val losses = new java.util.concurrent.ConcurrentHashMap[String, Throwable]()
    def writer(name: String, batch: org.apache.spark.sql.DataFrame,
        pred: String): Thread = {
      val t = new Thread(() => {
        try {
          val nonce = StoreTxn.newNonce()
          StoreTxn.stage(spark, sf, batch, statsDelta(pred), id, nonce)
          barrier.await(120, java.util.concurrent.TimeUnit.SECONDS)
          StoreTxn.commit(spark, sf, id, nonce)
        } catch { case t: Throwable => losses.put(name, t) }
      }, s"txspec-writer-$name")
      t.start(); t
    }
    val a = writer("A", DedupIndex.batch1Docs(spark, sf),
      "doc_id % 10 >= 7 AND doc_id % 10 < 9")
    val b = writer("B", DedupIndex.batch2Docs(spark, sf), "doc_id % 10 = 9")
    a.join(300000); b.join(300000)
    assert(losses.size == 1,
      s"expected exactly one losing writer, got ${losses.keySet()}: " +
        losses.values().asScala.map(_.toString).mkString("; "))
    assert(losses.values().iterator().next().isInstanceOf[IllegalStateException],
      "the loser must fail with the loud commit refusal")
    // exactly one committed transaction, and the reader serves exactly
    // the winner's batch — base keepers ∪ the winner's staged survivors,
    // never a mix of the two stagings
    val dirs = StoreTxn.committedTxnDirs(spark, sf)
    assert(dirs.map(_._1) == Seq(id), s"commit log torn: $dirs")
    val winnerKept = Caches.scoped(
      spark.read.parquet(s"${dirs.head._2}/kept").select("doc_id")
        .collect().map(_.getLong(0)).toSet)
    assert(keeperSet == baseKeepers ++ winnerKept,
      "reader state is not exactly base ∪ the winning batch")
    // the loser's staging is an orphan: vacuum reclaims it and the
    // reader still doesn't move
    assert(StoreTxn.vacuum(spark, sf) == Seq(id),
      "vacuum must reclaim exactly the loser's same-id staging")
    assert(keeperSet == baseKeepers ++ winnerKept,
      "vacuum disturbed the committed read")
    Caches.releaseAll()
  }

  test("log property: ids stay monotone across checkpoint; a folded delete never re-kills a later append") {
    def countsNow: Map[String, Long] =
      Caches.scoped(StoreTxn.tableRangeAggregateTx(spark, sf).collect()
        .map(r => (r.getString(0), r.getLong(1))).toMap)
    val orders = queries.Tables.t(spark, sf, "orders")
    // pass 1: append → delete → CHECKPOINT → append rows matching the
    // folded delete's predicate (their keys ARE in the folded vector —
    // stageTableDelete stages the predicate over the whole key space)
    StoreTxn.reset(spark, sf)
    StoreTxn.ensureZoneBase(spark, sf)
    StoreTxn.vacuumTable(spark, sf)
    StoreTxn.absorbTableAppend(spark, sf, orders.where("o_orderkey % 10 IN (7, 8)"))
    assert(StoreTxn.nextTxnId(spark, sf) == 1L)
    StoreTxn.absorbTableDelete(spark, sf, "o_orderkey % 13 = 5")
    assert(StoreTxn.nextTxnId(spark, sf) == 2L)
    StoreTxn.checkpoint(spark, sf)
    assert(StoreTxn.nextTxnId(spark, sf) == 2L,
      "checkpoint truncation rewound the id sequence — a later append " +
        "would land BELOW the folded delete's dtxn and be re-killed")
    StoreTxn.absorbTableAppend(spark, sf, orders.where("o_orderkey % 10 = 9"))
    assert(StoreTxn.nextTxnId(spark, sf) == 3L)
    val folded = countsNow
    // a second checkpoint + vacuum must be content-free too
    StoreTxn.checkpoint(spark, sf)
    StoreTxn.vacuumTable(spark, sf)
    assert(countsNow == folded, "second checkpoint moved the table read")
    assert(StoreTxn.nextTxnId(spark, sf) == 3L,
      "second checkpoint rewound the id sequence")
    // pass 2: the SAME history with no checkpoint — the fold must be
    // invisible to content: same counts, including the %13=5 keys the
    // post-checkpoint append re-introduced (ftxn > folded dtxn)
    StoreTxn.reset(spark, sf)
    StoreTxn.ensureZoneBase(spark, sf)
    StoreTxn.vacuumTable(spark, sf)
    StoreTxn.absorbTableAppend(spark, sf, orders.where("o_orderkey % 10 IN (7, 8)"))
    StoreTxn.absorbTableDelete(spark, sf, "o_orderkey % 13 = 5")
    StoreTxn.absorbTableAppend(spark, sf, orders.where("o_orderkey % 10 = 9"))
    val unfolded = countsNow
    assert(folded == unfolded,
      s"checkpoint fold changed table content: $unfolded -> $folded")
    Caches.releaseAll()
  }

  test("snapshot checkpoint: a commit landing mid-stage survives; all tables fold the frozen set") {
    // control: both transactions committed, NO checkpoint — the reads
    // the raced store must land on byte-identically
    StoreTxn.reset(spark, sf)
    StoreTxn.ensureBases(spark, sf)
    StoreTxn.absorbBoth(spark, sf, DedupIndex.batch1Docs(spark, sf),
      statsDelta("doc_id % 10 >= 7 AND doc_id % 10 < 9"))
    StoreTxn.absorbBoth(spark, sf, DedupIndex.batch2Docs(spark, sf),
      statsDelta("doc_id % 10 = 9"))
    val wantKeepers = keeperSet
    val wantStats = statsRows
    val wantVocab = vocabRows

    // replay: txn 0 committed, txn 1 staged and ready; its commit lands
    // MID-STAGE of the checkpoint (the spec hook fires right after the
    // freeze — where a racing writer's marker creation interleaves).
    // Before the frozen fold set, the post-marker publish re-listed the
    // log, saw txn 1, and deleted its marker and layer dirs — committed
    // data silently lost (the r18 verdict lead).
    StoreTxn.reset(spark, sf)
    StoreTxn.ensureBases(spark, sf)
    StoreTxn.absorbBoth(spark, sf, DedupIndex.batch1Docs(spark, sf),
      statsDelta("doc_id % 10 >= 7 AND doc_id % 10 < 9"))
    val id = StoreTxn.nextTxnId(spark, sf)
    val nonce = StoreTxn.newNonce()
    StoreTxn.stage(spark, sf, DedupIndex.batch2Docs(spark, sf),
      statsDelta("doc_id % 10 = 9"), id, nonce)
    StoreTxn.checkpointStage(spark, sf,
      () => StoreTxn.commit(spark, sf, id, nonce))
    StoreTxn.checkpoint(spark, sf)

    assert(StoreTxn.committedTxnDirs(spark, sf).map(_._1).contains(id),
      "the mid-stage commit's marker was deleted by the publish")
    assert(StoreTxn.nextTxnId(spark, sf) == id + 1,
      "id allocation lost monotonicity across the raced checkpoint")
    assert(keeperSet == wantKeepers,
      "mid-stage committed dedup rows lost or torn across the fold")
    assert(statsRows == wantStats,
      "stats fold tore across the mid-stage commit")
    assert(vocabRows == wantVocab,
      "vocab fold tore across the mid-stage commit")
    StoreTxn.reset(spark, sf) // heal the folded base for later lifecycles
    Caches.releaseAll()
  }

  test("vacuum retention: fresh in-flight staging survives, aged staging is reclaimed") {
    def exists(p: String): Boolean = {
      val hp = new org.apache.hadoop.fs.Path(p)
      hp.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(hp)
    }
    val r = StoreTxn.root(sf)
    StoreTxn.reset(spark, sf)
    StoreTxn.ensureBases(spark, sf)
    StoreTxn.absorbBoth(spark, sf, DedupIndex.batch1Docs(spark, sf),
      statsDelta("doc_id % 10 >= 7 AND doc_id % 10 < 9"))
    val committedKeepers = keeperSet
    // an uncommitted staging that is FRESH — exactly what a live
    // writer's in-flight absorb looks like to a directory listing
    StoreTxn.stage(spark, sf, DedupIndex.batch2Docs(spark, sf),
      statsDelta("doc_id % 10 = 9"), 1L)
    assert(StoreTxn.vacuum(spark, sf, retentionMs = 3600000L).isEmpty,
      "retention vacuum reclaimed a fresh (possibly in-flight) staging")
    assert(exists(s"$r/t1"), "fresh staging deleted under retention")
    // age it past the threshold: now it reads as genuinely abandoned
    assert(new java.io.File(s"$r/t1")
      .setLastModified(System.currentTimeMillis() - 7200000L))
    assert(StoreTxn.vacuum(spark, sf, retentionMs = 3600000L) == Seq(1L),
      "retention vacuum must reclaim staging older than the threshold")
    assert(!exists(s"$r/t1"), "aged staging survived retention vacuum")
    assert(keeperSet == committedKeepers,
      "retention vacuum disturbed the committed read")
    Caches.releaseAll()
  }

  test("maintenance lease: held lease refuses checkpoint/vacuum; release frees; TTL expiry breaks") {
    StoreTxn.reset(spark, sf)
    StoreTxn.ensureBases(spark, sf)
    val zombie = StoreTxn.acquireMaintLease(spark, sf)
    // every maintenance verb refuses loudly while another driver holds
    // the lease — the r19 one-at-a-time contract, now enforced
    intercept[IllegalStateException](StoreTxn.vacuum(spark, sf))
    intercept[IllegalStateException](StoreTxn.checkpoint(spark, sf))
    intercept[IllegalStateException](StoreTxn.acquireMaintLease(spark, sf))
    StoreTxn.releaseMaintLease(spark, sf, zombie)
    // released: the verbs run again (vacuum takes and releases its own)
    assert(StoreTxn.vacuum(spark, sf).isEmpty)
    // crash recovery = TTL expiry: a lease whose holder died breaks
    val crashed = StoreTxn.acquireMaintLease(spark, sf)
    val lease = new java.io.File(s"${StoreTxn.root(sf)}/maint_lease")
    assert(lease.exists())
    assert(lease.setLastModified(System.currentTimeMillis() - 7200000L))
    val breaker = StoreTxn.acquireMaintLease(spark, sf, ttlMs = 3600000L)
    assert(breaker != crashed, "breaker must mint its own token")
    // the zombie holder's late release must NOT free the breaker's lease
    StoreTxn.releaseMaintLease(spark, sf, crashed)
    intercept[IllegalStateException](StoreTxn.acquireMaintLease(spark, sf))
    StoreTxn.releaseMaintLease(spark, sf, breaker)
    assert(!lease.exists(), "owner release must clear the lease")
    Caches.releaseAll()
  }

  test("vacuum on a store that never existed is a no-op that creates nothing") {
    // the lease acquire mkdirs the store root, so the no-op check must
    // run BEFORE it — a typo'd path must not sprout an empty store
    val ghost = s"/tmp/graft_ghost_${java.util.UUID.randomUUID().toString.take(8)}"
    assert(StoreTxn.vacuum(spark, ghost).isEmpty)
    assert(!new java.io.File(StoreTxn.root(ghost)).exists(),
      "vacuum created the store root for a nonexistent store")
  }

  test("frozen-log stage guard: live-log resolution during an active stage fails fast") {
    StoreTxn.reset(spark, sf)
    StoreTxn.ensureBases(spark, sf)
    StoreTxn.absorbBoth(spark, sf, DedupIndex.batch1Docs(spark, sf),
      statsDelta("doc_id % 10 >= 7 AND doc_id % 10 < 9"))
    // while a stage is active, a commit-log read WITHOUT the frozen
    // override (a helper that escaped the staging thread, or a
    // concurrent same-JVM reader) must refuse loudly — the r19 ADVICE
    // hardening: silently reading the live log mid-stage is exactly the
    // torn-checkpoint bug the freeze closed
    StoreTxn.beginStageGuard(sf)
    try intercept[IllegalStateException](StoreTxn.committedTxnDirs(spark, sf))
    finally StoreTxn.endStageGuard(sf)
    // guard down: the same read resolves normally
    assert(StoreTxn.committedTxnDirs(spark, sf).map(_._1) == Seq(0L))
    // and a REAL checkpoint (guard active for its whole stage) completes
    StoreTxn.checkpoint(spark, sf)
    StoreTxn.reset(spark, sf) // heal the folded base for later lifecycles
    Caches.releaseAll()
  }

  test("commit refuses retryably while a checkpoint publish is pending; succeeds after") {
    StoreTxn.reset(spark, sf)
    StoreTxn.ensureBases(spark, sf)
    StoreTxn.absorbBoth(spark, sf, DedupIndex.batch1Docs(spark, sf),
      statsDelta("doc_id % 10 >= 7 AND doc_id % 10 < 9"))
    val afterTxn0 = keeperSet
    val id = StoreTxn.nextTxnId(spark, sf)
    val nonce = StoreTxn.newNonce()
    StoreTxn.stage(spark, sf, DedupIndex.batch2Docs(spark, sf),
      statsDelta("doc_id % 10 = 9"), id, nonce)
    StoreTxn.checkpointStage(spark, sf) // publish window: marker is up
    intercept[IllegalStateException](StoreTxn.commit(spark, sf, id, nonce))
    // the refusal left nothing behind: heal the publish, then the SAME
    // id+nonce retries cleanly (the frozen fold retained the high-water
    // marker, so the pre-fold id allocation is still the next id)
    StoreTxn.checkpoint(spark, sf)
    StoreTxn.commit(spark, sf, id, nonce)
    assert(StoreTxn.committedTxnDirs(spark, sf).map(_._1).sorted.last == id,
      "retried commit did not land after the checkpoint completed")
    assert(keeperSet != afterTxn0 && keeperSet.size > afterTxn0.size,
      "the post-checkpoint commit's rows are not readable")
    StoreTxn.reset(spark, sf) // heal the folded base for later lifecycles
    Caches.releaseAll()
  }

  test("as-of stats skip the layers a text-less transaction never staged") {
    StoreTxn.reset(spark, sf)
    StoreTxn.ensureBases(spark, sf)
    StoreTxn.ensureIngestBases(spark, sf)
    val baseStats = statsRows
    // txn 0 stages graph + embed layers only: it has no stats layer
    val t0 = StoreTxn.absorbIngest(spark, sf,
      graft.queries.EmbedIndex.batch1Vecs(spark, sf))
    val t1 = StoreTxn.absorbBoth(spark, sf, DedupIndex.deltaDocs(spark, sf),
      statsDelta("doc_id % 10 >= 7"))
    assert((t0, t1) == (0L, 1L))
    def asOf(id: Long): Seq[String] = Caches.scoped(
      StoreTxn.storedStatsTxAsOf(spark, sf, id).collect().toSeq.map(_.toString))
    assert(asOf(1L) == statsRows, "as-of the last txn must equal the live read")
    assert(asOf(0L) == baseStats, "as-of the ingest txn must equal the base")
    Caches.releaseAll()
  }

  test("one root, every tier, one checkpoint: the staged layout and every read hold") {
    StoreTxn.reset(spark, sf)
    StoreTxn.ensureBases(spark, sf)
    StoreTxn.ensureIngestBases(spark, sf)
    StoreTxn.ensureAnnBase(spark, sf)
    StoreTxn.ensureSearchBase(spark, sf)
    StoreTxn.ensureZoneBase(spark, sf)
    StoreTxn.vacuumTable(spark, sf)
    StoreTxn.mvEnsureBase(spark, sf)
    StoreTxn.mvJoinEnsureBase(spark, sf)
    val docs = Tables.t(spark, sf, "documents")
    val orders = Tables.t(spark, sf, "orders")
    StoreTxn.absorbBoth(spark, sf, DedupIndex.deltaDocs(spark, sf),
      statsDelta("doc_id % 10 >= 7"))
    StoreTxn.absorbIngestTick(spark, sf, 1, withAnn = true)
    StoreTxn.absorbSearch(spark, sf, docs.where("doc_id % 10 IN (7, 8)"))
    val tranche = orders.where("o_orderkey % 10 >= 7")
    var id = StoreTxn.nextTxnId(spark, sf)
    var n = StoreTxn.newNonce()
    StoreTxn.stageTableAppend(spark, sf, tranche, id, n)
    StoreTxn.mvStage(spark, sf, id, n)
    StoreTxn.mvJoinStage(spark, sf, tranche, id, n)
    StoreTxn.commit(spark, sf, id, n)
    id = StoreTxn.nextTxnId(spark, sf)
    n = StoreTxn.newNonce()
    StoreTxn.stageTableDelete(spark, sf, "o_orderkey % 13 = 5", id, n)
    StoreTxn.mvStage(spark, sf, id, n)
    StoreTxn.commit(spark, sf, id, n)

    def rows(df: => org.apache.spark.sql.DataFrame): Seq[String] =
      Caches.scoped(df.collect().toSeq.map(_.toString).sorted)
    def reads: Seq[Seq[String]] = Seq(
      keeperSet.toSeq.sorted.map(_.toString), statsRows, vocabRows,
      rows(StoreTxn.mergedEdgesTx(spark, sf)),
      rows(StoreTxn.embedBuckets(spark, sf)),
      rows(StoreTxn.annBucketsTx(spark, sf)),
      rows(StoreTxn.bm25Tx(spark, sf)),
      rows(StoreTxn.tableRangeAggregateTx(spark, sf)),
      rows(StoreTxn.matViewTx(spark, sf)),
      rows(StoreTxn.matViewJoinTx(spark, sf)))
    val before = reads
    assert(before.forall(_.nonEmpty), "a tier read came back empty")

    StoreTxn.checkpointStage(spark, sf)
    val fs = new org.apache.hadoop.fs.Path(StoreTxn.root(sf))
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val staging = new org.apache.hadoop.fs.Path(s"${StoreTxn.root(sf)}/staging_ckpt")
    val staged = fs.listStatus(staging).toSeq.flatMap { st =>
      if (st.isDirectory) fs.listStatus(st.getPath).toSeq.filter(_.isDirectory)
        .map(c => s"${st.getPath.getName}/${c.getPath.getName}")
      else Seq(st.getPath.getName)
    }.toSet
    assert(staged == Set("dedup/exact", "dedup/shingles", "dedup/bands",
      "stats/partials", "vocab/partials", "graph/edges", "embed/buckets",
      "ann/buckets", "search/postings", "search/stats", "table/zones",
      "table/deletes", "table/mvbase", "table/mvjbase", "_folded"),
      s"staged layout moved: $staged")

    StoreTxn.checkpoint(spark, sf)
    val after = reads
    before.zip(after).zipWithIndex.foreach { case ((b, a), i) =>
      assert(a == b, s"read $i changed across the checkpoint") }
    val last = StoreTxn.nextTxnId(spark, sf) - 1
    assert(StoreTxn.committedTxnDirs(spark, sf).map(_._1) == Seq(last),
      "the log must keep the high-water marker alone")
    val left = fs.listStatus(new org.apache.hadoop.fs.Path(StoreTxn.root(sf)))
      .map(_.getPath.getName).toSet
    assert(left == Set("commits"), s"checkpoint left residue: $left")
    StoreTxn.reset(spark, sf) // heal the folded base for later lifecycles
    Caches.releaseAll()
  }

  test("q147 (transactional) == q134 (independent absorbs) row-identically") {
    val tx = Caches.scoped(
      StoreTxn.queries("q147_tx_store_mix")(spark, sf).collect().toSeq.map(_.toString))
    val plain = Caches.scoped(
      StoreMix.queries("q134_store_mix")(spark, sf).collect().toSeq.map(_.toString))
    assert(tx == plain,
      s"protocols diverged:\ntx=${tx.take(3)}\nplain=${plain.take(3)}")
    Caches.releaseAll()
  }
}
