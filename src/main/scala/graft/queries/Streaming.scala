package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/**
 * Structured Streaming queries driven to completion with
 * `Trigger.AvailableNow` over the events parquet, collected through a
 * memory sink. Complete output mode makes the result independent of batch
 * boundaries and arrival order, so the same DuckDB oracle that checks the
 * batch queries checks these.
 *
 * At cluster scale the same plans run against a real source (Kafka/files)
 * with `outputMode("append")` + the watermark dropping late state; the
 * aggregation state itself is partitioned by group key across executors.
 */
object Streaming {

  /** Raw streaming read of events with the timestamp fixup applied
    * (nanos-as-long and TIMESTAMP_NTZ variants — see [[Tables.streamTsFixup]]). */
  private def eventStream(s: SparkSession, dir: String): DataFrame = {
    val raw = s.read.parquet(s"$dir/events.parquet") // schema probe; not an action
    // FileStreamSource needs a directory or glob, not a literal file path
    val stream = s.readStream.schema(raw.schema).parquet(s"$dir/events*.parquet")
    Tables.streamTsFixup(stream)
  }

  /** State-store provider for the streaming pack. RocksDB is the default:
    * the HDFS-backed provider keeps every partition's state map ON HEAP, so
    * at 100 TB stream-stream join state outgrows executor memory; RocksDB
    * spills to local disk and bounds heap by its block cache instead
    * (results are provider-invariant — StateStoreProviderSpec pins that on
    * q52/q55). Override with `graft.streaming.stateStoreProvider` =
    * `hdfs` | `rocksdb` | a fully-qualified provider class name. */
  private[graft] def providerClass(s: SparkSession): String =
    s.conf.getOption("graft.streaming.stateStoreProvider").getOrElse("rocksdb") match {
      case "rocksdb" =>
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
      case "hdfs" =>
        "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider"
      case fqcn => fqcn
    }

  /** Run a streaming aggregation to completion and return the result.
    *
    * State partitions are sized DOWN from the session's batch shuffle
    * default before the query starts (`spark.sql.shuffle.partitions` is
    * baked into a streaming query's state layout at first start): every
    * micro-batch commits one state-store delta per partition per stateful
    * operator, so partition count multiplies fixed commit I/O while state
    * volume stays the same. Measured at sf0.1 local[32]: the stream-stream
    * interval join ran 7-11 s (and swung 30% run-to-run) on 32 state
    * partitions vs a stable 3.2 s on 8 — the r4/r5 "streaming variance"
    * was exactly this. The count is min(`defaultParts`, the session's
    * `spark.sql.shuffle.partitions`), so a session set below the default
    * sizes its state to match (results are partition-invariant).
    *
    * r22 sweep (TUNE_r22.txt: q104 per-batch table + 12-query pack A/B,
    * alternating order so JIT doesn't bias a config): a GLOBAL cut below
    * 8 does not pay — at 2
    * the pack ran 1.044x (q55's per-batch dedup compute serializes), at
    * 4 it was 0.979x with q55 still +16%. What DOES pay is the
    * stream-stream JOIN's own count (`defaultParts` below): a join
    * commits FOUR state-store instances per partition per batch (two
    * keyToNumValues + two keyWithIndexToValue) where an aggregation
    * commits one, so its fixed commit I/O is 4x an aggregation's at
    * equal partitions — q104 measured 0.88x at 4 partitions in the
    * mixed pack while every aggregation query kept 8.
    *
    * CHANGELOG CHECKPOINTING rides the RocksDB default (a session that
    * already sets Spark's own
    * `spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled`
    * keeps its value): commits upload the
    * batch's DELTA instead of a full state snapshot (snapshots go
    * async/periodic), which is flat-cost in state size where the
    * snapshot upload grows linearly. MEASURED at real state volume
    * (TUNE_r20.txt, 10⁶-key streaming dedup, 4 batches):
    * addBatch 1.0-1.7 s/batch on snapshot-per-commit RocksDB vs
    * 0.73-0.95 s with changelog — ~1.3× end-to-end; the r19 experiments
    * saw a no-op only because q104's join state is kilobytes. Results
    * are checkpoint-format-internal, bit-invariant (and every grid query
    * uses a fresh checkpoint, so the format toggle can never mix). */
  private[queries] def runToCompletion(s: SparkSession, agg: DataFrame, name: String,
      mode: String = "complete", defaultParts: Int = 8): DataFrame = {
    val table = s"${name}_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    val key = "spark.sql.shuffle.partitions"
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val clogKey =
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"
    val prev = s.conf.get(key)
    val prevProvider = s.conf.getOption(providerKey)
    val prevClog = s.conf.getOption(clogKey)
    s.conf.set(key, math.min(defaultParts, prev.toInt).toString)
    s.conf.set(providerKey, providerClass(s))
    if (prevClog.isEmpty && providerClass(s).contains("RocksDB")) s.conf.set(clogKey, "true")
    try {
      val q = agg.writeStream
        .outputMode(mode)
        .format("memory")
        .queryName(table)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    } finally {
      s.conf.set(key, prev)
      prevProvider match {
        case Some(p) => s.conf.set(providerKey, p)
        case None => s.conf.unset(providerKey)
      }
      prevClog match {
        case Some(c) => s.conf.set(clogKey, c)
        case None => s.conf.unset(clogKey)
      }
    }
    // The memory sink holds the FULL result on the driver; register the
    // view so the consumer's releaseAll() drops it after the terminal
    // action instead of accreting one table per run for the JVM's life.
    graft.queries.Caches.registerView(s, table)
    s.table(table)
  }

  /** Time-range files per staged topic. Two is the measured sweet spot:
    * each micro-batch carries ~600-800 ms of FIXED cost at local[32]
    * (profiled per-batch: addBatch dominates and is flat for 0-row
    * batches — scheduler + state-commit floor, provider-independent),
    * so batch count is what the replay pays for. Two ranges + two
    * sentinels + the trailing no-data flush = 5 batches, preserving
    * every eviction regime the 4-range feed exercised: nulls emit
    * across a REAL data-data boundary (range-1 clicks whose window
    * closes under range-2's watermark), a data-sentinel boundary, and
    * the sentinel-sentinel terminal flush. Bust-on-change: the value
    * is folded into the staging stamp below. */
  private val feedRanges = 2

  /** Stamps whose events table already passed the sentinel-domain
    * check — keyed on (dir, [[Tables.dirStamp]] of the events table) so a
    * regenerated corpus re-checks. Bounded: one short string per corpus
    * state seen. */
  private val sentinelDomainChecked =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Stage the events table as `feedRanges` time-range parquet files
    * plus two far-future SENTINEL rows, with strictly increasing file
    * mtimes in range order — the multi-batch, watermark-advancing feed
    * an OUTER stream-stream join needs. Unmatched left rows only emit once the
    * watermark passes their join window, and a watermark only moves
    * between micro-batches; a single-file source is one batch, so a
    * left-outer join over it would emit no unmatched rows at all. Each
    * sentinel row (ts = max + 240/480 h) carries the FEED'S OWN
    * event_type — each topic is already a pre-filtered staged feed, so
    * a type tag could never be filtered in-stream anyway — and is kept
    * out of the join RESULT by its user_id = -1 (never matches a real
    * user; the left sentinel's own unmatched emission is dropped by the
    * query's click_id >= 0 output filter). Its job is purely to push
    * the final watermark past every click's window so terminal state
    * flushes. On a real cluster the
    * stream reads the live event log and new arrivals play the sentinel's
    * role; this staging exists only to make a bounded replay behave like
    * one. */
  private def stagedEventsDir(s: SparkSession, dir: String, eventType: String): String = {
    val out = StoreMeta.root(s"staged_$eventType", dir)
    val events = s"$dir/events.parquet"
    // The staged feed is DETERMINISTIC per corpus (content + relative
    // mtime order; the file source replays oldest-first regardless of
    // absolute age) — re-staging every bench lap pays three write jobs
    // per topic for bytes that cannot differ, so it stages once per
    // events-table stamp ([[Tables.stagedOnce]]).
    Tables.stagedOnce(s, events, out, s"ranges=$feedRanges") { () =>
      val ev = Tables.t(s, dir, "events")
      // SENTINEL DOMAIN GUARD (r19 ADVICE): the q104 outer join excludes
      // the sentinel rows by `click_id >= 0` and relies on user_id = -1
      // never matching — sound only while real data never enters the
      // negative-id range. A corpus that does would have genuine
      // unmatched clicks silently dropped, so staging refuses loudly
      // instead. The property is per-TABLE, not per-topic, so the check
      // memoizes on the source stamp: one aggregate per (corpus, content)
      // per JVM, not one per staged topic.
      val sentinelKey = s"$dir;${Tables.dirStamp(s, events)}"
      if (!sentinelDomainChecked.contains(sentinelKey)) {
        val negatives = ev.where(col("event_id") < 0 || col("user_id") < 0).count()
        require(negatives == 0L,
          s"events table at $dir carries $negatives rows with negative " +
            "event_id/user_id — the staged-feed sentinels (event_id/user_id " +
            "= -1) would collide with real data; regenerate the corpus or " +
            "move the sentinel domain")
        // Memoize only AFTER the require passes: adding the key first would
        // leave a FAILED check memoized, so a same-JVM retry against the
        // same colliding corpus would silently skip the guard and stage the
        // feed — the silent unmatched-click drop the guard exists to refuse.
        sentinelDomainChecked.add(sentinelKey)
      }
      ev.where(col("event_type") === eventType)
        .repartitionByRange(feedRanges, col("ts")).write.mode("overwrite").parquet(out)
      val base = System.currentTimeMillis() - 3600000L
      var seen = StoreMeta.touchParts(s, out)(j => base + j * 1000L)
      // TWO sentinel files, two micro-batches beyond the data: the
      // watermark only moves BETWEEN batches, and an outer row's null
      // emission lands in the batch after the one whose watermark closed
      // its window — with a single sentinel exactly the max-ts click stays
      // unemitted (observed). Sentinel ts derives from the UNFILTERED
      // events max so both per-type feeds advance past the same instant;
      // its user_id −1 never matches, and the left sentinel's own
      // unmatched emission is dropped by the query's output filter.
      for (i <- 1 to 2) {
        ev.agg(max(col("ts")).as("mts"))
          .selectExpr("cast(-1 AS bigint) AS event_id",
            s"mts + INTERVAL ${240 * i} HOURS AS ts", "cast(-1 AS bigint) AS user_id",
            s"'$eventType' AS event_type", "cast(0.0 AS double) AS value",
            "cast(null AS string) AS props")
          .coalesce(1).write.mode("append").parquet(out)
        seen = StoreMeta.touchParts(s, out, seen)(_ => base + 1000000L * i)
      }
    }
    out
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Tumbling 1-hour event-time windows per event type.
    "q40_stream_window" -> ((s, dir) => {
      val agg = eventStream(s, dir)
        .withWatermark("ts", "1 hour")
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 2).as("sum_value"))
      runToCompletion(s, agg, "stream_window")
        .select(col("window.start").as("window_start"), col("event_type"),
          col("n_events"), col("sum_value"))
        .orderBy(col("window_start"), col("event_type"))
    }),

    // Native session windows (30-minute gap) — the streaming counterpart
    // of q15's batch sessionization, same grouping semantics.
    "q41_stream_sessionize" -> ((s, dir) => {
      val agg = eventStream(s, dir)
        .withWatermark("ts", "1 hour")
        .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
        .agg(count(lit(1)).as("n_events"),
          round(sum(col("value")), 2).as("session_value"),
          min(col("ts")).as("session_start"),
          max(col("ts")).as("session_end"))
      runToCompletion(s, agg, "stream_sessionize")
        .select(col("user_id"), col("n_events"), col("session_value"),
          col("session_start"), col("session_end"))
        .orderBy(col("user_id"), col("session_start"))
    }),

    // Stream-static join: the purchase stream enriched against the static
    // customer dimension (broadcast on every micro-batch — the standard
    // dimension-enrichment shape; the dim is re-readable so it can also be
    // slowly changing).
    "q46_stream_static_join" -> ((s, dir) => {
      val cust = s.read.parquet(s"$dir/customer.parquet")
      val agg = eventStream(s, dir)
        .filter(col("event_type") === "purchase")
        .join(broadcast(cust), col("user_id") === col("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_purchases"), round(sum(col("value")), 2).as("sum_value"))
      runToCompletion(s, agg, "stream_static_join")
        .orderBy(col("c_mktsegment"))
    }),

    // Stream-stream interval join: each click joined to the same user's
    // purchases within the following 10 minutes. Watermarks on BOTH sides
    // bound the join state (a click can be dropped from state once the
    // purchase watermark passes its upper time bound); inner join, append
    // mode — results are emitted as matches form and are independent of
    // micro-batch boundaries, so the batch oracle applies.
    "q52_stream_stream_join" -> ((s, dir) => {
      val clicks = eventStream(s, dir)
        .filter(col("event_type") === "click")
        .select(col("user_id").as("c_user"), col("event_id").as("click_id"),
          col("ts").as("c_ts"))
        .withWatermark("c_ts", "1 hour")
      val purchases = eventStream(s, dir)
        .filter(col("event_type") === "purchase")
        .select(col("user_id").as("p_user"), col("event_id").as("purchase_id"),
          col("ts").as("p_ts"))
        .withWatermark("p_ts", "1 hour")
      val joined = clicks.join(purchases,
        expr("c_user = p_user AND p_ts >= c_ts AND p_ts <= c_ts + INTERVAL 10 MINUTES"))
      runToCompletion(s, joined, "stream_stream_join", mode = "append")
        .select(col("click_id"), col("purchase_id"), col("c_user").as("user_id"))
        .orderBy(col("click_id"), col("purchase_id"))
    }),

    // Stream-stream LEFT OUTER interval join — q52's attribution shape
    // plus the rows q52 cannot produce: clicks that never converted,
    // emitted with a null purchase once the watermark proves no match
    // can still arrive (c_ts + 10 min < watermark). State stays bounded
    // exactly as in the inner form; the left side's rows are additionally
    // held until their window closes, which is why the watermark must
    // keep moving — see [[stagedEventsDir]] for the multi-batch sentinel
    // feed that makes a bounded replay exercise the eviction path. The
    // batch LEFT JOIN oracle applies because emission (match or null) is
    // decided purely by event time, never by batch boundaries.
    "q104_stream_outer_join" -> ((s, dir) => {
      // Each side is its OWN staged feed (clicks topic / purchases
      // topic — the real deployment shape). An in-stream
      // `filter(event_type = ...)` over one shared feed does NOT work:
      // Catalyst pushes the type predicate below the EventTimeWatermark
      // operator (it doesn't reference ts), so sentinel rows are
      // filtered before the watermark collector sees them, the click
      // side's clock stalls at its LAST REAL CLICK minus the delay, and
      // exactly the final click's null row never emits (observed).
      val schema = s.read.parquet(s"$dir/events.parquet").schema
      def src(eventType: String) = Tables.streamTsFixup(
        s.readStream.schema(schema).option("maxFilesPerTrigger", "1")
          .parquet(stagedEventsDir(s, dir, eventType)))
      val clicks = src("click").withWatermark("ts", "1 hour")
        .select(col("user_id").as("c_user"), col("event_id").as("click_id"),
          col("ts").as("c_ts"))
      val purchases = src("purchase").withWatermark("ts", "1 hour")
        .select(col("user_id").as("p_user"), col("event_id").as("purchase_id"),
          col("ts").as("p_ts"))
      val joined = clicks.join(purchases,
        expr("c_user = p_user AND p_ts >= c_ts AND p_ts <= c_ts + INTERVAL 10 MINUTES"),
        "left_outer")
      runToCompletion(s, joined, "stream_outer_join", mode = "append",
        // the outer join commits 4 state-store instances per partition
        // per batch — 4 partitions halves its fixed commit floor without
        // touching the aggregation queries (see runToCompletion's note)
        defaultParts = 4)
        .where(col("click_id") >= 0) // drop the left sentinel's own row
        // unmatched clicks carry a NULL purchase — sentinel it to −1:
        // null-free outputs are the oracle-compare contract (a null long
        // reads back as NaN, and NaN != NaN), and −1 restores the same
        // nulls-first ordering the raw column had
        .select(col("click_id"),
          coalesce(col("purchase_id"), lit(-1L)).as("purchase_id"),
          col("c_user").as("user_id"))
        .orderBy(col("click_id"), col("purchase_id"))
    }),

    // Streaming exact dedup: dropDuplicates keyed by (user, type, minute).
    // The watermark column is PART of the dedup key, so per-key state
    // expires once the watermark passes that minute — keyed dedup without
    // the event-time column in the key never expires state (unbounded at
    // 100 TB). The output is the key itself, so which physical duplicate
    // survives cannot affect the result, and the batch DISTINCT oracle
    // applies.
    "q55_stream_dedup" -> ((s, dir) => {
      val dedup = eventStream(s, dir)
        .withColumn("m_ts", date_trunc("minute", col("ts")))
        .withWatermark("m_ts", "1 hour")
        .dropDuplicates("user_id", "event_type", "m_ts")
        .select(col("user_id"), col("event_type"), col("m_ts"))
      runToCompletion(s, dedup, "stream_dedup", mode = "append")
        .orderBy(col("user_id"), col("event_type"), col("m_ts"))
    }),

    // Sliding event-time windows on the STREAM — q115's hopping
    // aggregation (1-hour windows every 15 minutes) as a streaming
    // query: the in-row 4-window expansion happens before the keyed
    // state, so state is per-(window, type) exactly like q40's tumbling
    // form, just 4x the window keys. Complete mode + AvailableNow makes
    // the batch oracle apply verbatim (shared with q115); on a live feed
    // the same plan runs append-mode with the watermark evicting closed
    // windows.
    "q117_stream_sliding" -> ((s, dir) => {
      val agg = eventStream(s, dir)
        .withWatermark("ts", "1 hour")
        .groupBy(window(col("ts"), "1 hour", "15 minutes"), col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          round(sum(col("value")), 2).as("sum_value"))
      runToCompletion(s, agg, "stream_sliding")
        .select(col("window.start").as("window_start"), col("event_type"),
          col("n_events"), col("sum_value"))
        .orderBy(col("window_start"), col("event_type"))
    }),

    // The custom DSv2 connector as a STREAMING source: documents staged
    // into the graftbin binary format (its own batch writer), then read
    // back incrementally through GraftBinMicroBatchStream — each
    // micro-batch plans the part files not yet consumed (set-difference
    // offsets, immune to arrival order), the ingestion model a crawler
    // dump directory actually has. Complete-mode aggregate over a bounded
    // replay ⇒ the batch oracle applies verbatim; the same plan tails a
    // growing directory in production (GraftBinStreamSpec pins the
    // incremental file-discovery path).
    "q119_stream_graftbin" -> ((s, dir) => {
      val staged = StoreMeta.root("binstream", dir)
      s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("lang"), col("text"), col("n_chars"))
        .write.format(graft.sources.GraftBin.format).mode("overwrite").save(staged)
      val agg = s.readStream.format(graft.sources.GraftBin.format).load(staged)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"),
          sum(expr("length(text)")).as("sum_len"))
      runToCompletion(s, agg, "stream_graftbin")
        .orderBy(col("lang"))
    }),

    // The connector's STREAMING SINK closing the loop: a parquet document
    // stream written into graftbin through GraftBinStreamingWrite (epoch-
    // named part files — a crash-replayed micro-batch recreates the SAME
    // files, so restart is idempotent without a commit log; spec-pinned),
    // then read back through the batch scan and aggregated. Sink and
    // checkpoint are cleared per run so the query is self-contained; the
    // whole stream→binary-sink→scan chain must land on the parquet
    // source's numbers.
    "q120_stream_to_graftbin" -> ((s, dir) => {
      val sink = StoreMeta.root("binsink", dir)
      val ckpt = StoreMeta.root("binsink_ckpt", dir)
      for (d <- Seq(sink, ckpt)) StoreMeta.delete(s, d)
      val raw = s.read.parquet(s"$dir/documents.parquet")
      val q = s.readStream.schema(raw.schema).parquet(s"$dir/documents*.parquet")
        .select(col("doc_id"), col("lang"), col("text"), col("n_chars"))
        .writeStream.format(graft.sources.GraftBin.format)
        .option("path", sink).option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      s.read.format(graft.sources.GraftBin.format).load(sink)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"),
          min(col("doc_id")).as("min_id"), max(col("doc_id")).as("max_id"))
        .orderBy(col("lang"))
    }),

    // STREAMING MIX GATE — the q73 quality + repetition gates applied to
    // documents AS THEY ARRIVE: the same in-row expressions
    // (RepetitionChars + the q23 score, zero state, zero shuffles) gate a
    // document stream in append mode, so a crawl feed is filtered before
    // it ever lands in the corpus instead of by a later batch sweep.
    // Stateless ⇒ the result is independent of batch boundaries and
    // arrival order, and the batch gate SQL is the oracle verbatim. At
    // cluster scale the memory sink becomes a parquet/Kafka sink; nothing
    // else changes.
    "q74_stream_mix_gate" -> ((s, dir) =>
      runToCompletion(s, mixGateStream(s, dir), "stream_mix_gate", mode = "append")
        .orderBy(col("doc_id"))),

    // FOREACHBATCH UPSERT — the "batch APIs inside a stream" shape the
    // stateful operators can't express: each micro-batch MERGES its rows
    // into a persistent latest-state-per-user table (the classic CDC /
    // device-shadow materialization). The merge is a pure max over
    // struct(ts, event_id, ...) — associative and commutative — so the
    // final state is INDEPENDENT of batch boundaries and arrival order,
    // and the batch arg-max oracle applies verbatim. State versions are
    // WRITE-NEW-THEN-SWITCH (v0, v1, ... subdirs; the reader takes the
    // max complete version): overwriting the dir being read is the
    // classic self-overwrite corruption, and versioned dirs are the
    // poor-man's form of the transactional commit a real table format
    // provides. Per-user state is ONE struct row — at 100 TB the merge
    // is a key-partitioned aggregate of batch-sized input against a
    // state table that grows with |users|, never with the stream.
    "q131_stream_upsert" -> ((s, dir) => {
      val staged = StoreMeta.root("upsert_feed", dir)
      val stateRoot = StoreMeta.root("upsert_state", dir)
      val ckpt = StoreMeta.root("upsert_ckpt", dir)
      // 4 time-ranged feed files, mtime-ordered so the 4 micro-batches
      // replay roughly in time order (correctness does NOT depend on it —
      // that is the point of the associative merge; the spec shuffles
      // arrival order to pin exactly this)
      Tables.t(s, dir, "events")
        .repartitionByRange(4, col("ts")).write.mode("overwrite").parquet(staged)
      val base = System.currentTimeMillis() - 3600000L
      StoreMeta.touchParts(s, staged)(j => base + j * 1000L)
      for (d <- Seq(stateRoot, ckpt)) StoreMeta.delete(s, d)
      val schema = s.read.parquet(staged).schema
      val stream = Tables.streamTsFixup(
        s.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(staged))
      upsertRun(s, stream, stateRoot, ckpt)
    }),
  )

  /** One latest-state row per user from a frame of events (or of already-
    * reduced state rows — the merge input is the union of both). */
  private def latestPerUser(df: DataFrame): DataFrame = df
    .select(col("user_id"), struct(col("ts"), col("event_id"),
      col("event_type"),
      expr("cast(round(value * 100) AS bigint)").as("cents")).as("st"))
    .groupBy(col("user_id")).agg(max(col("st")).as("st"))

  /** Highest COMPLETE state version under `root`, −1 when none. Complete
    * = the version directory contains the `_SUCCESS` marker Spark's
    * committer writes after every parquet commit: a driver killed
    * mid-write of vN leaves no marker, so the replayed batch merges
    * against the last complete version instead of the partial one —
    * without this check the versioned-dir scheme would hand the replay
    * exactly the torn state it exists to prevent. Listing goes through
    * the Hadoop FileSystem resolved from the path (same as GraftBin), so
    * the state root can live on HDFS/S3A, not just the local disk. */
  private[graft] def stateVersion(s: SparkSession, root: String): Int = {
    val p = new org.apache.hadoop.fs.Path(root)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) -1
    else fs.listStatus(p)
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("v") &&
        fs.exists(new org.apache.hadoop.fs.Path(st.getPath, "_SUCCESS")))
      .flatMap(st => scala.util.Try(st.getPath.getName.drop(1).toInt).toOption)
      .foldLeft(-1)(math.max)
  }

  /** Drive the foreachBatch merge to completion and read the final state.
    * State rows re-enter [[latestPerUser]] already reduced (their struct
    * IS the max), so merging state with a batch is the same aggregate
    * over the union. */
  private[graft] def upsertRun(s: SparkSession, stream: DataFrame,
      stateRoot: String, ckpt: String): DataFrame = {
    StoreMeta.drainStream(stream, ckpt) { batch =>
      val reduced = latestPerUser(batch)
      val cur = stateVersion(s, stateRoot)
      val merged =
        if (cur < 0) reduced
        else reduced.unionByName(s.read.parquet(s"$stateRoot/v$cur"))
          .groupBy(col("user_id")).agg(max(col("st")).as("st"))
      merged.write.mode("overwrite").parquet(s"$stateRoot/v${cur + 1}")
    }
    s.read.parquet(s"$stateRoot/v${stateVersion(s, stateRoot)}")
      .select(col("user_id"), col("st.ts").as("last_ts"),
        col("st.event_id").as("last_event_id"),
        col("st.event_type").as("last_type"), col("st.cents").as("last_cents"))
      .orderBy(col("user_id"))
  }

  /** The q74 gate as a STREAMING DataFrame over `dir`'s documents — the
    * deployment surface an ingest job attaches its own sink to. The q74
    * entry drains it to a memory sink for the oracle compare;
    * [[graft.streaming.FileSinkSpec]] pins the production shape (append-
    * mode parquet sink + checkpoint = exactly-once across restarts, new
    * source files picked up incrementally). Stateless, so the kept set is
    * independent of batch boundaries and arrival order. */
  def mixGateStream(s: SparkSession, dir: String): DataFrame = {
    val raw = s.read.parquet(s"$dir/documents.parquet") // schema probe
    val stream = s.readStream.schema(raw.schema)
      .parquet(s"$dir/documents*.parquet")
    TextPipeline.withRepetitionChars(
        stream.selectExpr("doc_id", "lang", "source", "n_chars", "text"),
        withQuality = true)
      .where(s"quality_e4 >= 6100 AND NOT ${TextPipeline.repetitivePred}")
      .selectExpr("doc_id", "lang", "source", "quality_e4")
  }

  val oracles: Map[String, String] = Map(
    // the merge is an arg-max by (ts, event_id); row_number expresses the
    // same total order
    "q131_stream_upsert" ->
      """WITH r AS (SELECT user_id, ts, event_id, event_type,
        |    CAST(round(value * 100) AS BIGINT) AS cents,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events)
        |SELECT user_id, ts AS last_ts, event_id AS last_event_id,
        |  event_type AS last_type, cents AS last_cents
        |FROM r WHERE rn = 1 ORDER BY user_id""".stripMargin,

    "q40_stream_window" ->
      """SELECT date_trunc('hour', ts) AS window_start, event_type,
        |  count(*) AS n_events, round(sum(value), 2) AS sum_value
        |FROM events
        |GROUP BY 1, 2
        |ORDER BY 1, 2""".stripMargin,

    // Same gap-based sessions as q15 but at session_window's exact
    // microsecond semantics: a new session starts when the gap is >= 30
    // minutes (q15's second-truncated `> 1800` would disagree for gaps
    // inside (1800s, 1801s)).
    "q41_stream_sessionize" ->
      """WITH flagged AS (
        |  SELECT user_id, event_id, ts, value,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |      OR epoch_us(ts) - epoch_us(lag(ts) OVER w) >= 1800000000 THEN 1 ELSE 0 END AS is_new
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |), sess AS (
        |  SELECT *, sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        |  FROM flagged)
        |SELECT user_id, count(*) AS n_events,
        |  round(sum(value), 2) AS session_value,
        |  min(ts) AS session_start, max(ts) AS session_end
        |FROM sess
        |GROUP BY user_id, session_id
        |ORDER BY user_id, session_start""".stripMargin,

    "q46_stream_static_join" ->
      """SELECT c_mktsegment, count(*) AS n_purchases, round(sum(value), 2) AS sum_value
        |FROM events JOIN customer ON user_id = c_custkey
        |WHERE event_type = 'purchase'
        |GROUP BY c_mktsegment
        |ORDER BY c_mktsegment""".stripMargin,

    "q52_stream_stream_join" ->
      """SELECT c.event_id AS click_id, p.event_id AS purchase_id, c.user_id
        |FROM events c JOIN events p
        |  ON c.user_id = p.user_id
        |  AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 10 MINUTE
        |WHERE c.event_type = 'click' AND p.event_type = 'purchase'
        |ORDER BY click_id, purchase_id""".stripMargin,

    "q55_stream_dedup" ->
      """SELECT DISTINCT user_id, event_type, date_trunc('minute', ts) AS m_ts
        |FROM events
        |ORDER BY user_id, event_type, m_ts""".stripMargin,

    "q104_stream_outer_join" ->
      """SELECT c.event_id AS click_id,
        |  coalesce(p.event_id, -1) AS purchase_id, c.user_id
        |FROM events c LEFT JOIN events p
        |  ON c.user_id = p.user_id AND p.event_type = 'purchase'
        |  AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 10 MINUTE
        |WHERE c.event_type = 'click'
        |ORDER BY click_id, purchase_id""".stripMargin,

    // the stream → graftbin-sink → batch-scan loop against the source
    "q120_stream_to_graftbin" ->
      """SELECT lang, count(*) AS n_docs, sum(n_chars)::BIGINT AS sum_chars,
        |  min(doc_id) AS min_id, max(doc_id) AS max_id
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,

    // the whole graftbin write → stream-read → aggregate chain must land
    // on the parquet source's numbers
    "q119_stream_graftbin" ->
      """SELECT lang, count(*) AS n_docs, sum(n_chars)::BIGINT AS sum_chars,
        |  sum(length(text))::BIGINT AS sum_len
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,

    // q115's batch oracle verbatim — complete-mode streaming over a
    // bounded replay must reproduce the batch hopping-window aggregates
    "q117_stream_sliding" ->
      """WITH e AS (SELECT event_type, value, ts,
        |    TIMESTAMP '1970-01-01 00:00:00'
        |      + ((epoch_us(ts) // 1000000 // 900) * 900 - k * 900)
        |        * INTERVAL 1 SECOND AS window_start
        |  FROM events, unnest(generate_series(0, 3)) AS u(k))
        |SELECT window_start, event_type, count(*) AS n_events,
        |  round(sum(value), 2) AS sum_value
        |FROM e GROUP BY window_start, event_type
        |ORDER BY window_start, event_type""".stripMargin,

    // the BATCH gate SQL verbatim (shared CTE fragments with q70/q73) —
    // stateless streaming must reproduce it exactly
    "q74_stream_mix_gate" ->
      s"""WITH ${TextPipeline.duckQualityCtes},
         |${TextPipeline.duckRepCtes}
         |SELECT d.doc_id, d.lang, d.source, qual.quality_e4
         |FROM documents d
         |JOIN qual USING (doc_id)
         |LEFT JOIN top2 USING (doc_id) LEFT JOIN dup3 USING (doc_id)
         |WHERE qual.quality_e4 >= 6100 AND NOT ${TextPipeline.duckRepPred}
         |ORDER BY d.doc_id""".stripMargin,
  )
}
