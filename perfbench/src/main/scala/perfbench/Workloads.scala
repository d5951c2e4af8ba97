package perfbench

import java.io.File

import org.apache.spark.ml.evaluation.BinaryClassificationEvaluator
import org.apache.spark.ml.feature.VectorAssembler
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.SparkEntry
import graft.iforest.{IForest, IForestModel}
import graft.queries.Caches

/** Order-independent content hash of a DataFrame's rows: row count, the sum
  * of the low 32 bits of each row's xxhash64, and the xor of the hashes. */
final case class Checksum(rows: Long, sum: Long, xor: Long)

object Checksum {
  /** Attaches the checksum to `df` as a Spark observation, so the action
    * that runs `df` computes it in the same pass. */
  def observe(df: DataFrame): (DataFrame, Observation) = {
    val obs = Observation()
    val h = xxhash64(df.columns.map(c => col(s"`$c`")).toIndexedSeq: _*)
    (df.observe(obs, count(lit(1)).as("n"),
      coalesce(sum(h.bitwiseAND(0xFFFFFFFFL)), lit(0L)).as("s"),
      coalesce(bit_xor(h), lit(0L)).as("x")), obs)
  }

  def of(obs: Observation): Checksum = {
    val m = obs.get
    Checksum(m("n").asInstanceOf[Long], m("s").asInstanceOf[Long], m("x").asInstanceOf[Long])
  }

  /** Runs `df` to the noop sink and returns its checksum. */
  def sink(df: DataFrame): Checksum = {
    val (o, obs) = observe(df)
    o.write.format("noop").mode("overwrite").save()
    of(obs)
  }
}

/** Scale of a run's inputs. */
final case class Scale(httpRows: Long, lineitemRows: Long, documents: Int, embeddings: Int)

object Scale {
  val full = Scale(httpRows = 567498L, lineitemRows = 600000L, documents = 500, embeddings = 500)
  val smoke = Scale(httpRows = 5675L, lineitemRows = 6000L, documents = 500, embeddings = 500)
}

/** One benchmark workload: a seeded input, a set-up the run repeats, one
  * repeatable unit of user work (the op) and the check of its output. */
abstract class Workload(val spark: SparkSession, val dataDir: String, val seed: Long,
    val scale: Scale) {
  /** Writes the seeded input tables (not timed). */
  def generate(): Unit = ()
  /** Timed set-up; run several times, each time from scratch. */
  def setup(i: Int): Unit
  /** One op, with spans around each library call. */
  def op(i: Int, t: Tracer): Unit
  /** Checks the last op's output; returns the failure, if any. */
  def check(i: Int): Option[String]
  /** Untimed warm-up ops before the timed ones. */
  def warmups: Int = 1
  /** A check of the last op too costly to repeat on every op. */
  def lastCheck(): Option[String] = None
  /** Untimed per-layer figures of a traced run, taken once after its ops. */
  def finish(): Map[String, Double] = Map.empty
  /** Per-layer metrics of one traced op. */
  def layers(t: Tracer, root: Span, jobs: Seq[JobRec]): Map[String, Double]
  /** Set-up repetitions that disagreed with the first one. */
  val setupMismatches = scala.collection.mutable.ArrayBuffer.empty[String]

  protected def sameBits(a: Double, b: Double): Boolean =
    java.lang.Double.doubleToLongBits(a) == java.lang.Double.doubleToLongBits(b)

  protected def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(deleteTree))
    f.delete()
  }

  protected def tmpdir: File = new File(sys.props("java.io.tmpdir"))
}

object Workloads {
  def apply(name: String, spark: SparkSession, dataDir: String, seed: Long,
      scale: Scale): Workload = name match {
    case "iforest_train" => new IForestTrain(spark, dataDir, seed, scale)
    case "iforest_batch_score" => new IForestBatchScore(spark, dataDir, seed, scale)
    case "store_txn_loop" => new StoreTxnLoop(spark, dataDir, seed, scale)
    case "ann_persisted_probe" => new AnnPersistedProbe(spark, dataDir, seed, scale)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** Span with this name among `root`'s subtree. */
  def named(t: Tracer, root: Span, name: String): Seq[Span] =
    t.subtree(root).filter(_.name == name)

  def jobsUnder(t: Tracer, spans: Seq[Span], jobs: Seq[JobRec]): Seq[JobRec] = {
    val ids = spans.flatMap(t.subtree).map(_.id).toSet
    jobs.filter(j => ids.contains(j.span))
  }
}

/** op = `IForest.fit` on the cached http-shaped set, then
  * `model.write.save` to a fresh path. */
final class IForestTrain(spark: SparkSession, dataDir: String, seed: Long, scale: Scale)
    extends Workload(spark, dataDir, seed, scale) {
  private var input: DataFrame = _
  private var model: IForestModel = _
  private var golden: Option[(Checksum, Double)] = None
  private var firstModel: IForestModel = _

  /** Fit laps keep getting faster for about two ops after the first. */
  override def warmups: Int = 2

  private def estimator = new IForest().setNumTrees(100).setMaxSamples(256)
    .setMaxDepth(10).setContamination(0.004).setSeed(seed)

  def setup(i: Int): Unit = {
    if (input != null) input.unpersist(blocking = true)
    input = Data.httpSet(spark, seed, scale.httpRows).persist(StorageLevel.MEMORY_AND_DISK)
    input.count()
  }

  private def modelPath(i: Int) = s"$dataDir/models/op$i"

  def op(i: Int, t: Tracer): Unit = {
    model = t.span("fit")(estimator.fit(input))
    t.span("save")(model.write.save(modelPath(i)))
  }

  def check(i: Int): Option[String] = {
    val forest = Checksum.sink(spark.read.parquet(s"${modelPath(i)}/data"))
    deleteTree(new File(modelPath(i)))
    golden match {
      case None =>
        firstModel = model
        golden = Some((forest, model.getThreshold))
        None
      case Some((f, thr)) =>
        if (forest != f) Some(s"forest $forest differs from the first op's $f")
        else if (!sameBits(model.getThreshold, thr))
          Some(s"threshold ${model.getThreshold} differs from the first op's $thr")
        else None
    }
  }

  /** `summary.numAnomalies` equals count(score > threshold). Checked on the
    * last op only: every op's forest and threshold equal the first op's,
    * so the count is the same on all of them. */
  override def lastCheck(): Option[String] = {
    val n = model.summary.numAnomalies
    val above = model.summary.predictions
      .where(col("anomalyScore") > lit(model.getThreshold)).count()
    if (n != above) Some(s"numAnomalies $n != count(score > threshold) $above") else None
  }

  override def finish(): Map[String, Double] = {
    val auc = new BinaryClassificationEvaluator().setLabelCol("label")
      .setRawPredictionCol("anomalyScore").setMetricName("areaUnderROC")
      .evaluate(firstModel.transform(input))
    Map("auc" -> auc)
  }

  def layers(t: Tracer, root: Span, jobs: Seq[JobRec]): Map[String, Double] = {
    val fit = Workloads.named(t, root, "fit")
    val save = Workloads.named(t, root, "save")
    val fitJobs = Workloads.jobsUnder(t, fit, jobs)
    def kind(j: JobRec): String =
      if (j.site.contains("IForestModel.scala") || j.longSite.contains("IForestModel.transform"))
        "threshold"
      else if (j.site.startsWith("count at IForest.scala")) "count"
      else if (j.site.startsWith("zipWithIndex at IForest.scala")) "sample"
      else if (j.site.startsWith("collect at IForest.scala")) "build"
      else "other"
    val byKind = fitJobs.groupBy(kind)
    val buildStages = t.stagesOf(byKind.getOrElse("build", Nil))
    val (sampleStages, treeStages) = buildStages.partition(_.shuffleWrite > 0)
    val saveDelta = save.map(_.delta)
    Map(
      "fit.s" -> fit.map(_.dur).sum / 1000,
      "fit.jobs" -> fitJobs.size.toDouble,
      "fit.count_s" -> Layers.wallS(byKind.getOrElse("count", Nil)),
      "fit.sample_s" -> (Layers.wallS(byKind.getOrElse("sample", Nil)) +
        sampleStages.map(_.wall).sum / 1000),
      "fit.shuffle_write_bytes" -> t.stagesOf(fitJobs).map(_.shuffleWrite).sum.toDouble,
      "fit.threshold_s" -> Layers.wallS(byKind.getOrElse("threshold", Nil)),
      "fit.driver_gap_s" -> Layers.gapS(fit, fitJobs),
      "build.task_s" -> treeStages.map(_.runMs).sum / 1000.0,
      "build.max_task_s" -> treeStages.map(_.maxTaskMs).foldLeft(0L)(_ max _) / 1000.0,
      "build.forest_bytes" -> treeStages.map(_.resultBytes).sum.toDouble,
      "save.s" -> save.map(_.dur).sum / 1000,
      "save.fs_write_ops" -> saveDelta.map(_.writeOps).sum.toDouble,
      "save.bytes_written" -> saveDelta.map(_.bytesWritten).sum.toDouble)
  }
}

/** op = `IForestModel.load`, lineitem scan + the library's respread,
  * `VectorAssembler`, `transform` (the loaded model recomputes its
  * threshold), then a noop write of key, score and prediction. */
final class IForestBatchScore(spark: SparkSession, dataDir: String, seed: Long, scale: Scale)
    extends Workload(spark, dataDir, seed, scale) {
  private val lineitem = s"$dataDir/lineitem.parquet"
  private val modelDir = s"$dataDir/flagship_model"
  private var golden: Option[(Checksum, Double)] = None
  private var last: (Checksum, Double) = _

  override def generate(): Unit = Data.lineitem(spark, seed, scale.lineitemRows, lineitem)

  private def assemble(df: DataFrame): DataFrame = new VectorAssembler()
    .setInputCols(Array("l_quantity", "l_extendedprice", "l_discount", "l_tax"))
    .setOutputCol("features").transform(df)

  private def output(scored: DataFrame): DataFrame =
    scored.select("l_orderkey", "l_linenumber", "anomalyScore", "prediction")

  /** Fits the flagship config (the `iforest_score` entry's) and saves it;
    * the fitted model's own output is the golden copy. */
  def setup(i: Int): Unit = {
    val assembled = assemble(graft.PerfbenchAccess.respread(spark.read.parquet(lineitem)))
      .select("l_orderkey", "l_linenumber", "features")
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val model = new IForest().setNumTrees(100).setMaxSamples(256).setMaxDepth(8)
        .setContamination(0.05).setSeed(seed).fit(assembled)
      model.write.overwrite().save(modelDir)
      val g = (Checksum.sink(output(model.transform(assembled))), model.getThreshold)
      golden match {
        case None => golden = Some(g)
        case Some(first) if first._1 != g._1 || !sameBits(first._2, g._2) =>
          setupMismatches += s"set-up $i golden $g differs from the first $first"
        case _ =>
      }
    } finally assembled.unpersist(blocking = true)
  }

  def op(i: Int, t: Tracer): Unit = {
    val model = t.span("load")(IForestModel.load(modelDir))
    val features = t.span("scan")(
      assemble(graft.PerfbenchAccess.respread(spark.read.parquet(lineitem))))
    val scored = t.span("transform")(model.transform(features))
    last = (t.span("sink")(Checksum.sink(output(scored))), model.getThreshold)
  }

  def check(i: Int): Option[String] = {
    val (g, thr) = golden.get
    if (!sameBits(last._2, thr)) Some(s"threshold ${last._2} != golden $thr")
    else if (last._1 != g) Some(s"scores/predictions ${last._1} != golden $g")
    else None
  }

  def layers(t: Tracer, root: Span, jobs: Seq[JobRec]): Map[String, Double] = {
    val load = Workloads.named(t, root, "load")
    val transform = Workloads.named(t, root, "transform")
    val sink = Workloads.named(t, root, "sink")
    val thrJobs = Workloads.jobsUnder(t, transform, jobs)
    val scoreJobs = Workloads.jobsUnder(t, transform ++ sink, jobs)
    val scoreStages = t.stagesOf(scoreJobs)
    val respread = t.stagesOf(jobs).filter(s => s.inputBytes > 0 && s.shuffleWrite > 0)
    Map(
      "load.s" -> load.map(_.dur).sum / 1000,
      "load.jobs" -> Workloads.jobsUnder(t, load, jobs).size.toDouble,
      "score.threshold_s" -> transform.map(_.dur).sum / 1000,
      "score.threshold_merge_task_s" -> t.stagesOf(thrJobs).filter(_.numTasks == 1)
        .map(_.maxTaskMs).foldLeft(0L)(_ max _) / 1000.0,
      "score.sink_s" -> sink.map(_.dur).sum / 1000,
      "score.task_s" -> scoreStages.map(_.runMs).sum / 1000.0,
      "score.rows" -> last._1.rows.toDouble,
      "score.jobs" -> scoreJobs.size.toDouble,
      "score.driver_gap_s" -> Layers.gapS(transform ++ sink, scoreJobs),
      "scan.input_bytes" -> root.delta.bytesRead.toDouble,
      "respread.s" -> respread.map(_.wall).sum / 1000,
      "respread.shuffle_write_bytes" -> respread.map(_.shuffleWrite).sum.toDouble)
  }
}

/** op = `SparkEntry.queries("q158_tx_full_loop")` to a noop sink, then
  * `Caches.releaseAll()`. Each set-up pass runs the same loop; the first
  * writes its rows out for the DuckDB oracle check. */
final class StoreTxnLoop(spark: SparkSession, dataDir: String, seed: Long, scale: Scale)
    extends Workload(spark, dataDir, seed, scale) {
  private val query = SparkEntry.queries("q158_tx_full_loop")
  private var golden: Option[Checksum] = None
  private var last: Checksum = _
  private val work = new File(dataDir).getParent

  /** The set-up passes run this very loop, so they are its warm-up. */
  override def warmups: Int = 0

  /** Writes the documents table, and q158's DuckDB oracle SQL for the
    * runner's check of the set-up's output. */
  override def generate(): Unit = {
    Data.documents(spark, seed, scale.documents, s"$dataDir/documents.parquet")
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$work/q158_oracle.sql"),
      SparkEntry.oracleSql("q158_tx_full_loop").getBytes("UTF-8"))
  }

  def setup(i: Int): Unit = {
    val (df, obs) = Checksum.observe(query(spark, dataDir))
    if (i == 0) df.write.parquet(s"$work/q158_output.parquet")
    else df.write.format("noop").mode("overwrite").save()
    Caches.releaseAll()
    val g = Checksum.of(obs)
    golden match {
      case None => golden = Some(g)
      case Some(first) if first != g =>
        setupMismatches += s"set-up $i output $g differs from the first $first"
      case _ =>
    }
  }

  def op(i: Int, t: Tracer): Unit = {
    val df = t.span("query")(query(spark, dataDir))
    last = t.span("sink")(Checksum.sink(df))
    t.span("release")(Caches.releaseAll())
  }

  def check(i: Int): Option[String] =
    if (last != golden.get) Some(s"output $last != set-up output ${golden.get}") else None

  private val phases = Seq(
    "reset" -> Seq("StoreTxn$.reset", "$anonfun$reset$"),
    "bases" -> Seq("ensureBases"),
    "absorb" -> Seq("absorbBoth"),
    "decontam" -> Seq("DecontamIndex$"),
    "mix" -> Seq("StoreMix$", "keeperIdsTx", "storedStatsTx"))

  /** The store phase a job belongs to: the outermost library frame of its
    * call site that names one of q158's steps. */
  private def phaseOf(j: JobRec): Option[String] =
    j.longSite.split("\n").reverseIterator
      .flatMap(f => phases.collectFirst { case (p, pats) if pats.exists(f.contains) => p })
      .nextOption()

  def layers(t: Tracer, root: Span, jobs: Seq[JobRec]): Map[String, Double] = {
    val sinkJobs = Workloads.jobsUnder(t, Workloads.named(t, root, "sink"), jobs).toSet
    // jobs whose call site names no step inherit the previous job's step
    var prev = "reset"
    val byPhase = jobs.sortBy(_.start).map { j =>
      val p = if (sinkJobs(j)) "mix" else phaseOf(j).getOrElse(prev)
      prev = p
      p -> j
    }.groupMap(_._1)(_._2)
    val d = root.delta
    val input = t.stagesOf(jobs).map(_.inputBytes).sum
    val onDisk = Option(tmpdir.listFiles).toSeq.flatten
      .filter(f => f.getName.startsWith("graft_") && !f.getName.startsWith("graft_ann"))
      .map(sizeOf).sum
    phases.map { case (p, _) => s"store.${p}_s" -> Layers.wallS(byPhase.getOrElse(p, Nil)) }
      .toMap ++ Map(
      "store.jobs" -> jobs.size.toDouble,
      "store.driver_gap_s" -> Layers.gapS(Seq(root), jobs),
      "store.fs_read_ops" -> d.readOps.toDouble,
      "store.fs_write_ops" -> d.writeOps.toDouble,
      "store.bytes_written" -> d.bytesWritten.toDouble,
      "store.write_amp" -> (if (input > 0) d.bytesWritten.toDouble / input else 0.0),
      "store.bytes_on_disk" -> onDisk.toDouble)
  }

  private def sizeOf(f: File): Long =
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.map(sizeOf).sum else f.length
}

/** op = the four persisted ANN tiers in sequence (q58 LSH, q59 IVF, q133
  * PQ, q138 IVF-PQ), each to a noop sink, then `Caches.releaseAll()`. The
  * set-up builds the indexes and captures each live tier's rows. */
final class AnnPersistedProbe(spark: SparkSession, dataDir: String, seed: Long, scale: Scale)
    extends Workload(spark, dataDir, seed, scale) {
  private val tiers = Seq(
    ("lsh", "q58_ann_persisted", "q31_ann_lsh"),
    ("ivf", "q59_ann_ivf_persisted", "q49_ann_ivf"),
    ("pq", "q133_ann_pq_persisted", "q130_ann_pq"),
    ("ivfpq", "q138_ann_ivfpq_persisted", "q137_ann_ivfpq"))
  private var live = Map.empty[String, Checksum]
  private var last = Map.empty[String, Checksum]
  private var indexState: Seq[(String, Long, Long)] = Nil
  var rebuilds = 0

  override def generate(): Unit =
    Data.embeddings(spark, seed, scale.embeddings, 64, s"$dataDir/embeddings.parquet")

  private def indexRoots: Seq[File] = Option(tmpdir.listFiles).toSeq.flatten
    .filter(_.getName.startsWith("graft_ann_index_"))

  /** (path, length, mtime) of every file under the index roots. */
  private def snapshot(): Seq[(String, Long, Long)] = {
    def walk(f: File): Seq[(String, Long, Long)] =
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(walk)
      else Seq((f.getPath, f.length, f.lastModified))
    indexRoots.flatMap(walk).sorted
  }

  private def run(q: String): Checksum = Checksum.sink(SparkEntry.queries(q)(spark, dataDir))

  def setup(i: Int): Unit = {
    indexRoots.foreach(deleteTree)
    val liveNow = tiers.map { case (tier, _, q) => tier -> run(q) }.toMap
    Caches.releaseAll()
    val built = tiers.map { case (tier, q, _) => tier -> run(q) }.toMap
    Caches.releaseAll()
    tiers.foreach { case (tier, _, _) =>
      if (built(tier) != liveNow(tier))
        setupMismatches += s"set-up $i: persisted $tier ${built(tier)} != live ${liveNow(tier)}"
    }
    if (i == 0) live = liveNow
    else if (liveNow != live) setupMismatches += s"set-up $i live rows differ from set-up 0"
    indexState = snapshot()
  }

  def op(i: Int, t: Tracer): Unit = {
    last = tiers.map { case (tier, q, _) =>
      tier -> t.span(tier)(Checksum.sink(SparkEntry.queries(q)(spark, dataDir)))
    }.toMap
    t.span("release")(Caches.releaseAll())
  }

  def check(i: Int): Option[String] = {
    val now = snapshot()
    if (now != indexState) { rebuilds += 1; indexState = now }
    tiers.collectFirst {
      case (tier, _, _) if last(tier) != live(tier) =>
        s"persisted $tier ${last(tier)} != live ${live(tier)}"
    }
  }

  override def finish(): Map[String, Double] = Map("ann.rebuilds" -> rebuilds.toDouble)

  def layers(t: Tracer, root: Span, jobs: Seq[JobRec]): Map[String, Double] = {
    tiers.map { case (tier, _, _) =>
      s"ann.${tier}_s" -> Workloads.named(t, root, tier).map(_.dur).sum / 1000
    }.toMap ++ Map(
      "ann.jobs" -> jobs.size.toDouble,
      "ann.driver_gap_s" -> Layers.gapS(Seq(root), jobs),
      "ann.fs_read_ops" -> root.delta.readOps.toDouble)
  }
}
