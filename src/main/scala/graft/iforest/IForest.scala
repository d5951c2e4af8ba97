package graft.iforest

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.HashPartitioner
import org.apache.spark.ml.Estimator
import org.apache.spark.ml.linalg.Vector
import org.apache.spark.ml.param.ParamMap
import org.apache.spark.ml.util.{DefaultParamsReadable, DefaultParamsWritable, Identifiable}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Dataset, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType

import graft.JobPhase

/**
 * Distributed isolation-forest estimator (Liu/Ting/Zhou, ICDM 2008).
 *
 * Training dataflow (reference semantics: IForest.scala:404-549, re-derived
 * Spark-first):
 *
 *  1. one job that counts the rows of each partition of the features RDD;
 *     `numRows` is their sum and each partition's first row id their
 *     prefix sum (the ids `zipWithIndex` would assign, without its
 *     separate size job or a second `count()`);
 *  2. driver-side per-tree row-id sampling — O(numTrees * maxSamples) time
 *     and memory, independent of dataset size (see [[TreeBuilder]]);
 *  3. the inverted rowId -> (treeId, copies) map is broadcast — the manual
 *     form of a broadcast semi-join against the sampled-id list;
 *  4. ONE distributed pass over the data: prune to the features column
 *     (explicit select keeps Catalyst pruning across the `.rdd` hop),
 *     number rows from the partition offsets, filter to sampled rows,
 *     multicast each row to its trees, then a single shuffle (`reduceByKey`, map-side combined) that
 *     co-locates each tree's ~maxSamples vectors;
 *  5. model-wise parallelism: one task per tree builds an iTree locally;
 *     only the forest (megabytes) is collected to the driver.
 *
 * The jobs carry the descriptions `graft:iforest:size`,
 * `graft:iforest:build` and (from the summary's quantile, which becomes the
 * model's threshold) `graft:iforest:threshold`.
 *
 * Scale posture (100 TB): the full dataset is never materialized, the only
 * shuffle moves numTrees * maxSamples vectors, and driver memory is bounded
 * by the same product — all independent of input row count.
 */
class IForest(override val uid: String)
  extends Estimator[IForestModel] with IForestParams with DefaultParamsWritable {

  // spark's internal Logging trait is private[spark]; use slf4j directly
  @transient private lazy val logger = org.slf4j.LoggerFactory.getLogger(getClass)

  def this() = this(Identifiable.randomUID("iforest"))

  def setNumTrees(value: Int): this.type = set(numTrees, value)
  def setMaxSamples(value: Double): this.type = set(maxSamples, value)
  def setMaxFeatures(value: Double): this.type = set(maxFeatures, value)
  def setMaxDepth(value: Int): this.type = set(maxDepth, value)
  def setContamination(value: Double): this.type = set(contamination, value)
  def setApproxQuantileRelativeError(value: Double): this.type =
    set(approxQuantileRelativeError, value)
  def setBootstrap(value: Boolean): this.type = set(bootstrap, value)
  def setSeed(value: Long): this.type = set(seed, value)
  def setFeaturesCol(value: String): this.type = set(featuresCol, value)
  def setAnomalyScoreCol(value: String): this.type = set(anomalyScoreCol, value)
  def setPredictionCol(value: String): this.type = set(predictionCol, value)
  def setLabelCol(value: String): this.type = set(labelCol, value)

  override def fit(dataset: Dataset[_]): IForestModel = {
    transformSchema(dataset.schema)
    val spark = dataset.sparkSession
    // Standard MLlib handlePersistence pattern: fit reads the data three
    // times (size, sampling pass, summary/threshold scoring pass) — cache
    // it for the duration of fit unless the caller already did.
    val input = dataset.toDF()
    val handlePersistence =
      input.storageLevel == org.apache.spark.storage.StorageLevel.NONE
    if (handlePersistence) {
      input.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }
    try fitImpl(input)
    finally if (handlePersistence) { input.unpersist(); () }
  }

  private def fitImpl(dataset: Dataset[_]): IForestModel = {
    val sc = dataset.sparkSession.sparkContext
    // null feature vectors are skipped, as transform scores them null;
    // `.rdd` runs the jobs of any shuffle stage under the input
    val (features, partitionSizes) = JobPhase(sc, "iforest:size") {
      val features: RDD[Vector] = dataset.select(col($(featuresCol))).rdd
        .collect { case Row(v: Vector) => v }
      (features, sc.runJob(features, (it: Iterator[Vector]) => {
        var n = 0L
        while (it.hasNext) { it.next(); n += 1 }
        n
      }))
    }
    val firstRowIds = partitionSizes.scanLeft(0L)(_ + _)
    val numRows = firstRowIds.last
    require(numRows > 0, "cannot fit an isolation forest on an empty dataset")
    val possibleMaxSamples =
      if ($(maxSamples) > 1) {
        require($(maxSamples) <= numRows,
          s"maxSamples (${$(maxSamples)}) cannot exceed dataset size ($numRows)")
        $(maxSamples).toInt
      } else {
        math.max(1, ($(maxSamples) * numRows).toInt)
      }

    // Driver-side sampling + inversion into rowId -> packed (treeId, copies)
    // pairs (reference: IForest.scala:414-464). Bounded by numTrees * maxSamples.
    val rng = new Random($(seed))
    val trees = $(numTrees)
    val rowInfo = mutable.HashMap.empty[Long, mutable.ArrayBuffer[Int]]
    var treeId = 0
    while (treeId < trees) {
      val indices = TreeBuilder.sampleIndices($(bootstrap), possibleMaxSamples, numRows, rng)
      val counts = mutable.HashMap.empty[Long, Int]
      indices.foreach(i => counts.update(i, counts.getOrElse(i, 0) + 1))
      counts.foreach { case (rowId, copies) =>
        val buf = rowInfo.getOrElseUpdate(rowId, mutable.ArrayBuffer.empty[Int])
        buf += treeId
        buf += copies
      }
      treeId += 1
    }
    val estimateMb = trees.toLong * 2 * possibleMaxSamples * 32 / (1024 * 1024)
    if (estimateMb > 256) {
      logger.warn(s"estimated driver-side forest footprint ~${estimateMb} MB; " +
        "consider lowering numTrees or maxSamples")
    }
    val bcRowInfo = sc.broadcast(
      rowInfo.map { case (k, v) => (k, v.toArray) }.toMap)

    // One distributed pass + one small shuffle keyed by treeId.
    val perTree: RDD[(Int, Array[Vector])] = features
      .mapPartitionsWithIndex { (p, vecs) =>
        var rowId = firstRowIds(p) - 1
        vecs.flatMap { vec =>
          rowId += 1
          bcRowInfo.value.get(rowId) match {
            case Some(packed) =>
              packed.grouped(2).map { case Array(tid, copies) =>
                (tid, Array.fill(copies)(vec))
              }
            case None => Iterator.empty
          }
        }
      }
      .reduceByKey(
        new HashPartitioner(math.min(trees, sc.defaultParallelism * 4)),
        (a, b) => a ++ b)

    val seedBase = $(seed)
    val maxFeaturesVal = $(maxFeatures)
    val depthCap = math.min(
      $(maxDepth),
      math.ceil(math.log(math.max(possibleMaxSamples, 2).toDouble) / math.log(2)).toInt)

    val builtTrees = JobPhase(sc, "iforest:build") {
      perTree.map { case (tid, points) =>
        val treeRng = new Random(seedBase ^ (tid.toLong * 0x9E3779B97F4A7C15L))
        val matrix = points.map(_.toArray)
        val (sampled, featureMap) = TreeBuilder.sampleFeatures(matrix, maxFeaturesVal, treeRng)
        (tid, TreeBuilder.buildTree(sampled, depthCap, featureMap, treeRng))
      }.collect().sortBy(_._1).map(_._2)
    }

    val model = copyValues(new IForestModel(uid, builtTrees).setParent(this))
    // The training summary labels the training set against the quantile of
    // its own scores (reference: IForest.scala:542-547); that quantile is
    // the model's threshold from here on, and `write` saves it.
    val (predictions, threshold) = model.labelled(dataset, Double.NaN)
    model.setThreshold(threshold).setSummary(new IForestSummary(
      predictions, $(featuresCol), $(predictionCol), $(anomalyScoreCol)))
  }

  override def transformSchema(schema: StructType): StructType =
    validateAndTransformSchema(schema)

  override def copy(extra: ParamMap): IForest = defaultCopy(extra)
}

object IForest extends DefaultParamsReadable[IForest] {
  override def load(path: String): IForest = super.load(path)
}
