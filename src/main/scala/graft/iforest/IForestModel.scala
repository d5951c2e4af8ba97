package graft.iforest

import org.apache.hadoop.fs.Path
import org.apache.spark.ml.Model
import org.apache.spark.ml.linalg.Vector
import org.apache.spark.ml.param.ParamMap
import org.apache.spark.ml.util.{Identifiable, MLReadable, MLReader, MLWritable, MLWriter}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.JobPhase

/**
 * Fitted isolation forest.
 *
 * Scoring is data-parallel: the forest is broadcast once per transform as
 * one packed [[FlatForest]] (flat arrays walked four trees at a time with
 * branchless steps, leaf path lengths pre-computed), the per-dataset
 * normalization factor is hoisted out of the per-row path (the reference
 * recomputes it per row inside its UDF, reference: IForest.scala:92-99),
 * and the 0/1 label is a plain `when(score > threshold)` Catalyst
 * expression instead of a second UDF (reference: IForest.scala:108-111).
 *
 * Threshold semantics match the reference (reference: IForest.scala:50,
 * 68-75, 101-105): computed lazily from the first transformed dataset as the
 * `1 - contamination` quantile of the non-null scores, cached on the
 * instance, not persisted, overridable via [[setThreshold]]. At the default
 * `approxQuantileRelativeError = 0` it is the score at 1-based rank
 * `ceil((1 - contamination) * n)` among the `n` non-null scores, bit for bit
 * what `approxQuantile(…, 0.0)` returns, found by [[ExactQuantile]] in two
 * jobs instead of a GK merge of every score in one task: the first sorts
 * and caches each partition's scores and samples their order statistics,
 * the second collects only the scores in a bracket round that rank (or,
 * past about a million of them, samples the bracket for one more round).
 * So the driver holds a bounded number of scores whatever `n` is, and the
 * cached scores are dropped before `transform` returns. A positive relative
 * error keeps Spark's bounded GK sketch (`approxQuantile`), which caches
 * nothing. The threshold jobs carry the description
 * `graft:iforest:threshold` (and the dataset count, when `maxSamples <= 1`
 * needs one, `graft:iforest:count`). With no non-null score to take the
 * quantile of, `transform` throws an `IllegalArgumentException`.
 */
class IForestModel(
    override val uid: String,
    private[iforest] val trees: Array[IFNode])
  extends Model[IForestModel] with IForestParams with MLWritable {

  require(trees != null && trees.nonEmpty, "IForestModel requires at least 1 tree")

  import IForestModel._

  def setFeaturesCol(value: String): this.type = set(featuresCol, value)
  def setAnomalyScoreCol(value: String): this.type = set(anomalyScoreCol, value)
  def setPredictionCol(value: String): this.type = set(predictionCol, value)

  /** Anomaly-score cutoff; NaN until first transform or manual set. */
  private var thresholdValue: Double = Double.NaN
  def getThreshold: Double = thresholdValue
  def setThreshold(value: Double): this.type = { thresholdValue = value; this }
  def hasThreshold: Boolean = !thresholdValue.isNaN

  private var trainingSummary: Option[IForestSummary] = None
  def hasSummary: Boolean = trainingSummary.isDefined
  def summary: IForestSummary = trainingSummary.getOrElse(
    throw new IllegalStateException(s"No training summary for $uid (loaded models have none)"))
  private[iforest] def setSummary(s: IForestSummary): this.type = { trainingSummary = Some(s); this }

  def numTreesFitted: Int = trees.length

  /**
   * Append `anomalyScore` and `prediction` columns.
   *
   * The dataset is counted only when `maxSamples <= 1` (fraction form),
   * because only then does the score normalizer depend on dataset size
   * (reference always counts, IForest.scala:87 — skipping it saves a full
   * scan per transform at scale). The quantile jobs for the threshold run
   * over a score-only projection so Catalyst prunes every other column.
   */
  override def transform(dataset: Dataset[_]): DataFrame = {
    transformSchema(dataset.schema)
    val sc = dataset.sparkSession.sparkContext
    val possibleMaxSamples =
      if ($(maxSamples) > 1) $(maxSamples).toInt
      else math.max(2, ($(maxSamples) * JobPhase(sc, "iforest:count")(dataset.count())).toInt)
    val normFactor = IsolationMath.avgLength(possibleMaxSamples.toDouble)
    val bcForest = sc.broadcast(FlatForest(trees))
    // Native codegen'd expression instead of a scalar UDF: see
    // IForestScoreExpression.scala for why (no Vector materialization, no
    // codegen fence; the forest still ships by broadcast).
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val scoreCol = ColumnBridge.column(
      IForestScore(ColumnBridge.expression(col($(featuresCol))), bcForest, normFactor))
    val scored = dataset.withColumn($(anomalyScoreCol), scoreCol)
    if (!hasThreshold) {
      val scores = scored.select($(anomalyScoreCol))
      val q = 1 - $(contamination)
      val relErr = $(approxQuantileRelativeError)
      val t = JobPhase(sc, "iforest:threshold") {
        if (relErr == 0) ExactQuantile(scores, q)
        else scores.stat.approxQuantile($(anomalyScoreCol), Array(q), relErr)
          .headOption.getOrElse(Double.NaN)
      }
      if (t.isNaN) throw new IllegalArgumentException(
        "no non-null anomaly scores to take the 1 - contamination quantile of; " +
          "setThreshold sets a threshold without the quantile")
      thresholdValue = t
    }
    scored.withColumn($(predictionCol),
      when(col($(anomalyScoreCol)) > lit(thresholdValue), 1.0).otherwise(0.0))
  }

  override def transformSchema(schema: StructType): StructType =
    validateAndTransformSchema(schema)

  override def copy(extra: ParamMap): IForestModel = {
    val copied = copyValues(new IForestModel(uid, trees), extra).setParent(parent)
    copied.thresholdValue = thresholdValue
    copied.trainingSummary = trainingSummary
    copied
  }

  override def write: MLWriter = new IForestModelWriter(this)
}

object IForestModel extends MLReadable[IForestModel] {

  /**
   * Model format parity with the reference (reference:
   * IForest.scala:283-310): `<path>/data` holds one parquet row per
   * [[EnsembleNodeData]]; `<path>/metadata` holds a params JSON.
   * Metadata read/write is hand-rolled with json4s because Spark's
   * `DefaultParamsWriter/Reader` helpers are `private[ml]` (SURVEY §7).
   */
  private[iforest] class IForestModelWriter(instance: IForestModel) extends MLWriter {
    override protected def saveImpl(path: String): Unit = {
      import org.json4s.JsonDSL._
      import org.json4s.jackson.JsonMethods._
      val spark = sparkSession
      import spark.implicits._
      // field set mirrors Spark's DefaultParamsWriter metadata so stock
      // loaders (e.g. PipelineModel.load re-dispatching by className) can
      // parse it; the helper itself is private[ml], hence hand-rolled.
      val metadata =
        ("class" -> instance.getClass.getName) ~
          ("timestamp" -> System.currentTimeMillis()) ~
          ("sparkVersion" -> spark.version) ~
          ("defaultParamMap" -> org.json4s.JObject()) ~
          ("uid" -> instance.uid) ~
          ("numTrees" -> instance.trees.length) ~
          ("paramMap" ->
            (("numTrees" -> instance.getNumTrees) ~
              ("maxSamples" -> instance.getMaxSamples) ~
              ("maxFeatures" -> instance.getMaxFeatures) ~
              ("maxDepth" -> instance.getMaxDepth) ~
              ("contamination" -> instance.getContamination) ~
              ("approxQuantileRelativeError" -> instance.getApproxQuantileRelativeError) ~
              ("bootstrap" -> instance.getBootstrap) ~
              ("seed" -> instance.getSeed) ~
              ("featuresCol" -> instance.getFeaturesCol) ~
              ("anomalyScoreCol" -> instance.getAnomalyScoreCol) ~
              ("predictionCol" -> instance.getPredictionCol) ~
              ("labelCol" -> instance.getLabelCol)))
      val metadataPath = new Path(path, "metadata").toString
      spark.createDataset(Seq(compact(render(metadata)))).repartition(1).write.text(metadataPath)
      val rows = instance.trees.zipWithIndex.flatMap { case (tree, treeId) =>
        NodeData.flatten(tree).map(EnsembleNodeData(treeId, _))
      }.toSeq
      val dataPath = new Path(path, "data").toString
      spark.createDataset(rows).repartition(1).write.parquet(dataPath)
    }
  }

  private class IForestModelReader extends MLReader[IForestModel] {
    override def load(path: String): IForestModel = {
      import org.json4s._
      import org.json4s.jackson.JsonMethods._
      implicit val formats: Formats = DefaultFormats
      val spark = sparkSession
      import spark.implicits._
      val metadataStr = spark.read.text(new Path(path, "metadata").toString)
        .as[String].collect().mkString("\n")
      val meta = parse(metadataStr)
      val uid = (meta \ "uid").extract[String]
      val p = meta \ "paramMap"
      // The forest is numTrees * O(2^maxDepth) nodes — megabytes, not data
      // scale — so rebuild driver-side and skip the reference's shuffle
      // (reference: IForest.scala:244-250 groupByKey).
      val nodeRows = spark.read.parquet(new Path(path, "data").toString)
        .as[EnsembleNodeData].collect()
      val trees = nodeRows.groupBy(_.treeID).toArray.sortBy(_._1)
        .map { case (_, rows) => NodeData.rebuild(rows.map(_.nodeData)) }
      val model = new IForestModel(uid, trees)
      model.set(model.numTrees, (p \ "numTrees").extract[Int])
      model.set(model.maxSamples, (p \ "maxSamples").extract[Double])
      model.set(model.maxFeatures, (p \ "maxFeatures").extract[Double])
      model.set(model.maxDepth, (p \ "maxDepth").extract[Int])
      model.set(model.contamination, (p \ "contamination").extract[Double])
      model.set(model.approxQuantileRelativeError,
        (p \ "approxQuantileRelativeError").extract[Double])
      model.set(model.bootstrap, (p \ "bootstrap").extract[Boolean])
      model.set(model.seed, (p \ "seed").extract[Long])
      model.set(model.featuresCol, (p \ "featuresCol").extract[String])
      model.set(model.anomalyScoreCol, (p \ "anomalyScoreCol").extract[String])
      model.set(model.predictionCol, (p \ "predictionCol").extract[String])
      model.set(model.labelCol, (p \ "labelCol").extract[String])
      model
    }
  }

  override def read: MLReader[IForestModel] = new IForestModelReader
  override def load(path: String): IForestModel = super.load(path)
}

/**
 * Thin DataFrame wrapper over the training predictions
 * (reference: IForest.scala:896-908).
 */
class IForestSummary(
    val predictions: DataFrame,
    val featuresCol: String,
    val predictionCol: String,
    val anomalyScoreCol: String) extends Serializable {

  def anomalies: DataFrame = predictions.select(predictionCol)
  def anomalyScores: DataFrame = predictions.select(anomalyScoreCol)

  /** `where(...).count` instead of the reference's `collect().length` wart. */
  def numAnomalies: Long = predictions.where(col(predictionCol) > 0).count()
}
