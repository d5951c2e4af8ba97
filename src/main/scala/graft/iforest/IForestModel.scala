package graft.iforest

import org.apache.hadoop.fs.Path
import org.apache.spark.ml.Model
import org.apache.spark.ml.linalg.Vector
import org.apache.spark.ml.param.{Param, ParamMap}
import org.apache.spark.ml.util.{Identifiable, MLReadable, MLReader, MLWritable, MLWriter}
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.json4s._
import org.json4s.JsonDSL._
import org.json4s.jackson.JsonMethods._

import graft.JobPhase
import graft.queries.StoreMeta

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
 * The threshold is a value of the fitted model: [[IForest.fit]] sets it to
 * the `1 - contamination` quantile of the non-null training scores,
 * [[setThreshold]] replaces it, `write` saves it and `load` restores it,
 * and `transform` only reads it, so a loaded model scores its input once.
 * A model without one (a reference-written model, one saved before the
 * threshold was saved, or `setThreshold(Double.NaN)`) labels each call's
 * input against that input's own quantile, cached nowhere (reference
 * semantics: IForest.scala:101-105, minus its caching). At the default
 * `approxQuantileRelativeError = 0` the quantile is the score at 1-based
 * rank `ceil((1 - contamination) * n)` among the `n` non-null scores, bit
 * for bit what `approxQuantile(…, 0.0)` returns, found by [[ExactQuantile]]
 * in two jobs that cache nothing past the call; a positive relative error
 * keeps Spark's bounded GK sketch. The quantile jobs carry the description
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

  /** Anomaly-score cutoff; NaN means each transform takes its input's quantile. */
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

  /** Append `anomalyScore` and `prediction` columns. */
  override def transform(dataset: Dataset[_]): DataFrame = labelled(dataset, thresholdValue)._1

  /**
   * `dataset` scored, and labelled against `threshold` or, when that is NaN,
   * against the quantile of its own scores; with the threshold used. The
   * dataset is counted only when `maxSamples <= 1` (fraction form), because
   * only then does the score normalizer depend on dataset size (reference
   * always counts, IForest.scala:87). The quantile jobs run over a
   * score-only projection so Catalyst prunes every other column.
   */
  private[iforest] def labelled(dataset: Dataset[_], threshold: Double): (DataFrame, Double) = {
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
    val t = if (!threshold.isNaN) threshold else JobPhase(sc, "iforest:threshold") {
      val scores = scored.select($(anomalyScoreCol))
      val (q, relErr) = (1 - $(contamination), $(approxQuantileRelativeError))
      if (relErr == 0) ExactQuantile(scores, q)
      else scores.stat.approxQuantile($(anomalyScoreCol), Array(q), relErr)
        .headOption.getOrElse(Double.NaN)
    }
    if (t.isNaN) throw new IllegalArgumentException(
      "no non-null anomaly scores to take the 1 - contamination quantile of; " +
        "setThreshold sets a threshold without the quantile")
    (scored.withColumn($(predictionCol),
      when(col($(anomalyScoreCol)) > lit(t), 1.0).otherwise(0.0)), t)
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
   * [[EnsembleNodeData]]; `<path>/metadata/part-00000` holds one params JSON
   * line, the file `DefaultParamsWriter` writes. Metadata is hand-rolled
   * with json4s because Spark's `DefaultParamsWriter/Reader` helpers are
   * `private[ml]` (SURVEY §7), and read and written through the Hadoop
   * FileSystem, without a Spark job. The threshold is a top-level
   * `threshold` key next to `numTrees` (a stock reader rejects an unknown
   * param in `paramMap`): a JSON number when finite, `"Inf"`/`"-Inf"` as
   * Spark's `DoubleParam` writes infinities, and no key for NaN.
   */
  private[iforest] class IForestModelWriter(instance: IForestModel) extends MLWriter {
    override protected def saveImpl(path: String): Unit = {
      val spark = sparkSession
      import spark.implicits._
      // field set mirrors Spark's DefaultParamsWriter metadata so stock
      // loaders (e.g. PipelineModel.load re-dispatching by className) can
      // parse it; the helper itself is private[ml], hence hand-rolled.
      val metadata =
        ("class" -> instance.getClass.getName) ~
          ("timestamp" -> System.currentTimeMillis()) ~
          ("sparkVersion" -> spark.version) ~
          ("defaultParamMap" -> JObject()) ~
          ("uid" -> instance.uid) ~
          ("numTrees" -> instance.trees.length) ~
          ("threshold" -> thresholdJson(instance.getThreshold)) ~
          ("paramMap" -> JObject(instance.params.toList.map { case param: Param[Any] @unchecked =>
            param.name -> parse(param.jsonEncode(instance.getOrDefault(param)))
          }))
      StoreMeta.putRecord(spark, s"$path/metadata/part-00000", compact(render(metadata)) + "\n")
      val rows = instance.trees.zipWithIndex.flatMap { case (tree, treeId) =>
        NodeData.flatten(tree).map(EnsembleNodeData(treeId, _))
      }.toSeq
      spark.createDataset(rows).repartition(1).write.parquet(new Path(path, "data").toString)
    }
  }

  private[iforest] def thresholdJson(t: Double): JValue =
    if (t.isNaN) JNothing
    else if (t.isInfinite) JString(if (t > 0) "Inf" else "-Inf")
    else JDouble(t)

  private[iforest] def thresholdOf(v: JValue): Double = v match {
    case JNothing => Double.NaN
    case JString("Inf") => Double.PositiveInfinity
    case JString("-Inf") => Double.NegativeInfinity
    case JDouble(t) => t
    case other => throw new IllegalArgumentException(s"model threshold $other is not a number")
  }

  private class IForestModelReader extends MLReader[IForestModel] {
    override def load(path: String): IForestModel = {
      val spark = sparkSession
      import spark.implicits._
      // the first part file, as Spark's text source reads a metadata dir
      // (`_SUCCESS`, `.crc` and other `_`/`.` names are not data)
      val dir = new Path(path, "metadata")
      val part = dir.getFileSystem(spark.sparkContext.hadoopConfiguration).listStatus(dir)
        .map(_.getPath).filterNot(p => p.getName.startsWith("_") || p.getName.startsWith("."))
        .sortBy(_.getName).headOption
        .getOrElse(throw new java.io.FileNotFoundException(s"no metadata part file in $dir"))
      val meta = parse(StoreMeta.record(spark, part.toString).get)
      // The forest is numTrees * O(2^maxDepth) nodes — megabytes, not data
      // scale — so rebuild driver-side and skip the reference's shuffle
      // (reference: IForest.scala:244-250 groupByKey). The schema is the
      // fixed EnsembleNodeData one, so the read runs no inference job.
      val nodeRows = spark.read.schema(Encoders.product[EnsembleNodeData].schema)
        .parquet(new Path(path, "data").toString)
        .as[EnsembleNodeData].collect()
      val trees = nodeRows.groupBy(_.treeID).toArray.sortBy(_._1)
        .map { case (_, rows) => NodeData.rebuild(rows.map(_.nodeData)) }
      implicit val formats: Formats = DefaultFormats
      val model = new IForestModel((meta \ "uid").extract[String], trees)
      model.params.foreach { case param: Param[Any] @unchecked =>
        model.set(param, param.jsonDecode(compact(meta \ "paramMap" \ param.name)))
      }
      model.setThreshold(thresholdOf(meta \ "threshold"))
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
