package graft.iforest

import java.nio.file.Files

import org.apache.spark.ml.linalg.Vectors
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/**
 * Model-format interchange: a model directory written in the REFERENCE's
 * on-disk layout (reference: IForest.scala:283-310 — `<path>/data` parquet
 * of (treeID, nodeData{id, featureIndex, featureValue, leftChild,
 * rightChild, numInstance}) rows with pre-order ids, `<path>/metadata`
 * single-line params JSON as DefaultParamsWriter emits it, including the
 * reference's own class name) loads through our reader with identical
 * trees and params.
 */
class ReferenceLayoutSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark

  test("loads a model dir written in the reference's layout") {
    import spark.implicits._
    val dir = Files.createTempDirectory("ref_layout").toString + "/model"

    // hand-written forest: tree 0 = root(f0 < 5.0, leaf(3), leaf(7));
    // tree 1 = single leaf(10)
    val rows = Seq(
      EnsembleNodeData(0, NodeData(0, 0, 5.0, 1, 2, 0L)),
      EnsembleNodeData(0, NodeData(1, -1, 0.0, -1, -1, 3L)),
      EnsembleNodeData(0, NodeData(2, -1, 0.0, -1, -1, 7L)),
      EnsembleNodeData(1, NodeData(0, -1, 0.0, -1, -1, 10L)))
    spark.createDataset(rows).repartition(1).write.parquet(s"$dir/data")

    // metadata exactly as the reference's DefaultParamsWriter would emit it
    val metadata =
      """{"class":"org.apache.spark.ml.iforest.IForestModel",""" +
        """"timestamp":1500000000000,"sparkVersion":"2.4.0",""" +
        """"uid":"iforest_ref123","paramMap":{"numTrees":2,"maxSamples":1.0,""" +
        """"maxFeatures":1.0,"maxDepth":10,"contamination":0.1,""" +
        """"approxQuantileRelativeError":0.0,"bootstrap":false,"seed":99,""" +
        """"featuresCol":"features","anomalyScoreCol":"anomalyScore",""" +
        """"predictionCol":"prediction","labelCol":"label"},""" +
        """"defaultParamMap":{}}"""
    spark.createDataset(Seq(metadata)).repartition(1).write.text(s"$dir/metadata")

    val model = IForestModel.load(dir)
    assert(model.uid === "iforest_ref123")
    assert(model.numTreesFitted === 2)
    assert(model.getNumTrees === 2 && model.getSeed === 99L)
    model.trees(0) match {
      case IFInternalNode(IFLeafNode(l), IFLeafNode(r), f, v) =>
        assert(f === 0 && v === 5.0 && l === 3L && r === 7L)
      case other => fail(s"unexpected tree shape: $other")
    }
    assert(model.trees(1) === IFLeafNode(10L))
    assert(!model.hasThreshold, "the reference saves no threshold")

    // the loaded model scores: left branch (f0 < 5) vs right branch
    val df = Seq(Tuple1(Vectors.dense(1.0)), Tuple1(Vectors.dense(9.0)))
      .toDF("features")
    model.setThreshold(0.5)
    val out = model.transform(df).select("anomalyScore").collect().map(_.getDouble(0))
    assert(out.forall(s => s > 0.0 && s <= 1.0))
  }
}
