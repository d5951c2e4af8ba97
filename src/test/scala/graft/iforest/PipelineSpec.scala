package graft.iforest

import java.nio.file.Files

import org.apache.spark.ml.{Pipeline, PipelineModel}
import org.apache.spark.ml.feature.VectorAssembler
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** IForest composes with stock Spark ML pipeline stages (the reference's
  * primary usage pattern: assembler -> estimator -> persist -> reload). */
class PipelineSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark

  test("VectorAssembler -> IForest pipeline: fit, transform, save/load") {
    val li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    val assembler = new VectorAssembler()
      .setInputCols(Array("l_quantity", "l_extendedprice", "l_discount"))
      .setOutputCol("features")
    val iforest = new IForest()
      .setNumTrees(10).setMaxSamples(64).setMaxDepth(6)
      .setContamination(0.1).setSeed(5L)
    val pipeline = new Pipeline().setStages(Array(assembler, iforest))
    val model = pipeline.fit(li)
    val scored = model.transform(li)
    assert(scored.columns.contains("anomalyScore"))
    assert(scored.count() == li.count())

    val dir = Files.createTempDirectory("iforest-pipeline").toString + "/p"
    model.write.overwrite().save(dir)
    val loaded = PipelineModel.load(dir)
    val ifm = loaded.stages(1).asInstanceOf[IForestModel]
    assert(ifm.numTreesFitted == 10)
    // the fitted threshold is saved with the forest, bit for bit
    val fitted = model.stages(1).asInstanceOf[IForestModel].getThreshold
    assert(java.lang.Double.doubleToLongBits(ifm.getThreshold) ==
      java.lang.Double.doubleToLongBits(fitted))
    val cols = Seq("l_orderkey", "l_linenumber", "anomalyScore", "prediction")
    val a = scored.select(cols.map(col): _*).collect().map(_.toSeq).sortBy(_.take(2).mkString(","))
    val b = loaded.transform(li).select(cols.map(col): _*).collect().map(_.toSeq)
      .sortBy(_.take(2).mkString(","))
    assert(a.toSeq == b.toSeq)
  }
}
