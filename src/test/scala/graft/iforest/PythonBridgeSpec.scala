package graft.iforest

import java.nio.file.Files

import scala.sys.process._

import org.apache.spark.ml.linalg.Vectors
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/**
 * Drives the Python/Py4J wrapper (python/graft_iforest) end-to-end:
 * fits the SAME single-file fixture with the Scala API, dumps the expected
 * (id, anomalyScore, prediction) rows, then runs
 * python/tests/test_iforest_bridge.py, which fits from Python with
 * identical params/seed in its own pyspark-launched JVM (our classes on
 * the driver classpath) and asserts score-for-score equality plus the
 * save/load/summary/threshold lifecycle
 * (reference: python/pyspark_iforest/ml/iforest.py:160-213 doctest shape).
 *
 * Determinism across the two JVMs: one parquet file => one input
 * partition on both sides, so count, driver-side seeded sampling,
 * zipWithIndex row ids, tree builds, and the exact
 * (approxQuantileRelativeError=0) threshold all coincide.
 */
class PythonBridgeSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark

  private def classesDir: java.io.File =
    new java.io.File(
      classOf[IForest].getProtectionDomain.getCodeSource.getLocation.toURI)

  test("python wrapper fit/transform/save/load matches the Scala model") {
    val python = Seq("bash", "-c", "command -v python3").!!.trim
    assert(python.nonEmpty, "python3 not found on PATH")
    val pysparkOk = Seq(python, "-c", "import pyspark").! == 0
    assume(pysparkOk, "pyspark not importable; skipping bridge test")

    import spark.implicits._
    val work = Files.createTempDirectory("graft-pybridge").toFile
    val fixturePath = s"$work/fixture"
    val expectedPath = s"$work/expected"

    // 300 deterministic rows: 4-dim inliers plus 6 far outliers.
    val rng = new scala.util.Random(11)
    val rows = (0 until 294).map { i =>
      (i.toLong, Vectors.dense(Array.fill(4)(rng.nextDouble() * 2 - 1)))
    } ++ (294 until 300).map { i =>
      (i.toLong, Vectors.dense(Array.fill(4)(25.0 + i)))
    }
    rows.toDF("id", "features").coalesce(1)
      .write.mode("overwrite").parquet(fixturePath)

    // Scala-side golden run — params mirrored in test_iforest_bridge.py.
    val df = spark.read.parquet(fixturePath)
    val model = new IForest()
      .setNumTrees(50).setMaxSamples(64.0).setMaxDepth(8)
      .setContamination(0.1).setBootstrap(false)
      .setApproxQuantileRelativeError(0.0).setSeed(42L)
      .fit(df)
    model.transform(df).select("id", "anomalyScore", "prediction")
      .coalesce(1).write.mode("overwrite").parquet(expectedPath)

    val pythonDir = new java.io.File(
      classesDir.getParentFile.getParentFile.getParentFile, "python")
    assert(new java.io.File(pythonDir, "graft_iforest/iforest.py").isFile,
      s"python package not found under $pythonDir")

    val cmd = Seq(python, s"$pythonDir/tests/test_iforest_bridge.py",
      classesDir.getAbsolutePath, fixturePath, expectedPath, work.toString)
    val out = new StringBuilder
    val logger = ProcessLogger(l => { out ++= l; out += '\n' }, l => { out ++= l; out += '\n' })
    // The repo tree's package comes first on PYTHONPATH, so an installed
    // copy of graft_iforest is never tested in its place.
    val pythonPath = (pythonDir.getAbsolutePath +: sys.env.get("PYTHONPATH").toSeq)
      .mkString(java.io.File.pathSeparator)
    // The pyspark JVM gets this JVM's tmpdir (build.sbt points it under
    // target/), so the stores the script builds stay out of the system
    // tmpdir; the script appends its --driver-class-path to these args.
    val submitArgs = (s"--driver-java-options -Djava.io.tmpdir=${sys.props("java.io.tmpdir")}" +:
      sys.env.get("PYSPARK_SUBMIT_ARGS").toSeq).mkString(" ")
    val exit = Process(cmd, Some(pythonDir), "PYTHONPATH" -> pythonPath,
      "PYSPARK_SUBMIT_ARGS" -> submitArgs).!(logger)
    assert(exit == 0, s"python bridge test failed (exit $exit):\n$out")
    assert(out.toString.contains("PY_BRIDGE_OK"),
      s"python bridge test did not report success:\n$out")
  }
}
