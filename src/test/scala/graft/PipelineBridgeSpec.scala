package graft

import scala.sys.process._

import org.scalatest.funsuite.AnyFunSuite

/**
 * Drives the Python pipeline wrappers (python/graft_iforest/pipeline.py)
 * end-to-end: python/tests/test_pipeline_bridge.py runs exact dedup (q20
 * shape), near-dup clustering (q66), deterministic splits (q65), and LSH
 * ANN (q31 shape) from Python over sf0.001, in its own pyspark-launched
 * JVM with our classes on the driver classpath — the same launch recipe
 * as [[graft.iforest.PythonBridgeSpec]]. The script cross-checks dedup
 * totals against an independent pyspark aggregation and the cluster
 * invariants by hand, so this is a correctness check of the bridge, not
 * just a smoke test.
 */
class PipelineBridgeSpec extends AnyFunSuite {

  private def classesDir: java.io.File =
    new java.io.File(
      classOf[graft.iforest.IForest].getProtectionDomain.getCodeSource.getLocation.toURI)

  test("python pipeline wrappers run dedup/clustering/splits/ANN over sf0.001") {
    val python = Seq("bash", "-c", "command -v python3").!!.trim
    assert(python.nonEmpty, "python3 not found on PATH")
    val pysparkOk = Seq(python, "-c", "import pyspark").! == 0
    assume(pysparkOk, "pyspark not importable; skipping bridge test")

    val pythonDir = new java.io.File(
      classesDir.getParentFile.getParentFile.getParentFile, "python")
    assert(new java.io.File(pythonDir, "graft_iforest/pipeline.py").isFile,
      s"python package not found under $pythonDir")

    val cmd = Seq(python, s"$pythonDir/tests/test_pipeline_bridge.py",
      classesDir.getAbsolutePath, "/root/testdata/sf0.001")
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
    assert(exit == 0, s"python pipeline bridge test failed (exit $exit):\n$out")
    assert(out.toString.contains("PY_PIPELINE_OK"),
      s"python pipeline bridge test did not report success:\n$out")
  }
}
