"""End-to-end test of the graft_iforest pyspark wrapper.

Driven by graft.PythonBridgeSpec (ScalaTest), which first fits the SAME
fixture with the Scala API and dumps the expected scores; this script then
fits from Python with identical params/seed and asserts score-for-score
equality, plus the save/load/summary/threshold lifecycle
(the golden shape is the reference's doctest transcript,
reference: python/pyspark_iforest/ml/iforest.py:160-213).

Usage: test_iforest_bridge.py <driverClassPath> <fixtureParquet>
       <expectedParquet> <workDir>

Exit code 0 = all assertions passed.
"""

import os
import re
import struct
import sys


def rows_by_id(df):
    return {r["id"]: (r["anomalyScore"], r["prediction"]) for r in df.collect()}


def assert_scores_match(got, want, what):
    assert set(got) == set(want), \
        f"{what}: id sets differ ({len(got)} vs {len(want)})"
    for i, (score, pred) in want.items():
        gs, gp = got[i]
        assert abs(gs - score) <= 1e-12, \
            f"{what}: score mismatch at id={i}: {gs} vs {score}"
        assert gp == pred, f"{what}: prediction mismatch at id={i}: {gp} vs {pred}"


def main():
    driver_cp, fixture, expected, workdir = sys.argv[1:5]
    # Must be set before the gateway JVM launches: the graft Scala classes
    # ride on the driver classpath next to pyspark's own Spark jars.
    # APPEND to any pre-set value (preserving its flags) rather than
    # clobbering a caller's --packages/--conf.
    prior = os.environ.get("PYSPARK_SUBMIT_ARGS", "")
    prior = re.sub(r"\s*pyspark-shell\s*$", "", prior).strip()
    os.environ["PYSPARK_SUBMIT_ARGS"] = \
        f"{prior} --driver-class-path {driver_cp} pyspark-shell".lstrip()

    from pyspark.sql import SparkSession
    spark = (SparkSession.builder
             .master("local[2]")
             .appName("graft-python-bridge")
             .config("spark.sql.shuffle.partitions", "4")
             .config("spark.ui.enabled", "false")
             .getOrCreate())
    spark.sparkContext.setLogLevel("WARN")

    # Fail fast with a clear message if the gateway JVM cannot see the
    # graft classes (e.g. a JVM was already up before we set the env var):
    # the otherwise-confusing failure mode is a ClassNotFoundException
    # deep inside fit().
    try:
        spark._jvm.java.lang.Class.forName("graft.iforest.IForest")
    except Exception:
        raise SystemExit(
            "graft.iforest.IForest is not on the gateway JVM classpath; "
            f"expected it via --driver-class-path {driver_cp}. If a JVM was "
            "already running before this script set PYSPARK_SUBMIT_ARGS, "
            "restart without a pre-existing gateway.")

    from graft_iforest import IForest, IForestModel

    df = spark.read.parquet(fixture)
    expected_rows = rows_by_id(spark.read.parquet(expected))

    # Params must match PythonBridgeSpec's Scala fit exactly.
    est = IForest(numTrees=50, maxSamples=64.0, maxDepth=8,
                  contamination=0.1, bootstrap=False,
                  approxQuantileRelativeError=0.0, seed=42)
    assert est.getNumTrees() == 50
    assert est.getMaxSamples() == 64.0
    assert est.getOrDefault(est.seed) == 42

    model = est.fit(df)

    # Summary lifecycle: present after fit, gone after load.
    assert model.hasSummary
    summary = model.summary
    n = df.count()
    assert summary.predictions.count() == n
    assert summary.anomalyScores.count() == n
    assert 0 < summary.numAnomalies < n
    assert summary.anomalyScoreCol == "anomalyScore"

    scored = model.transform(df).select("id", "anomalyScore", "prediction")
    assert_scores_match(rows_by_id(scored), expected_rows, "python fit")

    # Threshold: fixed by fit, saved with the forest.
    threshold = model.getThreshold()
    assert 0.0 < threshold < 1.0

    # Model save -> load -> re-score: the loaded model carries the fitted
    # threshold bit for bit, so scores and predictions are identical.
    model_path = os.path.join(workdir, "model")
    model.save(model_path)
    loaded = IForestModel.load(model_path)
    assert not loaded.hasSummary
    assert loaded.hasThreshold()
    assert struct.pack("<d", loaded.getThreshold()) == struct.pack("<d", threshold)
    assert loaded.getOrDefault(loaded.numTrees) == 50
    rescored = loaded.transform(df).select("id", "anomalyScore", "prediction")
    assert_scores_match(rows_by_id(rescored), expected_rows, "loaded model")

    # Manual threshold override flips predictions without refitting.
    override = IForestModel.load(model_path).setThreshold(0.0)
    assert override.getThreshold() == 0.0
    flipped = override.transform(df)
    assert flipped.where("prediction = 1.0").count() == n

    # Estimator save/load round-trips params.
    est_path = os.path.join(workdir, "estimator")
    est.save(est_path)
    est2 = IForest.load(est_path)
    assert est2.getNumTrees() == 50
    assert est2.getMaxDepth() == 8
    assert est2.getContamination() == 0.1
    assert est2.getOrDefault(est2.seed) == 42
    assert est2.uid == est.uid

    print("PY_BRIDGE_OK numAnomalies=%d threshold=%.6f" %
          (summary.numAnomalies, threshold))
    spark.stop()


def test_iforest_bridge(graft_classes, bridge_fixture_dir, tmp_path):
    """Standalone pytest entry: same run the Scala harness drives, with
    argv derived by conftest (classes dir, BridgeFixture golden dump)."""
    import sys as _sys
    argv = _sys.argv
    _sys.argv = [__file__, graft_classes,
                 os.path.join(bridge_fixture_dir, "fixture"),
                 os.path.join(bridge_fixture_dir, "expected"),
                 str(tmp_path)]
    try:
        main()
    finally:
        _sys.argv = argv


if __name__ == "__main__":
    main()
