"""pyspark wrapper for the graft isolation forest.

The JVM peers are ``graft.iforest.IForest`` / ``IForestModel`` /
``IForestSummary`` (the Scala library on the driver classpath). The wrapper
follows the stock pyspark ``JavaEstimator``/``JavaModel`` pattern: params are
mirrored by name and transferred through Py4J, ``fit``/``transform`` execute
entirely in the JVM, and persistence reuses the Scala readers/writers, so a
model saved from Python loads in Scala and vice versa.

API surface per the reference wrapper
(reference: python/pyspark_iforest/ml/iforest.py:11-361, util.py:4-44):
estimator params + setters/getters, ``fit`` -> model, model
``transform``/``save``/``load``, lazy ``summary`` (absent on loaded models),
and mutable, unpersisted ``threshold``. The pyspark->JVM class-name mapping
is the one piece the default wrapper machinery cannot derive (it rewrites
``pyspark``->``org.apache.spark``); ``_GraftMLReader`` pins it to the
``graft.iforest`` package instead (the reference solves the same problem by
rewriting its own package prefix, reference: python/pyspark_iforest/ml/
util.py:28).
"""

from pyspark import keyword_only
from pyspark.ml.param import Param, Params, TypeConverters
from pyspark.ml.param.shared import HasFeaturesCol, HasPredictionCol, HasSeed
from pyspark.ml.util import JavaMLReadable, JavaMLReader, JavaMLWritable
from pyspark.ml.wrapper import JavaEstimator, JavaModel, JavaWrapper

__all__ = ["IForest", "IForestModel", "IForestSummary"]

_JAVA_PACKAGE = "graft.iforest"


class _GraftMLReader(JavaMLReader):
    """JavaMLReader whose JVM peer lives in ``graft.iforest``."""

    @classmethod
    def _java_loader_class(cls, clazz):
        return _JAVA_PACKAGE + "." + clazz.__name__


class _GraftMLReadable(JavaMLReadable):
    """Readable mixin wiring ``read()`` to :class:`_GraftMLReader`."""

    @classmethod
    def read(cls):
        return _GraftMLReader(cls)


def _wrap_java_stage(py_stage, java_stage):
    """Populate a fresh Python wrapper from its JVM peer (the same steps
    as ``JavaParams._from_java``, which we cannot use directly because it
    derives the Python class from the JVM package name)."""
    py_stage._java_obj = java_stage
    if isinstance(py_stage, JavaModel):
        py_stage._create_params_from_java()
    py_stage._resetUid(java_stage.uid())
    py_stage._transfer_params_from_java()
    return py_stage


class IForestSummary(JavaWrapper):
    """Training summary: the fit-time predictions DataFrame plus derived
    anomaly views. Only a freshly fitted model has one."""

    @property
    def predictions(self):
        return self._call_java("predictions")

    @property
    def featuresCol(self):
        return self._call_java("featuresCol")

    @property
    def predictionCol(self):
        return self._call_java("predictionCol")

    @property
    def anomalyScoreCol(self):
        return self._call_java("anomalyScoreCol")

    @property
    def anomalies(self):
        return self._call_java("anomalies")

    @property
    def anomalyScores(self):
        return self._call_java("anomalyScores")

    @property
    def numAnomalies(self):
        return self._call_java("numAnomalies")


class IForestModel(JavaModel, JavaMLWritable, _GraftMLReadable):
    """Model fitted by :class:`IForest`.

    Appends ``anomalyScore`` and 0/1 ``prediction`` columns. The prediction
    threshold is a value of the model: fit sets it to the ``1 -
    contamination`` quantile of the training scores, :meth:`setThreshold`
    replaces it, ``save`` writes it and ``load`` restores it, and
    ``transform`` only reads it. A model without one (saved by the reference
    or before thresholds were saved, or after ``setThreshold(float("nan"))``)
    labels each transformed dataset against that dataset's own quantile,
    cached nowhere.
    """

    @property
    def hasSummary(self):
        """Whether a training summary exists (False for loaded models)."""
        return self._call_java("hasSummary")

    @property
    def summary(self):
        """The training summary; raises if the model was loaded from disk."""
        if not self.hasSummary:
            raise RuntimeError(
                "No training summary available for this IForestModel "
                "(models loaded from disk have none)")
        return IForestSummary(self._call_java("summary"))

    def numTreesFitted(self):
        """Number of trees actually in the fitted forest."""
        return self._call_java("numTreesFitted")

    def hasThreshold(self):
        """Whether a threshold is set (by fit, load or :meth:`setThreshold`)."""
        return self._call_java("hasThreshold")

    def getThreshold(self):
        """The anomaly-score cutoff; NaN when each transform takes its own."""
        return self._call_java("getThreshold")

    def setThreshold(self, value):
        """Set the anomaly-score cutoff for the 0/1 prediction (NaN clears it)."""
        self._call_java("setThreshold", float(value))
        return self

    @classmethod
    def _from_java(cls, java_stage):
        return _wrap_java_stage(cls(), java_stage)


class IForest(JavaEstimator, HasFeaturesCol, HasPredictionCol, HasSeed,
              JavaMLWritable, _GraftMLReadable):
    """Isolation-forest anomaly detection estimator (Liu/Ting/Zhou,
    ICDM 2008), backed by the distributed Scala implementation.

    >>> from pyspark.ml.linalg import Vectors
    >>> data = [(Vectors.dense([0.0, 0.0]),), (Vectors.dense([7.0, 9.0]),),
    ...         (Vectors.dense([9.0, 8.0]),), (Vectors.dense([8.0, 9.0]),)]
    >>> df = spark.createDataFrame(data, ["features"])
    >>> iforest = IForest(contamination=0.3, maxDepth=2, seed=42)
    >>> model = iforest.fit(df)
    >>> model.hasSummary
    True
    >>> model.summary.numAnomalies
    1
    >>> rows = model.transform(df).collect()
    >>> model.save(path); loaded = IForestModel.load(path)
    >>> loaded.hasSummary
    False
    """

    numTrees = Param(
        Params._dummy(), "numTrees",
        "number of trees in the forest (> 0)",
        typeConverter=TypeConverters.toInt)
    maxSamples = Param(
        Params._dummy(), "maxSamples",
        "rows sampled per tree: fraction if <= 1, count if > 1 (> 0)",
        typeConverter=TypeConverters.toFloat)
    maxFeatures = Param(
        Params._dummy(), "maxFeatures",
        "features sampled per tree: fraction if <= 1, count if > 1 (> 0)",
        typeConverter=TypeConverters.toFloat)
    maxDepth = Param(
        Params._dummy(), "maxDepth",
        "maximum tree depth (> 0)",
        typeConverter=TypeConverters.toInt)
    contamination = Param(
        Params._dummy(), "contamination",
        "expected anomaly fraction, in (0, 1)",
        typeConverter=TypeConverters.toFloat)
    bootstrap = Param(
        Params._dummy(), "bootstrap",
        "sample rows with replacement",
        typeConverter=TypeConverters.toBoolean)
    approxQuantileRelativeError = Param(
        Params._dummy(), "approxQuantileRelativeError",
        "relative error for the threshold quantile, in [0, 1); 0 = exact",
        typeConverter=TypeConverters.toFloat)
    anomalyScoreCol = Param(
        Params._dummy(), "anomalyScoreCol",
        "output anomaly score column",
        typeConverter=TypeConverters.toString)
    labelCol = Param(
        Params._dummy(), "labelCol",
        "optional ground-truth label column",
        typeConverter=TypeConverters.toString)

    @keyword_only
    def __init__(self, *, featuresCol="features", predictionCol="prediction",
                 anomalyScoreCol="anomalyScore", labelCol="label",
                 numTrees=100, maxSamples=1.0, maxFeatures=1.0, maxDepth=10,
                 contamination=0.1, bootstrap=False,
                 approxQuantileRelativeError=0.0, seed=None):
        super(IForest, self).__init__()
        self._java_obj = self._new_java_obj(
            _JAVA_PACKAGE + ".IForest", self.uid)
        self._setDefault(
            numTrees=100, maxSamples=1.0, maxFeatures=1.0, maxDepth=10,
            contamination=0.1, bootstrap=False,
            approxQuantileRelativeError=0.0,
            anomalyScoreCol="anomalyScore", labelCol="label")
        kwargs = self._input_kwargs
        if kwargs.get("seed") is None:
            kwargs.pop("seed", None)
        self.setParams(**kwargs)

    @keyword_only
    def setParams(self, *, featuresCol="features", predictionCol="prediction",
                  anomalyScoreCol="anomalyScore", labelCol="label",
                  numTrees=100, maxSamples=1.0, maxFeatures=1.0, maxDepth=10,
                  contamination=0.1, bootstrap=False,
                  approxQuantileRelativeError=0.0, seed=None):
        """Set params; only keyword arguments actually passed are applied."""
        kwargs = self._input_kwargs
        if kwargs.get("seed") is None:
            kwargs.pop("seed", None)
        return self._set(**kwargs)

    def _create_model(self, java_model):
        return IForestModel(java_model)

    @classmethod
    def _from_java(cls, java_stage):
        return _wrap_java_stage(cls(), java_stage)

    def setNumTrees(self, value):
        return self._set(numTrees=value)

    def getNumTrees(self):
        return self.getOrDefault(self.numTrees)

    def setMaxSamples(self, value):
        return self._set(maxSamples=value)

    def getMaxSamples(self):
        return self.getOrDefault(self.maxSamples)

    def setMaxFeatures(self, value):
        return self._set(maxFeatures=value)

    def getMaxFeatures(self):
        return self.getOrDefault(self.maxFeatures)

    def setMaxDepth(self, value):
        return self._set(maxDepth=value)

    def getMaxDepth(self):
        return self.getOrDefault(self.maxDepth)

    def setContamination(self, value):
        return self._set(contamination=value)

    def getContamination(self):
        return self.getOrDefault(self.contamination)

    def setBootstrap(self, value):
        return self._set(bootstrap=value)

    def getBootstrap(self):
        return self.getOrDefault(self.bootstrap)

    def setApproxQuantileRelativeError(self, value):
        return self._set(approxQuantileRelativeError=value)

    def getApproxQuantileRelativeError(self):
        return self.getOrDefault(self.approxQuantileRelativeError)

    def setAnomalyScoreCol(self, value):
        return self._set(anomalyScoreCol=value)

    def getAnomalyScoreCol(self):
        return self.getOrDefault(self.anomalyScoreCol)

    def setLabelCol(self, value):
        return self._set(labelCol=value)

    def getLabelCol(self):
        return self.getOrDefault(self.labelCol)
