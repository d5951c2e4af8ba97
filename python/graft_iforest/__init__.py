"""Python API for the graft library.

Mirrors the reference's Python surface
(reference: python/pyspark_iforest/ml/iforest.py:11-361) over the
``graft.iforest`` Scala classes via pyspark's Java wrapper machinery,
plus :mod:`graft_iforest.pipeline`, a generic Py4J dispatch to the
beyond-reference pipeline operators (dedup, near-dup clustering, splits,
ANN, the incremental stores) with named aliases for the common verbs.
"""

from graft_iforest.iforest import IForest, IForestModel, IForestSummary
from graft_iforest import pipeline

__all__ = ["IForest", "IForestModel", "IForestSummary", "pipeline"]
