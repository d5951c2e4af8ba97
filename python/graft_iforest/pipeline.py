"""pyspark access to the graft training-data pipeline operators.

Every verb of the Scala library is one :func:`call` away:
``call(spark, "queries.DedupIndex.absorb", data_dir, "")`` resolves
``graft.queries.DedupIndex.absorb`` on the driver JVM over Py4J and
invokes it with the session first. The whole query plans and executes in
the JVM; a returned Dataset comes back as a normal pyspark DataFrame over
the JVM result, so no rows move through Python. Py4J sees no Scala
default arguments, so a call passes every argument, in order.

The names below are fixed-argument shorthands for :func:`call`: one row
of ``_ALIASES`` each, named after the verb, taking ``(spark, data_dir,
...)``, with the library's defaults as their defaults. The Scala doc of
each target documents what it does. ``graft.PipelineBridge`` holds the few
verbs that compose several library calls, such as the named-query map
behind :func:`run_query`.

Queries that persist intermediates during their build (near-dup pairs,
clustering) register them with the library's cache registry; call
:func:`release_caches` after each query's terminal action in a long-lived
session, exactly as the Scala consumers (Bench/Verify) do.
"""

import ast
import inspect
import keyword

from py4j.java_collections import JavaArray
from py4j.java_gateway import JavaObject, JavaPackage, is_instance_of
from pyspark.sql import DataFrame


def _member(spark, target):
    member = spark._jvm.graft
    for part in target.split("."):
        member = getattr(member, part)
    if isinstance(member, JavaPackage):
        raise AttributeError(f"graft.{target} does not exist in the JVM")
    return member


def _to_java(spark, value):
    if isinstance(value, DataFrame):
        return value._jdf
    if isinstance(value, list):
        gateway = spark.sparkContext._gateway
        array = gateway.new_array(gateway.jvm.java.lang.String, len(value))
        for i, item in enumerate(value):
            array[i] = item
        return array
    return value


def _from_java(spark, value):
    if isinstance(value, JavaArray):
        return list(value)
    gateway = spark.sparkContext._gateway
    if isinstance(value, JavaObject) and is_instance_of(
            gateway, value, "org.apache.spark.sql.Dataset"):
        return DataFrame(value, spark)
    return value


def call(spark, target, *args):
    """Invoke ``graft.<target>`` (``"<package>.<Object>.<method>"``, or
    ``"<Object>.<method>"`` for the ``graft`` package itself) with the
    session first, then ``args``. A DataFrame argument passes as its JVM
    peer and a list of str as a Java ``String[]``; a Dataset result comes
    back as a DataFrame and a Java array as a list."""
    result = _member(spark, target)(
        spark._jsparkSession, *(_to_java(spark, a) for a in args))
    return _from_java(spark, result)


def run_query(spark, name, data_dir):
    """Run any named query from the library's query surface (see
    :func:`query_names`) against the parquet tables under ``data_dir``."""
    return call(spark, "PipelineBridge.query", data_dir, name)


def query_names(spark):
    """All query names :func:`run_query` accepts."""
    return sorted(_member(spark, "PipelineBridge.queryNames")())


def release_caches(spark):
    """Unpersist every cache a query build registered (the consumer side
    of the library's cache protocol) — call after each terminal action."""
    _member(spark, "queries.Caches.releaseAll")()


def scrub(spark, data_dir, categories):
    """Parameterized PII/pattern redaction over the documents table.

    ``categories`` is an ordered list of ``(name, java_regex,
    replacement)`` triples, applied in order (each category's matches are
    counted on the text as it stands when that pass runs). Returns one
    row per doc with per-category ``n_<name>`` counts, a ``residual_pii``
    re-scan across all patterns, and the ``clean_text``.
    """
    return call(spark, "PipelineBridge.scrub", data_dir,
                [c[0] for c in categories], [c[1] for c in categories],
                [c[2] for c in categories])


# alias -> (target, the arguments after data_dir). In the argument
# string a bare name is a required parameter, ``name=default`` an optional
# one, and any other token a literal passed as is: the Scala default the
# call must spell out, such as a store's ``variant = ""``.
_ALIASES = {
    # named queries, dedup one-shots + mix shaping
    "exact_dedup": ("PipelineBridge.query", "'q20_exact_dedup'"),
    "dedup_clusters": ("PipelineBridge.query", "'q66_dedup_clusters'"),
    "split_assign": ("PipelineBridge.query", "'q65_split_assign'"),
    "mix_pipeline": ("queries.TextPipeline.mixPipeline",
                     "min_quality_e4=6100 rep_threshold=0.10 cap_k=5"),
    "weighted_take": ("queries.TextPipeline.weightedTake",
                      "total_budget=15000"),
    "mix_take": ("queries.TextPipeline.mixTake",
                 "min_quality_e4=6100 rep_threshold=0.10 cap_k=5 "
                 "total_budget=15000"),
    # ANN: live and persisted tiers (method in lsh, ivf, pq, ivfpq)
    "ann_topk_lsh": ("PipelineBridge.annTopK", "'lsh' num_probes=5 k=5"),
    "ann_topk_pq": ("PipelineBridge.annTopK", "'pq' num_probes=5 k=5"),
    "build_ann_index": ("similarity.AnnIndex.build",
                        "index_path method='lsh'"),
    "append_ann_index": ("similarity.AnnIndex.append",
                         "index_path method='lsh'"),
    "ann_index_current": ("similarity.AnnIndex.isCurrent", "index_path"),
    "persisted_topk_lsh": ("SparkEntry.annPersistedTopK",
                           "index_path 'lsh' num_probes=5 k=5"),
    "persisted_topk_ivf": ("SparkEntry.annPersistedTopK",
                           "index_path 'ivf' num_probes=5 k=5"),
    "persisted_topk_pq": ("SparkEntry.annPersistedTopK",
                          "index_path 'pq' num_probes=5 k=5"),
    # incremental dedup store
    "build_dedup_index": ("queries.DedupIndex.build", "''"),
    "build_dedup_index_if_stale": ("queries.DedupIndex.buildIfStale", "''"),
    "dedup_index_current": ("queries.DedupIndex.isCurrent", "''"),
    "dedup_delta_verdicts": ("queries.DedupIndex.deltaVerdicts", ""),
    "dedup_stream_delta_verdicts": ("queries.DedupIndex.streamDeltaVerdicts",
                                    ""),
    "absorb_dedup_delta": ("queries.DedupIndex.absorb", "''"),
    # stats store, its epoch-tagged time travel, distinct-count store
    "build_stats_store_if_stale": ("queries.StatsStore.buildIfStale", "''"),
    "stats_store_current": ("queries.StatsStore.isCurrent", "''"),
    "merged_stats": ("queries.StatsStore.mergedStats", ""),
    "stats_as_of": ("PipelineBridge.statsAsOf", "epoch"),
    "stats_changes": ("PipelineBridge.statsChanges", "from_epoch to_epoch"),
    "build_distinct_store_if_stale": ("queries.StatsStore.buildLcIfStale", ""),
    "absorb_distinct_delta": ("queries.StatsStore.absorbLc", ""),
    "distinct_occupancy": ("queries.StatsStore.lcOccupancy", ""),
    # transactional cross-store commits
    "tx_reset": ("queries.StoreTxn.reset", ""),
    "tx_ensure_bases": ("queries.StoreTxn.ensureBases", ""),
    "tx_absorb_delta": ("PipelineBridge.txAbsorbDelta", ""),
    "tx_keeper_ids": ("queries.StoreTxn.keeperIdsTx", ""),
    "tx_stored_stats": ("queries.StoreTxn.storedStatsTx", ""),
    "tx_vocab_coverage": ("queries.StoreTxn.vocabCoverageTx", ""),
    "tx_vacuum": ("PipelineBridge.txVacuum", ""),
    "tx_ensure_ingest_bases": ("queries.StoreTxn.ensureIngestBases", ""),
    "tx_absorb_ingest": ("PipelineBridge.txAbsorbIngest", ""),
    "tx_merged_edges": ("queries.StoreTxn.mergedEdgesTx", ""),
    "tx_judge_embed_batch2": ("PipelineBridge.txJudgeEmbedBatch2", ""),
    # graph-edge store
    "build_graph_store_if_stale": ("queries.GraphStore.buildIfStale", "''"),
    "absorb_graph_delta": ("queries.GraphStore.absorb", ""),
    "graph_store_edges": ("queries.GraphStore.mergedEdges", ""),
    "pagerank": ("queries.Graph.pagerank", ""),
    # vocabulary store
    "build_vocab_store_if_stale": ("queries.VocabStore.buildIfStale", "''"),
    "absorb_vocab_delta": ("queries.VocabStore.absorb", ""),
    "vocab_coverage": ("queries.VocabStore.coverage", ""),
    "vocab_words": ("queries.VocabStore.vocabWords", "'' k=24"),
    "vocab_oov_rates": ("queries.VocabStore.oovRates", "''"),
    "compact_vocab_store": ("queries.VocabStore.compact", "''"),
    # embedding-dedup store
    "build_embed_index_if_stale": ("queries.EmbedIndex.buildIfStale", "''"),
    "embed_batch1": ("queries.EmbedIndex.batch1Vecs", ""),
    "embed_batch2": ("queries.EmbedIndex.batch2Vecs", ""),
    "embed_judge": ("queries.EmbedIndex.judgeVecs", "batch_df ''"),
    "absorb_embed_batch": ("queries.EmbedIndex.absorbVecs", "batch_df ''"),
    "compact_embed_index": ("queries.EmbedIndex.compact", "''"),
    # inverted-index search store
    "build_search_store_if_stale": ("queries.SearchStore.buildIfStale",
                                    "''"),
    "absorb_search_delta": ("queries.SearchStore.absorb", "''"),
    "search_bm25": ("queries.SearchStore.bm25", "''"),
    "search_phrase": ("queries.SearchStore.phrase", "a='merge' b='window'"),
    "proximity_search": ("queries.SearchStore.proximityBm25", "''"),
    "compact_search_store": ("queries.SearchStore.compact", "''"),
    "tx_ensure_search_base": ("queries.StoreTxn.ensureSearchBase", ""),
    "tx_absorb_search": ("PipelineBridge.txAbsorbSearch", "tranche_pred"),
    "tx_search_bm25": ("queries.StoreTxn.bm25Tx", ""),
    # zone-map data-skipping store and the transactional table
    "build_zonemap_store_if_stale": ("queries.ZoneMapStore.buildIfStale",
                                     "''"),
    "absorb_zonemap_delta": ("queries.ZoneMapStore.absorb", ""),
    "zonemap_range_aggregate": ("queries.ZoneMapStore.rangeAggregate", ""),
    "recluster_zonemap": ("queries.ZoneMapStore.recluster", ""),
    "tx_ensure_zone_base": ("queries.StoreTxn.ensureZoneBase", ""),
    "tx_absorb_table_append": ("PipelineBridge.txAbsorbTableAppend",
                               "tranche_pred"),
    "tx_absorb_table_delete": ("queries.StoreTxn.absorbTableDelete", "pred"),
    "tx_absorb_table_replace": ("PipelineBridge.txAbsorbTableReplace",
                                "tranche_pred"),
    "tx_table_range_aggregate": ("queries.StoreTxn.tableRangeAggregateTx",
                                 ""),
    "tx_table_range_aggregate_as_of": (
        "queries.StoreTxn.tableRangeAggregateTxAsOf", "max_txn"),
    "tx_vacuum_table": ("PipelineBridge.txVacuumTable", ""),
    # data-governance audits
    "audit_expectations": ("queries.Audit.expectations", ""),
    "audit_k_anonymity": ("queries.Audit.kAnonymity", "k=6"),
    "audit_fk": ("queries.Audit.fkAudit", ""),
    # verified-ML family
    "ml_kmeans": ("queries.Clustering.kmeans", ""),
    "ml_perceptron": ("queries.Clustering.perceptron", ""),
    "ml_knn_classify": ("queries.Clustering.knnClassify", ""),
    "ml_dbscan": ("queries.Clustering.dbscan", ""),
    "ml_knn_ann": ("queries.Clustering.knnAnnClassify", ""),
    "ml_ann_recall": ("queries.Clustering.annRecallAudit", ""),
    "ml_ivf_recall": ("queries.Clustering.ivfRecallAudit", ""),
    "ml_pq_recall": ("queries.Clustering.pqRecallAudit", ""),
    "ml_ivfpq_recall": ("queries.Clustering.ivfPqRecallAudit", ""),
    "ml_sem_dedup": ("queries.Clustering.semDedup", ""),
    "ml_proto_prune": ("queries.Clustering.prototypePrune", ""),
    # cluster-profile store
    "build_cluster_store_if_stale": ("queries.ClusterStore.buildIfStale",
                                     "''"),
    "absorb_cluster_delta": ("queries.ClusterStore.absorb", "''"),
    "cluster_profile": ("queries.ClusterStore.profile", "''"),
    "cluster_drift": ("queries.ClusterStore.drift", "''"),
    "compact_cluster_store": ("queries.ClusterStore.compact", "''"),
}


def _alias(name, target, arguments):
    """The function behind one ``_ALIASES`` row."""
    kind = inspect.Parameter.POSITIONAL_OR_KEYWORD
    slots = []
    for token in arguments.split():
        param, eq, default = token.partition("=")
        if eq:
            slots.append(inspect.Parameter(
                param, kind, default=ast.literal_eval(default)))
        elif token.isidentifier() and not keyword.iskeyword(token):
            slots.append(inspect.Parameter(token, kind))
        else:
            slots.append(ast.literal_eval(token))
    params = [s for s in slots if isinstance(s, inspect.Parameter)]
    signature = inspect.Signature(
        [inspect.Parameter("spark", kind), inspect.Parameter("data_dir", kind)]
        + params)

    def alias(*args, **kwargs):
        bound = signature.bind(*args, **kwargs)
        bound.apply_defaults()
        values = bound.arguments
        scala_args = []
        for slot in slots:
            if not isinstance(slot, inspect.Parameter):
                scala_args.append(slot)
            elif isinstance(slot.default, float):
                # a Scala Double: Py4J will not widen a Python int to it
                scala_args.append(float(values[slot.name]))
            else:
                scala_args.append(values[slot.name])
        return call(values["spark"], target, values["data_dir"], *scala_args)

    alias.__name__ = alias.__qualname__ = name
    alias.__signature__ = signature
    alias.__doc__ = f"Shorthand for ``call(spark, {target!r}, ...)``."
    return alias


globals().update(
    {name: _alias(name, *row) for name, row in _ALIASES.items()})

__all__ = ["call", "run_query", "query_names", "release_caches", "scrub",
           *_ALIASES]
