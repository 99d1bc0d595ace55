"""Driver-twin environment test: the correctness harness runs a vanilla
SparkSession with spark.sql.execution.arrow.pyspark.enabled=false (the
PySpark default). Every local *_auto fast path that hands a pandas frame
to createDataFrame must therefore contain only Python natives — numpy
scalars/arrays inside array<double> hard-error under row verification
(CORRECTNESS_r02: kmeans_clusters). This test replays the driver's
session shape so the failure mode is caught in pytest, not per-round."""

from __future__ import annotations

import sys

import pytest

sys.path.insert(0, "/root/repo")
import __spark_entry__ as entry_mod

SF = "/root/testdata/sf0.001"
# the kNN graph's 4-truss is empty at sf0.001, which would hand
# createDataFrame no rows to convert; sf0.01 has a 6-edge truss
SF_BY_NAME = {"ktruss_knn": "/root/testdata/sf0.01"}


@pytest.fixture()
def no_arrow(spark):
    key = "spark.sql.execution.arrow.pyspark.enabled"
    old = spark.conf.get(key)
    spark.conf.set(key, "false")
    yield spark
    spark.conf.set(key, old)


@pytest.mark.parametrize(
    "name",
    [
        "kmeans_clusters",
        "connected_components_eps",
        "spectral_embedding",
        "kg_triples",
        "pagerank_knn",
        # round-3c local createDataFrame paths: PPR numpy twin, LPA
        # numpy twin (via communities/modularity), BFS seed frame
        "kg_ppr",
        "communities_knn",
        "modularity_knn",
        "kg_khop",
        "sssp_knn",
        # round-4e walk twins: hashlib local path + tuple createDataFrame
        "random_walks_knn",
        "node2vec_walks_knn",
        "skipgram_pairs_knn",
        "hits_knn",
        # pandas frames with explicit schemas: the driver pass of
        # temporal reachability, the RDFS ontology tables, the local
        # transitive closure
        "events_temporal_reach",
        "kg_rdfs_entail",
        "kg_closure",
        # twins answering through util.size_dispatch's pandas frame
        "scc_knn",
        "kcore_knn",
        "mis_knn",
        "matching_knn",
        "ktruss_knn",
        "katz_knn",
        "weighted_pagerank_affinity",
        "mst_knn",
        "anf_knn",
        "kg_sameas",
        # the rule-mining twin's count table (null body2 cells)
        "kg_rules",
    ],
)
def test_local_fast_paths_without_arrow(no_arrow, name):
    # a cached entailed KG would skip the ontology-table conversion
    entry_mod._KG_ENT_CACHE.clear()
    df = entry_mod.queries()[name](no_arrow, SF_BY_NAME.get(name, SF))
    assert df.count() > 0
