from __future__ import annotations

from simkit_spark.operators.components import connected_components


def test_two_components(spark, force_distributed):
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (5, 6), (6, 7), (7, 5)], "src long, dst long"
    )
    with force_distributed():
        labels = {r["id"]: r["component"] for r in connected_components(edges).collect()}
    assert labels == {0: 0, 1: 0, 2: 0, 5: 5, 6: 5, 7: 5}


def test_chain_converges(spark, force_distributed):
    # a long path stresses the propagation loop
    n = 40
    edges = spark.createDataFrame([(i, i + 1) for i in range(n)], "src long, dst long")
    with force_distributed():
        labels = connected_components(edges, max_iter=n + 2).collect()
    assert {r["component"] for r in labels} == {0}


def test_chain_converges_in_log_rounds(spark, force_distributed):
    # pointer doubling: a 64-node path must resolve well under 64 rounds
    n = 64
    edges = spark.createDataFrame([(i, i + 1) for i in range(n)], "src long, dst long")
    with force_distributed():
        labels = connected_components(edges, max_iter=12).collect()
    assert {r["component"] for r in labels} == {0}


def test_isolated_nodes_kept(spark, force_distributed):
    edges = spark.createDataFrame([(0, 1)], "src long, dst long")
    nodes = spark.createDataFrame([(0,), (1,), (9,)], "id long")
    with force_distributed():
        labels = {r["id"]: r["component"] for r in connected_components(edges, nodes).collect()}
    assert labels == {0: 0, 1: 0, 9: 9}


def test_auto_empty_edges_each_node_own_component(spark):
    # zero edges (e.g. dbscan with no core points) must not hit the
    # empty-createDataFrame schema-inference error on the local path
    from simkit_spark.operators.components import connected_components

    edges = spark.createDataFrame([], "src long, dst long")
    nodes = spark.createDataFrame([(3,), (7,)], "id long")
    labels = {
        r["id"]: r["component"]
        for r in connected_components(edges, nodes).collect()
    }
    assert labels == {3: 3, 7: 7}


def test_auto_missing_endpoint_raises(spark):
    # ADVICE r2 #1: searchsorted must not silently mis-map an endpoint
    # missing from `nodes` — the contract violation stays loud
    import pytest

    from simkit_spark.operators.components import connected_components

    edges = spark.createDataFrame([(0, 99)], "src long, dst long")
    nodes = spark.createDataFrame([(0,), (1,)], "id long")
    with pytest.raises(KeyError, match="endpoint not in nodes"):
        connected_components(edges, nodes).collect()


def test_reliable_checkpoint_used_when_configured(spark, tmp_path, force_distributed):
    """With a reliable checkpoint dir set, iterative operators must use
    checkpoint() (fault-tolerant) instead of executor-resident
    localCheckpoint — one lost executor must not kill iteration 39."""
    import os

    from pyspark.sql import functions as F

    from simkit_spark.operators.components import connected_components

    ckdir = str(tmp_path / "reliable_ck")
    spark.sparkContext.setCheckpointDir(ckdir)
    try:
        edges = spark.createDataFrame(
            [(i, i + 1) for i in range(0, 200, 2)] + [(i, i + 2) for i in range(0, 100, 2)],
            "src long, dst long",
        )
        with force_distributed():
            comp = connected_components(edges, max_iter=20)
        assert comp.count() > 0
        # reliable checkpoint files actually landed on disk
        found = any(files for _, _, files in os.walk(ckdir))
        assert found, "no reliable checkpoint files written"
    finally:
        # clear the dir so later tests go back to localCheckpoint
        getattr(spark.sparkContext._jsc.sc(), "checkpointDir_$eq")(
            spark.sparkContext._jvm.scala.Option.empty()
        )


def test_auto_empty_nodes_raises_keyerror(spark):
    """An explicit EMPTY nodes DF with non-empty edges must raise the
    documented KeyError, not numpy IndexError (review r3 finding)."""
    import pytest

    from simkit_spark.operators.components import connected_components

    edges = spark.createDataFrame([(0, 99)], "src long, dst long")
    nodes = spark.createDataFrame([], "id long")
    with pytest.raises(KeyError, match="endpoint not in nodes"):
        connected_components(edges, nodes=nodes)


def test_auto_nodes_past_budget_go_distributed(spark, monkeypatch):
    """A node list past the row budget is not collected to the driver:
    edges that fit still run connected_components when nodes do not."""
    from simkit_spark.operators import components

    edges = spark.createDataFrame([(0, 1), (1, 2), (5, 6)], "src long, dst long")
    nodes = spark.createDataFrame([(i,) for i in range(10)], "id long")
    local = {
        r["id"]: r["component"]
        for r in components.connected_components(edges, nodes).collect()
    }
    assert local == {0: 0, 1: 0, 2: 0, 3: 3, 4: 4, 5: 5, 6: 5, 7: 7, 8: 8, 9: 9}
    calls = []
    real = components._components_dist

    def spy(*a, **k):
        calls.append(1)
        return real(*a, **k)

    monkeypatch.setattr(components, "_components_dist", spy)
    monkeypatch.setattr("simkit_spark.util.local_dispatch_rows", lambda *a, **k: 5)
    got = components.connected_components(edges, nodes)
    assert calls == [1]
    assert {r["id"]: r["component"] for r in got.collect()} == local
