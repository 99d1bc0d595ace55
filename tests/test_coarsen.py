"""Graph contraction by a matching (operators/coarsen.py)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from simkit_spark.operators.coarsen import coarsen_graph
from simkit_spark.operators.matching import maximal_matching


def _e(spark, rows, weighted=False):
    s = "src long, dst long" + (", weight double" if weighted else "")
    return spark.createDataFrame(rows, s)


def _m(spark, pairs):
    return spark.createDataFrame(pairs, "u long, v long")


def test_contracts_pairs_and_drops_internal_edges(spark):
    # pairs (1,2) and (3,4); edge 1-2 is internal (dropped), 2-3 maps
    # to (1,3), 4-5 maps to (3,5)
    edges = _e(spark, [(1, 2), (2, 3), (4, 5)])
    got = sorted(
        (r.u, r.v, r.n_merged)
        for r in coarsen_graph(edges, _m(spark, [(1, 2), (3, 4)])).collect()
    )
    assert got == [(1, 3, 1), (3, 5, 1)]


def test_parallel_edges_aggregate(spark):
    # both 1-3 and 2-4 map to (1,3) after pairs (1,2),(3,4): min weight
    # survives, multiplicity 2
    edges = _e(spark, [(1, 3, 0.7), (2, 4, 0.3)], weighted=True)
    got = coarsen_graph(
        edges, _m(spark, [(1, 2), (3, 4)]), weight_col="weight", agg="min"
    ).collect()
    assert [(r.u, r.v, r.weight, r.n_merged) for r in got] == [(1, 3, 0.3, 2)]
    got = coarsen_graph(
        edges, _m(spark, [(1, 2), (3, 4)]), weight_col="weight", agg="sum"
    ).collect()
    assert [(r.u, r.v, r.weight) for r in got] == [(1, 3, 1.0)]


def test_unmatched_vertices_pass_through(spark):
    edges = _e(spark, [(5, 6), (6, 7)])
    got = sorted(
        (r.u, r.v) for r in coarsen_graph(edges, _m(spark, [(1, 2)])).collect()
    )
    assert got == [(5, 6), (6, 7)]


def test_bad_agg_raises(spark):
    with pytest.raises(ValueError):
        coarsen_graph(
            _e(spark, [(1, 2, 1.0)], weighted=True),
            _m(spark, []),
            weight_col="weight",
            agg="avg",
        )


def test_multilevel_halving(spark, force_distributed):
    # a 32-cycle: a maximal matching matches >= 1/2 - ish of vertices;
    # after contraction the graph stays a connected cycle-like chain
    # and node count drops; iterate two levels and check monotone
    # shrink + connectivity invariant (every contracted graph of a
    # connected graph is connected: edge count >= nodes - 1)
    n = 32
    edges = _e(spark, [(i, (i + 1) % n) for i in range(n)])
    for _ in range(2):
        with force_distributed():
            matched = maximal_matching(edges, n_iter=10, seed=42).select("u", "v")
        nxt = coarsen_graph(edges, matched)
        nodes_before = (
            edges.selectExpr("src AS id")
            .union(edges.selectExpr("dst AS id"))
            .distinct()
            .count()
        )
        rows = nxt.collect()
        nodes_after = len({x for r in rows for x in (r.u, r.v)})
        assert nodes_after < nodes_before
        assert len(rows) >= nodes_after - 1  # still connected-capable
        edges = nxt.select(F.col("u").alias("src"), F.col("v").alias("dst"))
