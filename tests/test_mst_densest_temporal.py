"""Round-4 additions: operators.mst, operators.densest,
events.temporal_reachability."""

from __future__ import annotations

import hashlib

import numpy as np
import pytest
from pyspark.sql import functions as F

from simkit_spark import util
from simkit_spark.functions import events
from simkit_spark.functions.events import temporal_reachability
from simkit_spark.operators.densest import densest_subgraph_rounds
from simkit_spark.operators.mst import (
    minimum_spanning_forest,
    single_linkage_labels,
)


# ----------------------------------------------------------------- mst
def test_mst_hand_checked(spark):
    # triangle 0-1-2 with a pendant 3: MST drops the heaviest triangle
    # edge
    e = spark.createDataFrame(
        [(0, 1, 1.0), (1, 2, 2.0), (0, 2, 3.0), (2, 3, 5.0)],
        "src long, dst long, weight double",
    )
    got = sorted(
        (r["u"], r["v"], r["weight"])
        for r in minimum_spanning_forest(e).collect()
    )
    assert got == [(0, 1, 1.0), (1, 2, 2.0), (2, 3, 5.0)]


def test_mst_tie_break_total_order(spark):
    # all weights equal: the unique MSF under (w, u, v) order is the
    # lexicographically-first spanning set Kruskal picks
    e = spark.createDataFrame(
        [(0, 1, 1.0), (1, 2, 1.0), (0, 2, 1.0)],
        "src long, dst long, weight double",
    )
    got = sorted(
        (r["u"], r["v"]) for r in minimum_spanning_forest(e).collect()
    )
    assert got == [(0, 1), (0, 2)]


def test_mst_local_distributed_parity(spark, force_distributed):
    n = 70
    edges = []
    for i in range(n):
        for j in (1, 7):
            d = (i * j + 3) % n
            if d != i:
                h = int(
                    hashlib.md5(f"w{i}:{d}".encode()).hexdigest()[:6], 16
                )
                edges.append((i, d, (h % 1000) / 100.0))
    e = spark.createDataFrame(edges, "src long, dst long, weight double")
    loc = sorted(tuple(r) for r in minimum_spanning_forest(e).collect())
    with force_distributed():
        dist = sorted(tuple(r) for r in minimum_spanning_forest(e).collect())
    assert loc == dist
    # spanning forest of a connected graph: n-1 edges
    assert len(loc) == n - 1


def test_mst_parallel_edges_and_empty(spark):
    e = spark.createDataFrame(
        [(0, 1, 5.0), (1, 0, 2.0), (1, 2, 1.0)],
        "src long, dst long, weight double",
    )
    got = sorted(
        (r["u"], r["v"], r["weight"])
        for r in minimum_spanning_forest(e).collect()
    )
    assert got == [(0, 1, 2.0), (1, 2, 1.0)]  # parallel edge keeps min w
    empty = minimum_spanning_forest(
        spark.createDataFrame([], "src long, dst long, weight double")
    )
    assert empty.count() == 0 and empty.columns == ["u", "v", "weight"]


def test_single_linkage_cut(spark):
    # two tight pairs bridged by one heavy edge: k=2 cuts the bridge
    e = spark.createDataFrame(
        [(0, 1, 1.0), (2, 3, 1.0), (1, 2, 9.0)],
        "src long, dst long, weight double",
    )
    got = {
        r["id"]: r["component"]
        for r in single_linkage_labels(e, k=2).collect()
    }
    assert got == {0: 0, 1: 0, 2: 2, 3: 2}
    one = {
        r["component"] for r in single_linkage_labels(e, k=1).collect()
    }
    assert one == {0}
    with pytest.raises(ValueError):
        single_linkage_labels(e, k=0)


# ------------------------------------------------------------- densest
def test_densest_peel_trajectory(spark):
    # a 5-clique (density 2.0) plus a long path: peeling strips the
    # path first; the max-density round contains the clique
    edges = [(i, j) for i in range(5) for j in range(i + 1, 5)]
    edges += [(i, i + 1) for i in range(10, 30)]
    edges += [(4, 10)]
    e = spark.createDataFrame(edges, "src long, dst long")
    rounds = densest_subgraph_rounds(e).orderBy("round").collect()
    # second input: a reversed repeat of (4, 10) and a self-loop change nothing
    noisy = spark.createDataFrame(edges + [(10, 4), (50, 50)], "src long, dst long")
    assert densest_subgraph_rounds(noisy).orderBy("round").collect() == rounds
    assert rounds[0]["round"] == 1
    best = max(r["density"] for r in rounds)
    assert best == 2.0  # the clique round: 10 edges / 5 nodes
    # trajectory ends: final round is the last non-empty survivor set
    assert all(r["n_edges"] > 0 for r in rounds)


def test_densest_clique_only_two_rounds(spark):
    # on a pure k-clique every degree equals 2*density*(k/(k-1)) > 3m/n
    # is FALSE (d*n = (k-1)k <= 3*C(k,2) = 1.5k(k-1)) -> all peel in
    # round 1; trajectory has exactly one row
    edges = [(i, j) for i in range(6) for j in range(i + 1, 6)]
    e = spark.createDataFrame(edges, "src long, dst long")
    rounds = densest_subgraph_rounds(e).collect()
    assert len(rounds) == 1
    assert rounds[0]["n_nodes"] == 6 and rounds[0]["n_edges"] == 15
    assert rounds[0]["density"] == 2.5


def test_densest_empty(spark):
    e = spark.createDataFrame([], "src long, dst long")
    assert densest_subgraph_rounds(e).count() == 0


# ------------------------------------------------- temporal reachability
# Every hand-checked case runs on both paths: the driver pass (these
# tables are far under the dispatch threshold) and the distributed
# sweeps, forced by a dispatch threshold below any row count.
def _contacts(spark, rows):
    return spark.createDataFrame(rows, "src long, dst long, t long")


def _arrivals(df):
    return {r["id"]: r["arrival"] for r in df.collect()}


def _reach_both(c, seeds):
    local = _arrivals(temporal_reachability(c, seeds=seeds))
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(util, "local_dispatch_rows", lambda *a, **k: -1)
        dist = _arrivals(temporal_reachability(c, seeds=seeds))
    return {"local": local, "distributed": dist}


def _on_both(want):
    return {"local": want, "distributed": want}


def test_temporal_respects_causality(spark):
    # 0 -(t=10)-> 1 -(t=5)-> 2: the 1->2 contact fired BEFORE 1 was
    # reached, so 2 is NOT reachable; static BFS would say it is
    c = _contacts(spark, [(0, 1, 10), (1, 2, 5)])
    assert _reach_both(c, [0]) == _on_both({0: 0, 1: 10})


def test_temporal_earliest_arrival(spark):
    # two routes to 3: direct late (t=100) vs two-hop early (20 -> 30)
    c = _contacts(
        spark, [(0, 3, 100), (0, 1, 20), (1, 3, 30), (0, 2, 50)]
    )
    assert _reach_both(c, [0]) == _on_both({0: 0, 1: 20, 2: 50, 3: 30})


def test_temporal_equal_time_hop_allowed(spark):
    # same-timestamp chaining is allowed (t >= arrival)
    c = _contacts(spark, [(0, 1, 7), (1, 2, 7)])
    assert _reach_both(c, [0]) == _on_both({0: 0, 1: 7, 2: 7})


def test_temporal_multi_seed_and_validation(spark):
    c = _contacts(spark, [(0, 1, 5), (9, 1, 3)])
    assert _reach_both(c, [0, 9]) == _on_both({0: 0, 9: 0, 1: 3})
    with pytest.raises(ValueError):
        temporal_reachability(c, seeds=[])


@pytest.mark.parametrize("id_type", ["long", "string"])
def test_temporal_local_matches_sweeps_random(spark, id_type):
    # few distinct times over a small dense graph: long equal-time
    # chains (listed in reverse so one scan in list order can't follow
    # them), cycles, contacts at t = 0, a seed with no contacts (99) and
    # nodes no seed reaches (30..34 only ever contact each other)
    rng = np.random.default_rng(5)
    rows = [
        (int(u), int(v), int(t))
        for u, v, t in zip(
            rng.integers(0, 30, 150), rng.integers(0, 30, 150), rng.integers(0, 6, 150)
        )
        if u != v
    ]
    rows += [(k + 1, k, 4) for k in range(20, 0, -1)]
    rows += [(30 + k, 30 + (k + 1) % 5, 0) for k in range(5)]
    conv = str if id_type == "string" else int
    rows = [(conv(u), conv(v), t) for u, v, t in rows]
    seeds = [conv(0), conv(99)]
    c = spark.createDataFrame(rows, f"src {id_type}, dst {id_type}, t long")
    local = _arrivals(temporal_reachability(c, seeds=seeds))
    ref = _arrivals(events._temporal_sweeps(c, seeds, max_sweeps=100))
    assert local == ref
    assert local[conv(99)] == 0 and conv(30) not in local
    # the case exercises same-time chaining past the first hop
    assert any(
        u != conv(0) and local.get(u) == local.get(v) == t for u, v, t in rows
    )
