"""harmonic_centrality: exact vs a brute-force BFS replica, sampled
sources are md5-deterministic, and output is partition-invariant."""

from __future__ import annotations

import hashlib
from collections import deque
from math import lcm

import pytest

from simkit_spark.operators.centrality import harmonic_centrality


def _bfs_dists(adj, src, max_hops):
    dist = {src: 0}
    q = deque([src])
    while q:
        u = q.popleft()
        if dist[u] >= max_hops:
            continue
        for v in adj.get(u, ()):
            if v not in dist:
                dist[v] = dist[u] + 1
                q.append(v)
    return dist


def _replica(edges, max_hops, sources):
    adj: dict[int, set[int]] = {}
    for s, d in edges:
        if s == d:
            continue
        adj.setdefault(s, set()).add(d)
        adj.setdefault(d, set()).add(s)
    scale = lcm(*range(1, max_hops + 1))
    acc: dict[int, list[int]] = {}
    for src in sources:
        for node, d in _bfs_dists(adj, src, max_hops).items():
            if d > 0:
                st = acc.setdefault(node, [0, 0])
                st[0] += 1
                st[1] += scale // d
    return {
        n: (c, round(num / scale, 6)) for n, (c, num) in acc.items()
    }


def test_harmonic_all_sources_matches_bfs(spark):
    edges = [(i, (i + 1) % 9) for i in range(9)] + [(0, 4), (2, 6), (20, 21)]
    adj_nodes = sorted({x for e in edges for x in e})
    want = _replica(edges, 3, adj_nodes)
    # second input: a repeated edge and a self-loop change nothing
    for inp in (edges, edges + [(2, 6), (30, 30)]):
        df = spark.createDataFrame(inp, "src long, dst long")
        got = {
            r["node_id"]: (r["n_reached"], r["harmonic"])
            for r in harmonic_centrality(df, max_hops=3).collect()
        }
        assert got == want
    # the (20, 21) island must not see the big component
    assert got[20] == (1, 1.0) and got[21] == (1, 1.0)


def test_harmonic_sampled_sources_deterministic(spark):
    edges = [(i, (i * 5 + 2) % 31) for i in range(31)]
    edges = [e for e in edges if e[0] != e[1]]
    df = spark.createDataFrame(edges, "src long, dst long")
    nodes = sorted({x for e in edges for x in e})
    ranked = sorted(
        nodes,
        key=lambda i: (
            int(hashlib.md5(f"42:{i}".encode()).hexdigest()[:8], 16),
            i,
        ),
    )
    want = _replica(edges, 4, ranked[:6])
    got = {
        r["node_id"]: (r["n_reached"], r["harmonic"])
        for r in harmonic_centrality(df, max_hops=4, n_sources=6).collect()
    }
    assert got == want
    again = {
        r["node_id"]: (r["n_reached"], r["harmonic"])
        for r in harmonic_centrality(
            df.repartition(7), max_hops=4, n_sources=6
        ).collect()
    }
    assert again == got


def test_harmonic_rejects_bad_hops(spark):
    df = spark.createDataFrame([(0, 1)], "src long, dst long")
    with pytest.raises(ValueError):
        harmonic_centrality(df, max_hops=0)


# ------------------------------------------------------ stress centrality
def test_stress_path_and_star(spark):
    from simkit_spark.operators.centrality import stress_centrality

    path = [(0, 1), (1, 2), (2, 3)]
    # second input: a reversed repeat of (1, 2) and a self-loop on a
    # node with no other edge change nothing
    for inp in (path, path + [(2, 1), (7, 7)]):
        e = spark.createDataFrame(inp, "src long, dst long")
        got = {
            r["id"]: r["stress"] for r in stress_centrality(e, max_hops=5).collect()
        }
        # ordered through-paths on the 4-path: middles carry 4 each
        assert got == {0: 0, 1: 4, 2: 4, 3: 0}
    star = spark.createDataFrame([(i, 9) for i in range(1, 5)], "src long, dst long")
    got = {r["id"]: r["stress"] for r in stress_centrality(star, max_hops=5).collect()}
    assert got[9] == 12 and all(got[i] == 0 for i in range(1, 5))


def test_stress_hop_bound_truncates(spark):
    from simkit_spark.operators.centrality import stress_centrality

    e = spark.createDataFrame([(0, 1), (1, 2), (2, 3)], "src long, dst long")
    got = {r["id"]: r["stress"] for r in stress_centrality(e, max_hops=2).collect()}
    # only length-2 paths survive the bound: 2 per middle node
    assert got == {0: 0, 1: 2, 2: 2, 3: 0}


def test_stress_multiplicity(spark):
    from simkit_spark.operators.centrality import stress_centrality

    # diamond 0-{1,2}-3: two shortest 0->3 paths, one through each middle
    e = spark.createDataFrame(
        [(0, 1), (0, 2), (1, 3), (2, 3)], "src long, dst long"
    )
    got = {r["id"]: r["stress"] for r in stress_centrality(e, max_hops=4).collect()}
    # each middle: 0->3 and 3->0 = 2; ends: 0 (1<->2 shortest is via 0 OR 3
    # — sigma 2 through two intermediates, 2 ordered pairs x 2 routes / ...)
    assert got[1] == got[2]
    assert got[1] >= 2 and got[0] == got[3]


def test_stress_source_sampling_and_validation(spark):
    import pytest as _pytest

    from simkit_spark.operators.centrality import stress_centrality

    e = spark.createDataFrame([(0, 1), (1, 2), (2, 3)], "src long, dst long")
    # single sampled source: stress counts only that source's paths
    one = {
        r["id"]: r["stress"]
        for r in stress_centrality(e, max_hops=5, n_sources=1).collect()
    }
    full = {
        r["id"]: r["stress"]
        for r in stress_centrality(e, max_hops=5).collect()
    }
    assert sum(one.values()) <= sum(full.values())
    with _pytest.raises(ValueError):
        stress_centrality(e, max_hops=0)


def test_stress_default_sources_bounded(spark):
    # the default must be a bounded sample, never silently n^2 state;
    # exact mode (None) is an explicit opt-in that warns loudly
    import inspect
    import warnings

    from simkit_spark.operators.centrality import stress_centrality as sc

    assert inspect.signature(sc).parameters["n_sources"].default == 64
    e = spark.createDataFrame([(0, 1), (1, 2)], "src long, dst long")
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        sc(e, max_hops=2, n_sources=None).collect()
    assert any(issubclass(x.category, ResourceWarning) for x in w)
