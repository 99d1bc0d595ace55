"""wl_colors: exact parity with a pure-python 1-WL replica, structural
discrimination, regular-graph collapse; sample_neighborhoods: exact
parity with a pure-python replica, fanout bounds, determinism."""

from __future__ import annotations

import hashlib

import pytest

from simkit_spark.operators.gnnsample import sample_neighborhoods
from simkit_spark.operators.wl import wl_colors


def _adj(edges):
    adj: dict[int, set[int]] = {}
    for s, d in edges:
        if s == d:
            continue
        adj.setdefault(s, set()).add(d)
        adj.setdefault(d, set()).add(s)
    return adj


def _wl_replica(edges, iters):
    adj = _adj(edges)
    color = {n: str(len(adj[n])) for n in adj}
    for _ in range(iters):
        color = {
            n: hashlib.md5(
                (color[n] + "|" + ",".join(sorted(color[m] for m in adj[n]))).encode()
            ).hexdigest()[:16]
            for n in adj
        }
    return color


def _h8(seed, root, hop, parent, nb):
    return int(
        hashlib.md5(f"{seed}:{root}:{hop}:{parent}:{nb}".encode()).hexdigest()[:8], 16
    )


def _sage_replica(edges, fanouts, seed):
    adj = _adj(edges)
    rows = set()
    for root in adj:
        rows.add((root, 0, root, root))
        frontier = {root}
        for h, fanout in enumerate(fanouts, start=1):
            nxt = set()
            for parent in sorted(frontier):
                picked = sorted(
                    adj[parent], key=lambda b: (_h8(seed, root, h, parent, b), b)
                )[:fanout]
                for b in picked:
                    rows.add((root, h, parent, b))
                    nxt.add(b)
            frontier = nxt
    return rows


def test_wl_matches_replica_and_discriminates(spark):
    # a path P5 glued to a triangle: degrees repeat but structure differs
    edges = [(0, 1), (1, 2), (2, 3), (3, 4), (4, 5), (5, 3)]
    # second input: a reversed repeat of (0, 1) and a self-loop change nothing
    for inp in (edges, edges + [(1, 0), (9, 9)]):
        df = spark.createDataFrame(inp, "src long, dst long")
        got = {r["node_id"]: r["wl_color"] for r in wl_colors(df, iters=2).collect()}
        assert got == _wl_replica(edges, 2)
    # triangle members 4 and 5 are symmetric -> same color; path end 0 differs
    assert got[4] == got[5] and got[0] != got[4]


def test_wl_regular_graph_collapses_and_partition_invariant(spark):
    # C8: vertex-transitive -> ONE color at any depth
    edges = [(i, (i + 1) % 8) for i in range(8)]
    df = spark.createDataFrame(edges, "src long, dst long")
    out = wl_colors(df, iters=3).collect()
    assert len({r["wl_color"] for r in out}) == 1 and len(out) == 8
    a = sorted(map(tuple, out))
    b = sorted(map(tuple, wl_colors(df.repartition(5), iters=3).collect()))
    assert a == b
    with pytest.raises(ValueError):
        wl_colors(df, iters=0)


def test_gnn_sample_matches_replica(spark):
    edges = [(i, (i * 7 + 3) % 29) for i in range(29)] + [
        (i, (i + 11) % 29) for i in range(29)
    ]
    edges = [e for e in edges if e[0] != e[1]]
    # second input: a repeated edge and a self-loop change nothing
    for inp in (edges, edges + [edges[0], (40, 40)]):
        df = spark.createDataFrame(inp, "src long, dst long")
        got = {
            (r["root"], r["hop"], r["parent"], r["node_id"])
            for r in sample_neighborhoods(df, [3, 2], seed=42).collect()
        }
        assert got == _sage_replica(edges, [3, 2], 42)


def test_gnn_sample_fanout_bounds_and_determinism(spark):
    edges = [(a, b) for a in range(9) for b in range(a + 1, 9)]  # K9
    df = spark.createDataFrame(edges, "src long, dst long")
    out = sample_neighborhoods(df, [2, 3], seed=1).collect()
    per_parent: dict[tuple, int] = {}
    for r in out:
        if r["hop"] > 0:
            k = (r["root"], r["hop"], r["parent"])
            per_parent[k] = per_parent.get(k, 0) + 1
    assert all(
        n <= (2 if k[1] == 1 else 3) for k, n in per_parent.items()
    ), per_parent
    again = sample_neighborhoods(df.repartition(7), [2, 3], seed=1).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))
    other = sample_neighborhoods(df, [2, 3], seed=2).collect()
    assert sorted(map(tuple, out)) != sorted(map(tuple, other))
    with pytest.raises(ValueError):
        sample_neighborhoods(df, [])
