"""HITS hubs/authorities: exact-integer sweep contract vs a dict/loop
python twin (order-independent by construction), plus structural
properties on hand graphs."""

from __future__ import annotations

import math

import pytest

from simkit_spark.operators.hits import HITS_ITER_DP, hits


def _py_hits(edges, n_iter=5, dp=HITS_ITER_DP):
    """Loop twin of the operator's exact-integer contract: int score
    numerators at scale 10**dp, exact integer sums, fixed-order float
    normalization — EXACTLY the operator's fixed point."""
    edges = sorted(set(edges))
    nodes = sorted({s for s, _ in edges} | {t for _, t in edges})
    scale = 10**dp
    h = {v: scale for v in nodes}
    a = {}

    def norm(raw):
        t = sum(raw.values())
        return {
            v: math.floor(float(raw.get(v, 0)) / float(t) * float(scale) + 0.5)
            for v in nodes
        }

    for _ in range(n_iter):
        a_raw = {}
        for s, t in edges:
            a_raw[t] = a_raw.get(t, 0) + h[s]
        a = norm(a_raw)
        h_raw = {}
        for s, t in edges:
            h_raw[s] = h_raw.get(s, 0) + a[t]
        h = norm(h_raw)
    inv = 1.0 / float(scale)
    return {v: (h[v] * inv, a[v] * inv) for v in nodes}


def test_hits_matches_python_twin_bitwise(spark, force_distributed):
    # a graph with distinct hub/authority structure: s0..s3 all point
    # at t0 (strong authority), s0 also points at t1/t2 (strong hub),
    # plus a back-edge and a self-loop
    edges = [
        ("s0", "t0"), ("s1", "t0"), ("s2", "t0"), ("s3", "t0"),
        ("s0", "t1"), ("s0", "t2"), ("t1", "s1"), ("t2", "t2"),
    ]
    e = spark.createDataFrame(edges, "src string, dst string")
    with force_distributed():
        got = {r.id: (r.hub, r.authority) for r in hits(e, n_iter=5).collect()}
    want = _py_hits(edges, n_iter=5)
    assert set(got) == set(want)
    for v in want:
        # bit-identical: same ints, same final multiply
        assert got[v] == want[v], (v, got[v], want[v])


def test_hits_structure_and_l1_mass(spark, force_distributed):
    edges = [("h1", "x"), ("h1", "y"), ("h1", "z"), ("h2", "x"), ("w", "h2")]
    e = spark.createDataFrame(edges, "src string, dst string")
    with force_distributed():
        rows = {r.id: r for r in hits(e, n_iter=8).collect()}
    # h1 points at 3 authorities incl. the strongest -> top hub
    assert rows["h1"].hub == max(r.hub for r in rows.values())
    # x has the most/best in-links -> top authority
    assert rows["x"].authority == max(r.authority for r in rows.values())
    # pure sink nodes have hub 0; pure sources have authority 0
    assert rows["x"].hub == 0.0 and rows["y"].hub == 0.0
    assert rows["w"].authority == 0.0
    # L1-normalized: each family sums to ~1 (floor leaks < n ulps)
    n = len(rows)
    assert abs(sum(r.hub for r in rows.values()) - 1.0) < n * 10**-HITS_ITER_DP + 1e-12
    assert (
        abs(sum(r.authority for r in rows.values()) - 1.0)
        < n * 10**-HITS_ITER_DP + 1e-12
    )


def test_hits_parallel_edges_collapse_and_empty(spark, force_distributed):
    dup = spark.createDataFrame(
        [("a", "b"), ("a", "b"), ("c", "b")], "src string, dst string"
    )
    simple = spark.createDataFrame(
        [("a", "b"), ("c", "b")], "src string, dst string"
    )
    with force_distributed():
        assert sorted(map(tuple, hits(dup, 3).collect())) == sorted(
            map(tuple, hits(simple, 3).collect())
        )
    empty = spark.createDataFrame([], "src string, dst string")
    with force_distributed():
        assert hits(empty, 3).count() == 0
    with pytest.raises(ValueError, match="n_iter"):
        with force_distributed():
            hits(simple, 0)


def test_hits_auto_local_distributed_parity(spark, force_distributed):
    """Exact-integer L1 sweeps: the numpy twin must equal the
    distributed dual-layout loop bit-for-bit, hubs and chains."""
    import random

    from simkit_spark.operators.hits import hits

    rng = random.Random(13)
    edges = [(rng.randrange(30), rng.randrange(30)) for _ in range(100)]
    edges += [(i, i + 1) for i in range(30, 42)]
    df = spark.createDataFrame(edges, "src long, dst long").where("src <> dst")
    for it in (1, 3, 5):
        with force_distributed():
            a = {r["id"]: (r["hub"], r["authority"]) for r in hits(df, n_iter=it).collect()}
        b = {
            r["id"]: (r["hub"], r["authority"])
            for r in hits(df, n_iter=it).collect()
        }
        assert a == b, it


def test_hits_auto_string_id_parity(spark, force_distributed):
    import random

    from simkit_spark.operators.hits import hits

    rng = random.Random(14)
    edges = [
        (f"ent:{rng.randrange(20)}", f"ent:{rng.randrange(20)}") for _ in range(60)
    ]
    df = spark.createDataFrame(edges, "src string, dst string").where("src <> dst")
    with force_distributed():
        a = {r["id"]: (r["hub"], r["authority"]) for r in hits(df, n_iter=4).collect()}
    b = {r["id"]: (r["hub"], r["authority"]) for r in hits(df, n_iter=4).collect()}
    assert a == b and len(a) > 0


def test_hits_auto_empty_and_forced_distributed(spark, force_distributed):
    from simkit_spark.operators.hits import hits

    empty = spark.createDataFrame([], "src string, dst string")
    out = hits(empty, n_iter=3)
    assert out.count() == 0
    assert out.schema["id"].dataType == empty.schema["src"].dataType
    df = spark.createDataFrame([(0, 1), (1, 2), (2, 0)], "src long, dst long")
    with force_distributed():
        a = sorted(map(tuple, hits(df, 3).collect()))
    b = sorted(map(tuple, hits(df, 3).collect()))
    assert a == b
