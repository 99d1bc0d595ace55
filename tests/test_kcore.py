"""kcore: known-graph peeling, chain peeling across
sweeps, distributed-vs-local parity, partition invariance."""

from __future__ import annotations

from simkit_spark.operators.kcore import kcore


def _run(spark, edges, k, n_iter=10):
    df = spark.createDataFrame(edges, "src long, dst long")
    return {r["id"]: r["core_deg"] for r in kcore(df, k, n_iter).collect()}


def test_clique_survives_pendant_peels(spark, force_distributed):
    """K4 plus a pendant node: 3-core = the K4; the pendant (deg 1)
    and its anchor's extra edge peel away."""
    with force_distributed():
        k4 = [(a, b) for a in range(4) for b in range(a + 1, 4)]
        out = _run(spark, k4 + [(3, 9)], k=3)
        assert out == {0: 3, 1: 3, 2: 3, 3: 3}


def test_path_fully_peels(spark, force_distributed):
    """A path has no 2-core: every sweep exposes fresh endpoints until
    nothing is left (needs multiple sweeps — exercises the loop)."""
    with force_distributed():
        path = [(i, i + 1) for i in range(8)]
        assert _run(spark, path, k=2) == {}


def test_cycle_is_its_own_2core(spark, force_distributed):
    with force_distributed():
        cyc = [(i, (i + 1) % 6) for i in range(6)]
        assert _run(spark, cyc, k=2) == {i: 2 for i in range(6)}


def test_chain_of_triangles_partial_peel(spark, force_distributed):
    """Two triangles joined by a 3-edge path: the 2-core keeps the
    triangles AND the path between them? No — the path's interior
    nodes keep degree 2 only while both neighbors survive; since the
    path terminates INTO the triangles (degree-2 anchors), the whole
    figure-eight-with-bar is a 2-core. k=3 peels everything."""
    with force_distributed():
        t1 = [(0, 1), (1, 2), (0, 2)]
        t2 = [(10, 11), (11, 12), (10, 12)]
        bar = [(2, 5), (5, 6), (6, 10)]
        out2 = _run(spark, t1 + t2 + bar, k=2)
        assert set(out2) == {0, 1, 2, 5, 6, 10, 11, 12}
        assert _run(spark, t1 + t2 + bar, k=3) == {}


def test_duplicate_and_selfloop_edges_ignored(spark, force_distributed):
    with force_distributed():
        tri = [(0, 1), (1, 0), (1, 2), (0, 2), (2, 2)]
        assert _run(spark, tri, k=2) == {0: 2, 1: 2, 2: 2}


def test_truncated_sweeps_report_midpeel_state(spark, force_distributed):
    """n_iter=1 on a 3-chain at k=2: sweep 1 peels both endpoints; the
    middle survives the sweep and reports its degree INSIDE the
    surviving set (0 — both neighbors just died), not its old degree."""
    with force_distributed():
        out = _run(spark, [(0, 1), (1, 2)], k=2, n_iter=1)
        assert out == {1: 0}


def test_auto_local_matches_distributed(spark, force_distributed):
    edges = [(i, (i * 7) % 29) for i in range(29) if i != (i * 7) % 29]
    edges += [(i, (i + 1) % 29) for i in range(29)]
    for k in (2, 3, 4):
        with force_distributed():
            dist = _run(spark, edges, k=k)
        local = _run(spark, edges, k=k)
        assert dist == local, k


def test_partition_invariant(spark, force_distributed):
    edges = [(i, (i * 5) % 31) for i in range(31) if i != (i * 5) % 31]
    df = spark.createDataFrame(edges, "src long, dst long")
    with force_distributed():
        a = sorted(map(tuple, kcore(df, 2, 6).collect()))
        b = sorted(map(tuple, kcore(df.repartition(7), 2, 6).collect()))
    assert a == b


def test_string_ids_both_paths(spark, force_distributed):
    """String ids (KG IRIs) on both paths: the driver twin must not
    hand an object array to np.unique(..., axis=0)."""
    pairs = [("a", "b"), ("b", "c"), ("c", "a"), ("c", "d"), ("b", "a")]
    df = spark.createDataFrame(pairs, "src string, dst string")
    with force_distributed():
        dist = kcore(df, 2)
        dist_rows = sorted(map(tuple, dist.collect()))
    local = kcore(df, 2)
    assert sorted(map(tuple, local.collect())) == dist_rows
    assert dist_rows == [("a", 2), ("b", 2), ("c", 2)]
    assert dict(local.dtypes)["id"] == dict(dist.dtypes)["id"] == "string"
