"""k-truss fixed-sweep support peeling (operators/truss.py)."""

from __future__ import annotations

import itertools

import pytest

from simkit_spark.operators.truss import ktruss


def _rows(df):
    return sorted((r.u, r.v, r.sup) for r in df.collect())


def _edges(spark, pairs, id_t="long"):
    return spark.createDataFrame(pairs, f"src {id_t}, dst {id_t}")


def _brute_ktruss(pairs, k, n_iter):
    """Independent reference: set-based peeling (NOT the local twin's
    code path — rebuilt here so both engine paths are checked against
    a third implementation)."""
    cur = {(min(a, b), max(a, b)) for a, b in pairs if a != b}
    for _ in range(n_iter):
        nbr = {}
        for u, v in cur:
            nbr.setdefault(u, set()).add(v)
            nbr.setdefault(v, set()).add(u)
        cur = {(u, v) for u, v in cur if len(nbr[u] & nbr[v]) >= k - 2}
    nbr = {}
    for u, v in cur:
        nbr.setdefault(u, set()).add(v)
        nbr.setdefault(v, set()).add(u)
    return sorted((u, v, len(nbr[u] & nbr[v])) for u, v in cur)


def test_two_triangles_sharing_edge(spark, force_distributed):
    # bowtie-ish: triangles (1,2,3) and (2,3,4) share edge (2,3); a
    # pendant edge (4,5) has no triangle
    pairs = [(1, 2), (2, 3), (1, 3), (3, 4), (2, 4), (4, 5)]
    with force_distributed():
        got = _rows(ktruss(_edges(spark, pairs), k=3, n_iter=5))
    assert got == [(1, 2, 1), (1, 3, 1), (2, 3, 2), (2, 4, 1), (3, 4, 1)]


def test_four_clique_survives_k4(spark, force_distributed):
    pairs = list(itertools.combinations(range(4), 2))
    with force_distributed():
        got = _rows(ktruss(_edges(spark, pairs), k=4, n_iter=5))
    # every K4 edge closes exactly 2 triangles
    assert got == [(u, v, 2) for u, v in pairs]


def test_peeling_cascades_across_sweeps(spark, force_distributed):
    # triangle strip (1,2,3)+(2,3,4): at k=4 sweep 1 peels the four
    # sup-1 edges, sweep 2 peels (2,3) whose support fell to 0 — a
    # single-sweep implementation would keep it
    pairs = [(1, 2), (2, 3), (1, 3), (3, 4), (2, 4)]
    e = _edges(spark, pairs)
    with force_distributed():
        assert _rows(ktruss(e, k=4, n_iter=1)) == [(2, 3, 0)]
        assert _rows(ktruss(e, k=4, n_iter=2)) == []


def test_canonicalization(spark, force_distributed):
    # duplicates, reversed orientation, and self-loops collapse
    pairs = [(2, 1), (1, 2), (3, 2), (1, 3), (3, 3), (1, 3)]
    with force_distributed():
        got = _rows(ktruss(_edges(spark, pairs), k=3, n_iter=3))
    assert got == [(1, 2, 1), (1, 3, 1), (2, 3, 1)]


def test_k_below_3_raises(spark, force_distributed):
    e = _edges(spark, [(1, 2)])
    with pytest.raises(ValueError):
        with force_distributed():
            ktruss(e, k=2)
    with pytest.raises(ValueError):
        ktruss(e, k=2)


@pytest.mark.parametrize("k,n_iter", [(3, 4), (4, 4), (5, 6)])
def test_auto_paths_match_brute_force(spark, force_distributed, k, n_iter):
    # md5-ish deterministic pseudo-random graph, 40 nodes
    pairs = [
        (a, b)
        for a, b in itertools.combinations(range(40), 2)
        if (a * 7919 + b * 104729) % 11 < 3
    ]
    e = _edges(spark, pairs)
    want = _brute_ktruss(pairs, k, n_iter)
    with force_distributed():
        assert _rows(ktruss(e, k, n_iter)) == want
    assert _rows(ktruss(e, k, n_iter)) == want  # local twin
    with force_distributed():
        assert _rows(ktruss(e, k, n_iter)) == want


def test_string_ids_local_twin(spark):
    pairs = [("a", "b"), ("b", "c"), ("a", "c"), ("c", "d")]
    got = sorted(
        (r.u, r.v, r.sup)
        for r in ktruss(_edges(spark, pairs, "string"), k=3, n_iter=3).collect()
    )
    assert got == [("a", "b", 1), ("a", "c", 1), ("b", "c", 1)]


def test_partition_invariance(spark, force_distributed):
    pairs = [
        (a, b)
        for a, b in itertools.combinations(range(30), 2)
        if (a * 31 + b * 17) % 7 < 2
    ]
    e = _edges(spark, pairs)
    with force_distributed():
        assert _rows(ktruss(e.repartition(13), 4, 4)) == _rows(ktruss(e.coalesce(1), 4, 4))


def test_empty_edges(spark, force_distributed):
    e = _edges(spark, []).where("src IS NOT NULL")
    with force_distributed():
        assert _rows(ktruss(e, 3, 2)) == []
    assert _rows(ktruss(e, 3, 2)) == []
