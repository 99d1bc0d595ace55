"""Deterministic parallel maximal matching (operators/matching.py)."""

from __future__ import annotations

import hashlib
import itertools
import math

from simkit_spark.operators.matching import maximal_matching


def _edges(spark, pairs, id_t="long"):
    return spark.createDataFrame(pairs, f"src {id_t}, dst {id_t}")


def _wedges(spark, rows):
    return spark.createDataFrame(rows, "src long, dst long, weight double")


def _h(seed, u, v):
    return int(hashlib.md5(f"{seed}:{u}:{v}".encode()).hexdigest()[:8], 16)


def _greedy(pairs, seed, weights=None, dp=6):
    """Sequential greedy matching in ascending key order — what the
    parallel local-minimum sweeps must converge to (confluence)."""
    keys = {}
    for i, (a, b) in enumerate(pairs):
        if a == b:
            continue
        u, v = (a, b) if a < b else (b, a)
        if weights is None:
            keys[(u, v)] = (_h(seed, u, v), u, v)
        else:
            k = (math.floor(weights[i] * 10**dp + 0.5), _h(seed, u, v), u, v)
            if (u, v) not in keys or k < keys[(u, v)]:
                keys[(u, v)] = k
    matched, out = set(), set()
    for (u, v) in sorted(keys, key=keys.get):
        if u not in matched and v not in matched:
            out.add((u, v))
            matched |= {u, v}
    return out


_PAIRS = [
    (a, b)
    for a, b in itertools.combinations(range(60), 2)
    if (a * 7919 + b * 104729) % 13 < 2
]


def test_is_a_maximal_matching(spark, force_distributed):
    with force_distributed():
        got = maximal_matching(_edges(spark, _PAIRS), n_iter=12, seed=42).collect()
    pairs = [(r.u, r.v) for r in got]
    used = [x for uv in pairs for x in uv]
    assert len(used) == len(set(used))  # no vertex matched twice
    # maximal: every unmatched edge touches a matched vertex
    m = set(used)
    assert all(u in m or v in m for u, v in _PAIRS if u != v)


def test_equals_sequential_greedy_unweighted(spark, force_distributed):
    with force_distributed():
        got = {(r.u, r.v) for r in
               maximal_matching(_edges(spark, _PAIRS), n_iter=12, seed=42).collect()}
    assert got == _greedy(_PAIRS, 42)


def test_equals_sequential_greedy_weighted(spark, force_distributed):
    ws = [((a * 13 + b * 7) % 50) / 10.0 for a, b in _PAIRS]
    rows = [(a, b, w) for (a, b), w in zip(_PAIRS, ws)]
    with force_distributed():
        got = {(r.u, r.v) for r in
               maximal_matching(_wedges(spark, rows), n_iter=12, seed=42,
                                weight_col="weight").collect()}
    assert got == _greedy(_PAIRS, 42, weights=ws)


def test_weight_leads_priority(spark, force_distributed):
    # path a-b-c: the LIGHTER edge must match regardless of hash order
    for w_ab, w_bc, want in [(0.1, 0.9, (1, 2)), (0.9, 0.1, (2, 3))]:
        with force_distributed():
            got = maximal_matching(
                _wedges(spark, [(1, 2, w_ab), (2, 3, w_bc)]),
                n_iter=4, seed=42, weight_col="weight",
            ).collect()
        assert [(r.u, r.v) for r in got] == [want]


def test_duplicate_orientations_keep_min_weight(spark, force_distributed):
    # (1,2) appears both ways with different weights -> w_q = min
    rows = [(1, 2, 0.9), (2, 1, 0.2), (2, 3, 0.5)]
    with force_distributed():
        got = sorted((r.u, r.v) for r in maximal_matching(
            _wedges(spark, rows), n_iter=4, seed=42, weight_col="weight").collect())
    assert got == _greedy_dup()


def _greedy_dup():
    # min-weight dedup: (1,2)->0.2 beats (2,3)->0.5
    return [(1, 2)]


def test_auto_paths_bit_identical(spark, force_distributed):
    e = _edges(spark, _PAIRS)
    with force_distributed():
        dist = sorted((r.u, r.v, r.sweep) for r in
                      maximal_matching(e, 8, 42).collect())
    local = sorted((r.u, r.v, r.sweep) for r in
                   maximal_matching(e, 8, 42).collect())
    assert dist == local and dist


def test_auto_paths_weighted_bit_identical(spark, force_distributed):
    ws = [((a * 3 + b * 11) % 40) / 8.0 for a, b in _PAIRS]
    rows = [(a, b, w) for (a, b), w in zip(_PAIRS, ws)]
    e = _wedges(spark, rows)
    with force_distributed():
        dist = sorted((r.u, r.v, r.sweep) for r in
                      maximal_matching(e, 8, 42, weight_col="weight").collect())
    local = sorted((r.u, r.v, r.sweep) for r in
                   maximal_matching(e, 8, 42, weight_col="weight").collect())
    assert dist == local and dist


def test_string_ids_both_paths(spark, force_distributed):
    pairs = [("a", "b"), ("b", "c"), ("c", "d"), ("d", "e"), ("e", "a")]
    e = _edges(spark, pairs, "string")
    with force_distributed():
        dist = sorted((r.u, r.v) for r in
                      maximal_matching(e, 6, 7).collect())
    local = sorted((r.u, r.v) for r in
                   maximal_matching(e, 6, 7).collect())
    assert dist == local
    assert set(dist) == _greedy(pairs, 7)


def test_partition_invariance_and_sweeps(spark, force_distributed):
    e = _edges(spark, _PAIRS)
    with force_distributed():
        a = sorted((r.u, r.v, r.sweep) for r in
                   maximal_matching(e.repartition(17), 8, 42).collect())
        b = sorted((r.u, r.v, r.sweep) for r in
                   maximal_matching(e.coalesce(1), 8, 42).collect())
    assert a == b
    assert all(s >= 1 for _, _, s in a) and any(s == 1 for _, _, s in a)


def test_empty(spark):
    assert maximal_matching(_edges(spark, []), 3, 42).count() == 0
