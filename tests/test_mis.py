"""Deterministic Luby maximal independent set (operators/mis.py)."""

from __future__ import annotations

import hashlib
import itertools

from simkit_spark.operators.mis import maximal_independent_set


def _edges(spark, pairs, id_t="long"):
    return spark.createDataFrame(pairs, f"src {id_t}, dst {id_t}")


def _h(seed, x):
    return int(hashlib.md5(f"{seed}:{x}".encode()).hexdigest()[:8], 16)


def _greedy_mis(pairs, seed):
    """Sequential greedy MIS in (hash, id) priority order — the set
    Luby-with-fixed-coins must converge to (confluence property)."""
    nbr = {}
    for a, b in pairs:
        if a == b:
            continue
        nbr.setdefault(a, set()).add(b)
        nbr.setdefault(b, set()).add(a)
    mis, blocked = set(), set()
    for x in sorted(nbr, key=lambda x: (_h(seed, x), x)):
        if x not in blocked:
            mis.add(x)
            blocked |= nbr[x]
            blocked.add(x)
    return mis


_PAIRS = [
    (a, b)
    for a, b in itertools.combinations(range(60), 2)
    if (a * 7919 + b * 104729) % 13 < 2
]


def test_independence_and_maximality(spark, force_distributed):
    with force_distributed():
        got = maximal_independent_set(_edges(spark, _PAIRS), n_iter=12, seed=42)
    mis = {r.id for r in got.collect()}
    nbr = {}
    for a, b in _PAIRS:
        nbr.setdefault(a, set()).add(b)
        nbr.setdefault(b, set()).add(a)
    # independent: no edge inside the set
    assert all(not (nbr[x] & mis) for x in mis)
    # maximal: every non-member has a member neighbor (needs the sweep
    # budget to have drained the graph — 12 sweeps >> expected O(log n))
    assert all(nbr[x] & mis for x in nbr if x not in mis)


def test_equals_sequential_greedy(spark, force_distributed):
    with force_distributed():
        got = {r.id for r in
               maximal_independent_set(_edges(spark, _PAIRS), n_iter=12, seed=42).collect()}
    assert got == _greedy_mis(_PAIRS, 42)


def test_auto_paths_bit_identical(spark, force_distributed):
    # second input: a repeated edge and a self-loop on the first node
    # greedy selects must give the same rows on both paths
    first = min(_greedy_mis(_PAIRS, 42), key=lambda x: (_h(42, x), x))
    runs = []
    for pairs in (_PAIRS, _PAIRS + [_PAIRS[0], (first, first)]):
        e = _edges(spark, pairs)
        with force_distributed():
            dist = sorted((r.id, r.sweep) for r in
                          maximal_independent_set(e, 8, 42).collect())
        local = sorted((r.id, r.sweep) for r in
                       maximal_independent_set(e, 8, 42).collect())
        assert dist == local and dist
        runs.append(dist)
    assert runs[0] == runs[1]


def test_string_ids_both_paths(spark, force_distributed):
    pairs = [("a", "b"), ("b", "c"), ("c", "d"), ("d", "a"), ("a", "c")]
    e = _edges(spark, pairs, "string")
    with force_distributed():
        dist = sorted((r.id, r.sweep) for r in
                      maximal_independent_set(e, 6, 7).collect())
    local = sorted((r.id, r.sweep) for r in
                   maximal_independent_set(e, 6, 7).collect())
    assert dist == local
    assert {x for x, _ in dist} == _greedy_mis(pairs, 7)


def test_seed_changes_selection(spark, force_distributed):
    e = _edges(spark, _PAIRS)
    with force_distributed():
        a = {r.id for r in maximal_independent_set(e, 12, seed=1).collect()}
        b = {r.id for r in maximal_independent_set(e, 12, seed=2).collect()}
    assert a == _greedy_mis(_PAIRS, 1)
    assert b == _greedy_mis(_PAIRS, 2)
    assert a != b  # 60-node graph: astronomically unlikely to coincide


def test_sweep_schedule_deterministic_and_partition_invariant(spark, force_distributed):
    e = _edges(spark, _PAIRS)
    with force_distributed():
        a = sorted((r.id, r.sweep) for r in
                   maximal_independent_set(e.repartition(17), 8, 42).collect())
        b = sorted((r.id, r.sweep) for r in
                   maximal_independent_set(e.coalesce(1), 8, 42).collect())
    assert a == b
    # sweep 1 selects exactly the local priority minima
    assert any(s == 1 for _, s in a) and all(s >= 1 for _, s in a)


def test_isolated_pair_and_empty(spark, force_distributed):
    # a single edge: exactly one endpoint selected, in sweep 1
    with force_distributed():
        got = maximal_independent_set(_edges(spark, [(1, 2)]), 3, 42).collect()
    assert len(got) == 1 and got[0].sweep == 1
    empty = _edges(spark, [])
    assert maximal_independent_set(empty, 3, 42).count() == 0
