"""bounded_sssp: closed-form paths, shortcut-vs-direct relaxation,
hop-bound truncation, multi-source, and full-relaxation parity."""

from __future__ import annotations

import itertools

from simkit_spark.operators.sssp import bounded_sssp


def _run(spark, edges, sources, k):
    df = spark.createDataFrame(edges, "src long, dst long, weight double")
    return {r["id"]: r["dist"] for r in bounded_sssp(df, sources, k).collect()}


def test_two_hop_light_path_beats_direct_heavy_edge(spark, force_distributed):
    edges = [(0, 2, 10.0), (0, 1, 1.0), (1, 2, 1.0)]
    with force_distributed():
        got = _run(spark, edges, [0], k=3)
    assert got == {0: 0.0, 1: 1.0, 2: 2.0}


def test_hop_bound_truncates(spark, force_distributed):
    chain = [(i, i + 1, 1.0) for i in range(5)]
    with force_distributed():
        got = _run(spark, chain, [0], k=2)
    assert got == {0: 0.0, 1: 1.0, 2: 2.0}  # nodes 3..5 beyond 2 hops


def test_later_sweep_improves_earlier_distance(spark, force_distributed):
    # direct edge reaches 3 in one hop at cost 10; the 3-hop chain
    # lowers it to 3.0 only at sweep 3 — exercises the min-merge
    edges = [(0, 3, 10.0), (0, 1, 1.0), (1, 2, 1.0), (2, 3, 1.0)]
    with force_distributed():
        assert _run(spark, edges, [0], k=1)[3] == 10.0
        assert _run(spark, edges, [0], k=3)[3] == 3.0


def test_multi_source_takes_nearest(spark, force_distributed):
    edges = [(0, 5, 4.0), (9, 5, 1.0)]
    with force_distributed():
        got = _run(spark, edges, [0, 9], k=2)
    assert got == {0: 0.0, 9: 0.0, 5: 1.0}


def test_matches_full_relaxation_reference(spark, force_distributed):
    """Frontier-only relaxation must equal textbook Bellman-Ford that
    relaxes EVERY edge each sweep, on a dense-ish random graph."""
    import random

    rng = random.Random(7)
    n = 30
    edges = [
        (a, b, round(rng.uniform(0.1, 5.0), 3))
        for a, b in itertools.permutations(range(n), 2)
        if rng.random() < 0.15
    ]
    k = 4
    ref = {0: 0.0}
    for _ in range(k):
        nxt = dict(ref)
        for a, b, w in edges:
            if a in ref and round(ref[a] + w, 12) < nxt.get(b, float("inf")):
                nxt[b] = round(ref[a] + w, 12)
        ref = nxt
    with force_distributed():
        assert _run(spark, edges, [0], k=k) == ref


def test_sssp_auto_local_distributed_parity(spark, force_distributed):
    """min() is order-independent and the Decimal(repr()) rounding
    replicates Spark's BigDecimal HALF_UP — the twin must match the
    engine bit-for-bit, including negative weights."""
    import random

    from simkit_spark.operators.sssp import bounded_sssp

    rng = random.Random(23)
    rows = [
        (rng.randrange(30), rng.randrange(30), round(rng.uniform(-0.2, 2.0), 3))
        for _ in range(120)
    ]
    df = spark.createDataFrame(rows, "src long, dst long, weight double").where(
        "src <> dst"
    )
    # a repeated source is one source; sorted rows, as a dict would
    # hide a duplicate row
    for k in (0, 1, 3, 6):
        with force_distributed():
            a = sorted(map(tuple, bounded_sssp(df, [0, 0, 5], k).collect()))
        b = sorted(map(tuple, bounded_sssp(df, [0, 0, 5], k).collect()))
        assert a == b, k


def test_sssp_auto_string_ids_empty_and_forced(spark, force_distributed):
    from simkit_spark.operators.sssp import bounded_sssp

    rows = [("a", "b", 1.5), ("b", "c", 0.25), ("c", "a", 2.0), ("x", "y", 1.0)]
    df = spark.createDataFrame(rows, "src string, dst string, weight double")
    with force_distributed():
        a = sorted(map(tuple, bounded_sssp(df, ["a"], 4).collect()))
    b = sorted(map(tuple, bounded_sssp(df, ["a"], 4).collect()))
    assert a == b and len(a) == 3
    empty = spark.createDataFrame([], "src string, dst string, weight double")
    out = bounded_sssp(empty, ["zzz"], 3)
    assert [tuple(r) for r in out.collect()] == [("zzz", 0.0)]
