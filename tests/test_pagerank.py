"""PageRank operator: exact-integer-contract parity against slow
dict/loop reference twins (incl. dangling mass), conservation,
partition invariance, and the seed-handling contract."""

from __future__ import annotations

import math

import numpy as np
import pytest

from simkit_spark.operators.pagerank import pagerank


def _np_pagerank(edges, n_iter=10, d=0.85, dp=12):
    """Slow loop twin of the operator's exact-integer contract: int
    rank numerators at scale 10**dp, integer floor-division
    contributions, exact integer sums — order-independent, so this
    dict/loop twin is EXACTLY the operator's fixed point (the earlier
    float-rounding contract could drift an ulp with summation order)."""
    nodes = sorted({s for s, _ in edges} | {t for _, t in edges})
    idx = {v: i for i, v in enumerate(nodes)}
    n = len(nodes)
    scale = 10**dp
    inv = 1.0 / float(scale)
    out = np.zeros(n, dtype=np.int64)
    for s, _ in edges:
        out[idx[s]] += 1
    r = np.full(n, math.floor((1.0 / float(n)) * float(scale) + 0.5), dtype=np.int64)
    teleport = (1.0 - d) / float(n)
    for _ in range(n_iter):
        inflow = np.zeros(n, dtype=np.int64)
        for s, t in edges:
            inflow[idx[t]] += int(r[idx[s]]) // int(out[idx[s]])
        dmass = int(r[out == 0].sum())
        r = np.array(
            [
                math.floor(
                    (
                        teleport
                        + d
                        * (
                            float(inflow[i]) * inv
                            + (float(dmass) * inv) / float(n)
                        )
                    )
                    * float(scale)
                    + 0.5
                )
                for i in range(n)
            ],
            dtype=np.int64,
        )
    return {v: float(r[idx[v]]) * inv for v in nodes}


@pytest.fixture(scope="module")
def dangling_graph(spark):
    # 4 -> nothing: a dangling node whose mass must teleport
    edges = [(0, 1), (0, 2), (1, 2), (2, 0), (3, 2), (2, 4)]
    return edges, spark.createDataFrame(edges, "src long, dst long")


def test_pagerank_matches_numpy_reference(spark, dangling_graph, force_distributed):
    edges, df = dangling_graph
    with force_distributed():
        got = {r["id"]: r["rank"] for r in pagerank(df, n_iter=10).collect()}
    want = _np_pagerank(edges, n_iter=10)
    assert set(got) == set(want)
    for v in want:
        # exact-integer contract: bit equality, not approx
        assert got[v] == want[v], v


def test_pagerank_conserves_mass(spark, dangling_graph, force_distributed):
    _, df = dangling_graph
    with force_distributed():
        total = sum(r["rank"] for r in pagerank(df, n_iter=10).collect())
    # floor division leaks < outdeg ulps of 1e-12 per source per sweep
    assert total == pytest.approx(1.0, abs=1e-9)


def test_pagerank_partition_invariant(spark, dangling_graph, force_distributed):
    _, df = dangling_graph
    with force_distributed():
        a = sorted(map(tuple, pagerank(df, n_iter=6).collect()))
        b = sorted(map(tuple, pagerank(df.repartition(7), n_iter=6).collect()))
    assert a == b


def test_pagerank_empty_edges(spark, force_distributed):
    df = spark.createDataFrame([], "src long, dst long")
    with force_distributed():
        out = pagerank(df, n_iter=3)
    assert out.count() == 0
    # schema follows the input id type
    assert out.schema["id"].dataType.simpleString() == "bigint"
    df_s = spark.createDataFrame([], "src string, dst string")
    with force_distributed():
        assert pagerank(df_s, n_iter=3).schema["id"].dataType.simpleString() == "string"


def test_pagerank_auto_paths_bit_identical(spark, dangling_graph, force_distributed):
    """The exact-integer contract makes the driver-local numpy path
    and the distributed path produce the same bits."""
    from simkit_spark.operators.pagerank import pagerank

    _, df = dangling_graph
    local = sorted(map(tuple, pagerank(df, n_iter=10).collect()))
    with force_distributed():
        dist = sorted(map(tuple, pagerank(df, n_iter=10).collect()))
    assert local == dist


def test_pagerank_auto_empty(spark):
    from simkit_spark.operators.pagerank import pagerank

    df = spark.createDataFrame([], "src long, dst long")
    assert pagerank(df, n_iter=3).count() == 0


def _ppr_reference(edges, seeds, n_iter=10, d=0.85, dp=12):
    """Textbook seed-teleport power iteration, dict arithmetic, on the
    operator's exact-integer contract (order-independent -> exact)."""
    nodes = sorted({x for e in edges for x in e})
    scale = 10**dp
    inv = 1.0 / float(scale)
    ts = 1.0 / len(set(seeds))
    t = {v: (ts if v in seeds else 0.0) for v in nodes}
    out = {}
    for s, _ in edges:
        out[s] = out.get(s, 0) + 1
    r = {v: math.floor(t[v] * float(scale) + 0.5) for v in nodes}
    for _ in range(n_iter):
        inflow = {v: 0 for v in nodes}
        for s, o in edges:
            inflow[o] += r[s] // out[s]
        dmass = sum(r[v] for v in nodes if v not in out)
        r = {
            v: math.floor(
                (
                    (1 - d) * t[v]
                    + d * (float(inflow[v]) * inv + (float(dmass) * inv) * t[v])
                )
                * float(scale)
                + 0.5
            )
            for v in nodes
        }
    return {v: float(r[v]) * inv for v in nodes}


def test_ppr_matches_reference_and_concentrates_on_seed(spark):
    from simkit_spark.operators.pagerank import personalized_pagerank

    edges = [("a", "b"), ("b", "c"), ("c", "a"), ("c", "d"), ("d", "e")]
    df = spark.createDataFrame(edges, "src string, dst string")
    got = {r["id"]: r["rank"] for r in personalized_pagerank(df, ["a"], n_iter=10).collect()}
    ref = _ppr_reference(edges, {"a"})
    assert set(got) == set(ref)
    # exact-integer contract: the slow dict twin is bit-identical
    assert all(got[v] == ref[v] for v in ref)
    # relevance decays with distance from the seed
    assert got["a"] > got["e"] > 0.0


def test_ppr_local_distributed_bit_parity(spark, force_distributed):
    from simkit_spark.operators.pagerank import personalized_pagerank

    edges = [("n%d" % i, "n%d" % ((i * 7 + 3) % 20)) for i in range(60)]
    df = spark.createDataFrame(edges, "src string, dst string").where("src <> dst")
    loc = personalized_pagerank(df, ["n1", "n4"], n_iter=6)
    with force_distributed():
        dist = personalized_pagerank(df, ["n1", "n4"], n_iter=6)
    a = {r["id"]: r["rank"] for r in loc.collect()}
    b = {r["id"]: r["rank"] for r in dist.collect()}
    assert a == b


def test_ppr_missing_seed_raises(spark, force_distributed):
    from simkit_spark.operators.pagerank import personalized_pagerank

    df = spark.createDataFrame([("a", "b")], "src string, dst string")
    with pytest.raises(KeyError):
        personalized_pagerank(df, ["zz"], n_iter=2)
    with force_distributed(), pytest.raises(KeyError):
        personalized_pagerank(df, ["zz"], n_iter=2)


def test_ppr_empty_edges_raises_keyerror(spark):
    """Seeds cannot be present in an empty edge list -> KeyError on
    the local path too (previously returned a silently-empty frame
    with a hardcoded schema)."""
    from simkit_spark.operators.pagerank import personalized_pagerank

    df = spark.createDataFrame([], "src string, dst string")
    with pytest.raises(KeyError):
        personalized_pagerank(df, ["a"], n_iter=2)


def test_ppr_duplicate_seeds_dedup(spark, force_distributed):
    """Duplicate seeds are deduplicated at entry: both paths accept
    them, agree bit-for-bit with the unique-seed run, and teleport
    mass sums to 1 (previously the distributed path raised a spurious
    KeyError and the numpy path under-teleported)."""
    from simkit_spark.operators.pagerank import personalized_pagerank

    edges = [("a", "b"), ("b", "c"), ("c", "a"), ("c", "d")]
    df = spark.createDataFrame(edges, "src string, dst string")
    uniq = {r["id"]: r["rank"] for r in personalized_pagerank(df, ["a", "c"], n_iter=5).collect()}
    dup_loc = {r["id"]: r["rank"] for r in personalized_pagerank(df, ["a", "c", "a"], n_iter=5).collect()}
    with force_distributed():
        dup_dist = {
            r["id"]: r["rank"]
            for r in personalized_pagerank(df, ["a", "c", "a"], n_iter=5).collect()
        }
    assert dup_loc == uniq == dup_dist
    assert sum(uniq.values()) == pytest.approx(1.0, abs=1e-9)


def test_ppr_no_seeds_raises(spark):
    from simkit_spark.operators.pagerank import personalized_pagerank

    df = spark.createDataFrame([("a", "b")], "src string, dst string")
    with pytest.raises(ValueError):
        personalized_pagerank(df, [], n_iter=2)


def _py_weighted_pagerank(edges, n_iter=10, d=0.85, iter_dp=9, weight_dp=6):
    """dict/loop twin of weighted_pagerank's exact-integer contract."""
    ws = 10**weight_dp
    eq = [(s, t, math.floor(w * float(ws) + 0.5)) for s, t, w in edges]
    eq = [(s, t, wq) for s, t, wq in eq if wq > 0]
    nodes = sorted({s for s, _, _ in eq} | {t for _, t, _ in eq})
    n = len(nodes)
    scale = 10**iter_dp
    inv = 1.0 / float(scale)
    strength = {}
    for s, _, wq in eq:
        strength[s] = strength.get(s, 0) + wq
    r = {v: math.floor((1.0 / float(n)) * float(scale) + 0.5) for v in nodes}
    teleport = (1.0 - d) / float(n)
    for _ in range(n_iter):
        inflow = {}
        for s, t, wq in eq:
            inflow[t] = inflow.get(t, 0) + (r[s] * wq) // strength[s]
        dmass = sum(r[v] for v in nodes if v not in strength)
        r = {
            v: math.floor(
                (
                    teleport
                    + d
                    * (
                        float(inflow.get(v, 0)) * inv
                        + float(dmass) * inv / float(n)
                    )
                )
                * float(scale)
                + 0.5
            )
            for v in nodes
        }
    return {v: r[v] * inv for v in nodes}


def test_weighted_pagerank_matches_python_twin_bitwise(spark, force_distributed):
    from simkit_spark.operators.pagerank import weighted_pagerank

    edges = [
        ("a", "b", 0.9), ("a", "c", 0.1), ("b", "c", 0.5),
        ("c", "a", 1.0), ("d", "a", 0.25),          # d is a source-only node
        ("a", "e", 0.0000001),                       # quantizes to 0 -> drops
    ]
    e = spark.createDataFrame(edges, "src string, dst string, weight double")
    with force_distributed():
        got = {r.id: r.rank for r in weighted_pagerank(e, n_iter=10).collect()}
    want = _py_weighted_pagerank(edges, n_iter=10)
    assert got == want
    assert "e" not in got  # zero-quantized edge dropped with its node
    # mass conserved up to integer floor leakage
    assert abs(sum(got.values()) - 1.0) < 1e-6


def test_weighted_pagerank_weight_sensitivity(spark, force_distributed):
    """rank must actually follow the weights: b receives 9x c's share
    from a, so rank(b) > rank(c) on the star; in the unweighted
    variant they tie."""
    from simkit_spark.operators.pagerank import pagerank, weighted_pagerank

    w = spark.createDataFrame(
        [("a", "b", 0.9), ("a", "c", 0.1), ("b", "a", 1.0), ("c", "a", 1.0)],
        "src string, dst string, weight double",
    )
    with force_distributed():
        wr = {r.id: r.rank for r in weighted_pagerank(w, n_iter=10).collect()}
    assert wr["b"] > wr["c"]
    with force_distributed():
        ur = {
            r.id: r.rank
            for r in pagerank(w.select("src", "dst"), n_iter=10).collect()
        }
    assert ur["b"] == ur["c"]


def test_weighted_pagerank_auto_local_distributed_parity(spark, force_distributed):
    """All-integer contribs + fixed-order float update: the numpy twin
    must equal the distributed loop bit-for-bit, including dangling
    mass and zero-weight edge drops."""
    import random

    from simkit_spark.operators.pagerank import weighted_pagerank

    rng = random.Random(17)
    rows = [
        (rng.randrange(25), rng.randrange(25), round(rng.random(), 3))
        for _ in range(90)
    ]
    rows += [(30, 31, 0.7), (31, 32, 0.0)]  # chain + zero-weight drop
    df = spark.createDataFrame(rows, "src long, dst long, weight double").where(
        "src <> dst"
    )
    for it in (1, 4, 10):
        with force_distributed():
            a = {r["id"]: r["rank"] for r in weighted_pagerank(df, n_iter=it).collect()}
        b = {
            r["id"]: r["rank"]
            for r in weighted_pagerank(df, n_iter=it).collect()
        }
        assert a == b, it


def test_weighted_pagerank_auto_string_ids_and_empty(spark, force_distributed):
    import random

    from simkit_spark.operators.pagerank import weighted_pagerank

    rng = random.Random(18)
    rows = [
        (f"e:{rng.randrange(15)}", f"e:{rng.randrange(15)}", round(rng.random(), 3))
        for _ in range(50)
    ]
    df = spark.createDataFrame(rows, "src string, dst string, weight double").where(
        "src <> dst"
    )
    with force_distributed():
        a = {r["id"]: r["rank"] for r in weighted_pagerank(df, n_iter=5).collect()}
    b = {r["id"]: r["rank"] for r in weighted_pagerank(df, n_iter=5).collect()}
    assert a == b and len(a) > 0
    empty = spark.createDataFrame([], "src string, dst string, weight double")
    out = weighted_pagerank(empty, n_iter=3)
    assert out.count() == 0
    assert out.schema["id"].dataType == empty.schema["src"].dataType


def test_weighted_pagerank_auto_forced_distributed(spark, force_distributed):
    from simkit_spark.operators.pagerank import weighted_pagerank

    df = spark.createDataFrame(
        [(0, 1, 0.5), (1, 2, 0.25), (2, 0, 1.0), (0, 2, 0.125)],
        "src long, dst long, weight double",
    )
    with force_distributed():
        a = sorted(map(tuple, weighted_pagerank(df, 5).collect()))
    b = sorted(map(tuple, weighted_pagerank(df, 5).collect()))
    assert a == b


# ---------------------------------------------------------------- katz
def test_katz_closed_form_star(spark):
    # star: 1..4 -> 0. x(0) after k sweeps = truncated sum
    # 1 + 4*beta*(1 + 4*beta*(...)) with leaf x = 1 each sweep
    from simkit_spark.operators.pagerank import katz_centrality

    e = spark.createDataFrame([(i, 0) for i in range(1, 5)], "src long, dst long")
    got = {r["id"]: r["katz"] for r in katz_centrality(e, n_iter=3, beta=0.05).collect()}
    # leaves have no inflow: x = 1.0 always
    for leaf in range(1, 5):
        assert got[leaf] == 1.0
    # center fixpoint after sweep 1: x = 1 + beta*4 quantized by the
    # int64 contract (0.05*4 is not exactly 0.2 in binary — compare
    # against the replicated formula, not the decimal literal)
    import math

    scale = 10**9
    exp = math.floor((1.0 + 0.05 * (4 * scale * 1e-9)) * float(scale) + 0.5) * 1e-9
    assert got[0] == exp


def test_katz_local_distributed_bit_parity(spark, force_distributed):
    import hashlib

    from simkit_spark.operators.pagerank import katz_centrality

    n = 60
    edges = [(i, (i * 3 + 1) % n) for i in range(n)] + [
        (i, int(hashlib.md5(f"k{i}".encode()).hexdigest()[:4], 16) % n)
        for i in range(n)
    ]
    e = spark.createDataFrame(
        [(a, b) for a, b in edges if a != b], "src long, dst long"
    )
    loc = sorted(tuple(r) for r in katz_centrality(e, n_iter=6).collect())
    with force_distributed():
        dist = sorted(tuple(r) for r in katz_centrality(e, n_iter=6).collect())
    assert loc == dist  # bit-identical, not approximately


def test_katz_string_ids_and_empty(spark):
    from simkit_spark.operators.pagerank import katz_centrality

    e = spark.createDataFrame(
        [("a", "b"), ("b", "c")], "src string, dst string"
    )
    import math

    scale = 10**9
    got = {r["id"]: r["katz"] for r in katz_centrality(e, n_iter=4).collect()}
    assert got["a"] == 1.0
    xb = math.floor((1.0 + 0.05 * (scale * 1e-9)) * float(scale) + 0.5)
    assert got["b"] == xb * 1e-9
    xc = math.floor((1.0 + 0.05 * (xb * 1e-9)) * float(scale) + 0.5)
    assert got["c"] == xc * 1e-9  # 1 + beta*x(b), quantized
    empty = katz_centrality(spark.createDataFrame([], "src long, dst long"))
    assert empty.count() == 0 and empty.columns == ["id", "katz"]


def test_katz_overflow_guard_raises(spark, force_distributed):
    # in-star with beta*in_degree = 390: numerators land in the silent
    # hazard zone (2^53, 2^63) by sweep 4 — exact in int64, NOT exact
    # in float64 — where nothing else errors. The runtime guard must
    # raise loudly on both paths. (Past 2^63 Spark's ANSI sum raises
    # on its own; numpy would wrap silently — same guard covers it.)
    from simkit_spark.operators.pagerank import katz_centrality

    e = spark.createDataFrame(
        [(s, 0) for s in range(1, 40)] + [(0, s) for s in range(1, 40)],
        "src long, dst long",
    )
    with force_distributed(), pytest.raises(ValueError, match="2\\^53"):
        katz_centrality(e, n_iter=4, beta=10.0)
    with pytest.raises(ValueError, match="2\\^53"):
        katz_centrality(e, n_iter=4, beta=10.0)


@pytest.mark.parametrize("op", ["ppr", "wpr", "katz"])
def test_family_distributed_partition_invariant(spark, force_distributed, op):
    """Exact-integer sums make every distributed sweep of the family
    independent of the input partitioning, bit for bit (string ids,
    dangling sinks)."""
    from simkit_spark.operators.pagerank import (
        katz_centrality,
        personalized_pagerank,
        weighted_pagerank,
    )

    rows = [(f"v{i}", f"v{(i * 7 + 3) % 24}", 0.1 + (i % 9) / 10) for i in range(40)]
    rows += [("v1", "sink:a", 0.35), ("v2", "sink:b", 0.8), ("v30", "sink:a", 0.05)]
    df = spark.createDataFrame(rows, "src string, dst string, weight double").where(
        "src <> dst"
    )
    run = {
        "ppr": lambda d: personalized_pagerank(d, ["v1", "v5"], n_iter=6),
        "wpr": lambda d: weighted_pagerank(d, n_iter=6),
        "katz": lambda d: katz_centrality(d, n_iter=6),
    }[op]
    with force_distributed():
        got = [
            sorted(map(tuple, run(d).collect()))
            for d in (df, df.repartition(3), df.repartition(7))
        ]
    assert got[0] and got[0] == got[1] == got[2]


def test_katz_inflow_past_2_53_stays_exact(spark, force_distributed):
    """Numerators stay under 2^53 but a hub's inflow SUM passes it
    (here ~15·2^53): both paths must sum in exact int64 — a float64
    accumulator rounds there and moves the hub's numerator."""
    import random

    from simkit_spark.operators.pagerank import katz_centrality

    rng = random.Random(11)
    edges = []
    for m in range(200):
        edges += [(f"l{a}", f"m{m}") for a in rng.sample(range(40), 1 + m % 5)]
    for h in range(8):
        edges += [(f"m{m}", f"h{h}") for m in rng.sample(range(200), 128)]
    beta, scale = 1 / 30, 10**15
    x = {v: scale for e in edges for v in e}
    for _ in range(2):
        inflow = dict.fromkeys(x, 0)
        for s, t in edges:
            inflow[t] += x[s]  # python ints: exact
        x = {
            v: math.floor((1.0 + beta * (float(inflow[v]) * (1.0 / scale))) * float(scale) + 0.5)
            for v in x
        }
    want = sorted((v, x[v] * (1.0 / scale)) for v in x)
    e = spark.createDataFrame(edges, "src string, dst string")
    assert max(inflow.values()) > 2**56 and max(x.values()) < 2**53
    assert sorted(map(tuple, katz_centrality(e, n_iter=2, beta=beta, iter_dp=15).collect())) == want
    with force_distributed():
        dist = sorted(map(tuple, katz_centrality(e, n_iter=2, beta=beta, iter_dp=15).collect()))
    assert dist == want
