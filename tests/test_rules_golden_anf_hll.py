"""Round-4 additions: kg.rule_mining, kg.golden_record,
sketch.hll_distinct, operators.anf (exact + HyperANF)."""

from __future__ import annotations

import contextlib
import hashlib
import math
import re

import numpy as np
import pytest
from pyspark.sql import functions as F

from simkit_spark.functions.sketch import hll_distinct
from simkit_spark.kg import golden_record, rule_mining
from simkit_spark.operators.anf import (
    effective_diameter,
    neighborhood_function,
)


# ------------------------------------------------------------- rules
@pytest.fixture(scope="module")
def rule_triples(spark):
    rows = (
        # p subsumed by q: all 6 p-pairs are q-pairs; q has 3 extras
        [(f"a{i}", "p", f"b{i}") for i in range(6)]
        + [(f"a{i}", "q", f"b{i}") for i in range(6)]
        + [(f"c{i}", "q", f"d{i}") for i in range(3)]
        # s symmetric (4 pairs each way)
        + [(f"x{i}", "s", f"y{i}") for i in range(4)]
        + [(f"y{i}", "s", f"x{i}") for i in range(4)]
        # chain e(x,z) & f(z,y) => g(x,y), exact
        + [(f"u{i}", "e", f"m{i % 2}") for i in range(5)]
        + [(f"m{i}", "f", f"w{i}") for i in range(2)]
        + [(f"u{i}", "g", f"w{i % 2}") for i in range(5)]
    )
    return spark.createDataFrame(rows, "subj string, pred string, obj string")


def _mine_both(force_distributed, t, **kw):
    """rule_mining rows on the local twin, then on the forced
    distributed plan; each path must really run where it should (the
    twin's answer plans join-free over a local relation)."""
    out = []
    for forced in (contextlib.nullcontext, force_distributed):
        with forced():
            df = rule_mining(t, **kw)
            plan = df._jdf.queryExecution().optimizedPlan().toString()
            out.append(df.collect())
        assert ("Join" in plan) == (forced is force_distributed), plan
    return out


def test_rule_mining_shapes(rule_triples, force_distributed):
    for rows in _mine_both(
        force_distributed, rule_triples, min_support=3, min_confidence=0.1
    ):
        got = {(r["rule_type"], r["body1"], r["body2"], r["head"]): r for r in rows}
        sub = got[("same", "p", None, "q")]
        assert (sub["support"], sub["body_size"], sub["head_size"]) == (6, 6, 9)
        assert sub["confidence"] == 1.0
        assert sub["head_coverage"] == round(6 / 9, 6)
        # reverse subsumption has confidence 6/9
        assert got[("same", "q", None, "p")]["confidence"] == round(6 / 9, 6)
        # symmetry shows up as an inverse rule s => s with confidence 1
        assert got[("inverse", "s", None, "s")]["confidence"] == 1.0
        chain = got[("chain", "e", "f", "g")]
        assert (chain["support"], chain["confidence"]) == (5, 1.0)
        # trivial p => p rules must not appear
        assert ("same", "p", None, "p") not in got


def test_rule_mining_degree_guard(spark, force_distributed):
    # a hub join-entity z with degree > cap kills the chain through it
    rows = [(f"a{i}", "e", "hub") for i in range(10)] + [
        ("hub", "f", "y0"),
        *[(f"a{i}", "g", "y0") for i in range(10)],
    ]
    t = spark.createDataFrame(rows, "subj string, pred string, obj string")

    def n_chain(rows):
        return sum(r["rule_type"] == "chain" for r in rows)

    for cap, want in ((100, 1), (5, 0)):
        got = _mine_both(
            force_distributed, t, min_support=3, min_confidence=0.1,
            max_join_degree=cap,
        )
        assert [n_chain(rows) for rows in got] == [want, want]


def test_rule_mining_min_filters(rule_triples, force_distributed):
    for rows in _mine_both(
        force_distributed, rule_triples, min_support=6, min_confidence=0.9
    ):
        got = {(r["rule_type"], r["body1"], r["head"]) for r in rows}
        assert ("same", "p", "q") in got          # support 6, conf 1.0
        assert ("chain", "e", "g") not in got     # support 5 < 6
        assert ("same", "q", "p") not in got      # conf 0.667 < 0.9


def test_rule_mining_local_twin_matches_distributed(spark, force_distributed):
    """Randomized parity of the two paths on everything the twin must
    mirror: duplicate rows, null subj/obj/pred cells, a hub above the
    degree cap, chain_exclude, a symmetric predicate, and >= 16
    predicates (so the distributed plan prunes pair space too)."""
    rng = np.random.default_rng(7)
    ent = [f"e{i}" for i in range(40)]

    def pick(n):
        return rng.choice(len(ent), size=(n, 2))

    rows = []
    base = pick(60)
    rows += [(ent[a], "p", ent[b]) for a, b in base]
    # sup: a superproperty of p (chain-excluded), plus noise
    rows += [(ent[a], "sup", ent[b]) for a, b in base]
    rows += [(ent[a], "sup", ent[b]) for a, b in pick(15)]
    # sym: symmetric
    rows += [r for a, b in pick(20) for r in ((ent[a], "sym", ent[b]), (ent[b], "sym", ent[a]))]
    # chain c1 & c2 => c3, partially
    c1, c2 = pick(50), pick(50)
    rows += [(ent[a], "c1", ent[b]) for a, b in c1]
    rows += [(ent[a], "c2", ent[b]) for a, b in c2]
    comp = [(x, y) for x, z in c1 for z2, y in c2 if z == z2]
    rows += [(ent[x], "c3", ent[y]) for x, y in comp[: len(comp) * 2 // 3]]
    # a hub above the cap: its chains must vanish on both paths
    rows += [(f"h{i}", "toh", "hub") for i in range(60)]
    rows += [("hub", "fromh", f"g{i}") for i in range(60)]
    rows += [(f"h{i}", "via", f"g{j}") for i in range(60) for j in range(0, 60, 9)]
    # "mid" is under the cap on chain-stream rows alone (70) and over it
    # with its chain-excluded and null-predicate rows (85): the degree
    # counts the whole distinct stream
    rows += [(f"k{i}", "tom", "mid") for i in range(35)]
    rows += [("mid", "fromm", f"l{i}") for i in range(35)]
    rows += [(f"k{i}", "viam", f"l{j}") for i in range(35) for j in range(0, 35, 5)]
    rows += [("mid", "sup", f"k{i}") for i in range(10)]
    rows += [("mid", None, f"l{i}") for i in range(5)]
    # rare-predicate tail, one triple each (>= 16 predicates in all)
    rows += [(ent[a], f"tail{k}", ent[b]) for k, (a, b) in enumerate(pick(10))]
    # null cells in every position, duplicates
    rows += [(None, "p", ent[0]), (ent[1], "p", None), (ent[2], None, ent[3])]
    rows += [(ent[a], None, ent[b]) for a, b in base[:20]]
    rows += [(None, "c1", ent[z]) for _, z in c1[:5]] + [(ent[z], "c2", None) for z, _ in c2[:5]]
    rows += rows[:40]
    t = spark.createDataFrame(rows, "subj string, pred string, obj string")

    kw = dict(min_support=2, min_confidence=0.0, max_join_degree=80,
              chain_exclude=["sup"])
    local, dist = (sorted(map(tuple, r)) for r in _mine_both(force_distributed, t, **kw))
    assert local == dist
    kinds = {(r[0], r[3]) for r in local}
    assert {("same", "sup"), ("inverse", "sym"), ("chain", "c3")} <= kinds
    assert not any(r[0] == "chain" and "sup" in (r[1], r[2]) for r in local)
    assert not any(r[0] == "chain" and r[1] in ("toh", "tom") for r in local)


def test_rule_mining_declines_quadratic_chain_space(spark, monkeypatch):
    """A driver-sized table whose chain pair space is past the driver
    budget: ~3.4k triples around one z with in = out = 1,700 (2.89M
    pairs, degree under the cap). The twin must decline and the
    distributed plan answer."""
    from simkit_spark import kg, util

    n = 1700
    assert n * n > util.local_dispatch_rows(kg._THREE_LONGS, 1 << 62)
    rows = (
        [(f"a{i}", "p", "z") for i in range(n)]
        + [("z", "q", f"b{i}") for i in range(n)]
        + [(f"a{i}", "r", f"b{i}") for i in range(20)]
    )
    t = spark.createDataFrame(rows, "subj string, pred string, obj string")
    calls = []
    real = kg._rule_counts_dist

    def spy(*a, **k):
        calls.append(a[0].count())
        return real(*a, **k)

    monkeypatch.setattr(kg, "_rule_counts_dist", spy)
    out = rule_mining(t, min_support=10, min_confidence=0.0,
                      max_join_degree=2 * n + 1).collect()
    assert calls == [2 * n + 20]
    (chain,) = [r for r in out if r["rule_type"] == "chain"]
    assert (chain["body1"], chain["body2"], chain["head"]) == ("p", "q", "r")
    assert (chain["support"], chain["body_size"]) == (20, n * n)


# ------------------------------------------------------ golden record
def test_golden_record_majority_and_tie(spark):
    rows = [
        ("e1", "loc", "n1"), ("e1", "loc", "n1"), ("e1", "loc", "n2"),
        ("e2", "loc", "n9"), ("e2", "loc", "n10"),   # tie: 'n10' < 'n9'
        ("e3", "loc", "n5"),
        ("e3", "rel", "zz"),
    ]
    t = spark.createDataFrame(rows, "subj string, pred string, obj string")
    got = {
        (r["subj"], r["pred"]): (r["obj"], r["votes"], r["n_values"])
        for r in golden_record(t).collect()
    }
    assert got[("e1", "loc")] == ("n1", 2, 2)
    assert got[("e2", "loc")] == ("n10", 1, 2)     # lexicographic min
    assert got[("e3", "loc")] == ("n5", 1, 1)
    assert got[("e3", "rel")] == ("zz", 1, 1)
    only = golden_record(t, preds=["loc"])
    assert only.where(F.col("pred") == "rel").count() == 0


# ---------------------------------------------------------------- hll
def _hll_twin(values, p=8, seed=42):
    m = 1 << p
    rb = 32 - p
    ks = rb + 1
    regs: dict[int, int] = {}
    for v in values:
        h = int(hashlib.md5(f"{v}:{seed}".encode()).hexdigest()[:8], 16)
        b = h >> rb
        rest = h % (1 << rb)
        rho = rb - rest.bit_length() + 1
        regs[b] = max(regs.get(b, 0), rho)
    zint = (m - len(regs)) * (1 << ks) + sum(1 << (ks - r) for r in regs.values())
    alpha = 0.7213 / (1.0 + 1.079 / m)
    numer = alpha * m * m * float(1 << ks)
    e = numer / zint
    if e <= 2.5 * m and len(regs) < m:
        return len(regs), zint, "linear", round(m * math.log(m / (m - len(regs))), 3)
    return len(regs), zint, "hll", round(e, 3)


@pytest.mark.parametrize("n,p", [(40, 8), (1500, 8), (5000, 6)])
def test_hll_matches_python_twin_bitwise(spark, n, p):
    vals = [f"v{i}" for i in range(n)]
    df = spark.createDataFrame([(v,) for v in vals], "x string")
    row = hll_distinct(df, "x", p=p).collect()[0]
    n_filled, zint, branch, est = _hll_twin(vals, p=p)
    assert row["n_filled"] == n_filled
    assert row["z_int"] == zint
    assert row["branch"] == branch
    assert row["est_distinct"] == est


def test_hll_accuracy_and_duplicates(spark):
    # duplicates must not move the registers; error ~1.04/sqrt(m)
    vals = [f"k{i % 2000}" for i in range(10_000)]
    df = spark.createDataFrame([(v,) for v in vals], "x string")
    row = hll_distinct(df, "x", p=8).collect()[0]
    assert abs(row["est_distinct"] - 2000) / 2000 < 0.15
    dedup = hll_distinct(
        spark.createDataFrame([(f"k{i}",) for i in range(2000)], "x string"),
        "x", p=8,
    ).collect()[0]
    assert dedup["z_int"] == row["z_int"]


def test_hll_empty_and_validation(spark):
    df = spark.createDataFrame([], "x string")
    row = hll_distinct(df, "x", p=8).collect()[0]
    assert row["n_filled"] == 0 and row["est_distinct"] == 0.0
    with pytest.raises(ValueError):
        hll_distinct(df, "x", p=2)


# ---------------------------------------------------------------- anf
def _path_edges(spark, n):
    return spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "src long, dst long"
    )


def test_anf_exact_path_graph(spark):
    # path of 10 nodes: N(h) = n + 2*sum_{d=1..h} (n-d)
    nf = neighborhood_function(_path_edges(spark, 10), max_h=4)
    got = {r["h"]: r["n_pairs"] for r in nf.collect()}
    n = 10
    for h in range(5):
        assert got[h] == n + 2 * sum(n - d for d in range(1, h + 1))


def test_anf_effective_diameter_monotone(spark):
    nf = neighborhood_function(_path_edges(spark, 10), max_h=9)
    d = effective_diameter(nf, q=0.9)
    assert 0 < d <= 9
    # full coverage at h=9 (diameter of the path); q=1 -> 9
    assert effective_diameter(nf, q=1.0) == 9.0


def test_anf_local_declines_past_max_nodes(spark, monkeypatch):
    # the exact twin holds n^2 bits, so past MAX_LOCAL_NODES nodes it
    # hands a driver-sized edge list to HyperANF
    from simkit_spark.operators import anf

    calls = []
    hyper = anf._hyperanf
    monkeypatch.setattr(anf, "MAX_LOCAL_NODES", 9)
    monkeypatch.setattr(
        anf, "_hyperanf", lambda e, *a: calls.append(1) or hyper(e, *a)
    )
    neighborhood_function(_path_edges(spark, 9), max_h=2).collect()
    assert calls == []
    with pytest.raises(ValueError):
        neighborhood_function(_path_edges(spark, 9), max_h=2, p=17)
    nf = neighborhood_function(_path_edges(spark, 10), max_h=2).collect()
    assert calls == [1] and len(nf) == 3


def test_hyperanf_tracks_exact(spark, force_distributed):
    # deterministic random-ish graph: 120 nodes, ring + md5 chords
    n = 120
    edges = [(i, (i + 1) % n) for i in range(n)]
    for i in range(n):
        h = int(hashlib.md5(f"chord{i}".encode()).hexdigest()[:8], 16)
        edges.append((i, h % n))
    e = spark.createDataFrame(edges, "src long, dst long")
    exact = {
        r["h"]: r["n_pairs"]
        for r in neighborhood_function(e, max_h=4).collect()
    }
    with force_distributed():
        est = {
            r["h"]: r["n_pairs"]
            for r in neighborhood_function(e, max_h=4, p=10).collect()
        }
    for h in range(1, 5):
        assert abs(est[h] - exact[h]) / exact[h] < 0.10, (h, est[h], exact[h])
    # the register math itself is pinned: any drift in the hash, the
    # fold or the estimate moves these integers
    assert est == {0: 120, 1: 598, 2: 2052, 3: 5907, 4: 11906}


def test_rule_mining_pairspace_pruning_is_exact(spark, force_distributed, monkeypatch):
    # a (tiny, tiny) predicate pair whose chain pair space is below
    # min_support must be pruned BEFORE the z-join without changing
    # the output: its chain support could never reach the filter. The
    # distributed plan prunes only streams of >= 16 predicates, so 11
    # isolated filler predicates join the 5 that carry the case.
    from simkit_spark import kg
    from simkit_spark.kg import chain_pair_space

    rows = (
        # dense chain e&f => g (support 5)
        [(f"u{i}", "e", f"m{i % 2}") for i in range(5)]
        + [(f"m{i}", "f", f"w{i}") for i in range(2)]
        + [(f"u{i}", "g", f"w{i % 2}") for i in range(5)]
        # sparse pair r&t: pair space exactly 1 < min_support 3
        + [("ra", "r", "zz"), ("zz", "t", "tb")]
        + [(f"fa{k}", f"fill{k}", f"fb{k}") for k in range(11)]
    )
    t = spark.createDataFrame(rows, "subj string, pred string, obj string")
    ps = {
        (r["body1"], r["body2"]): r["pspace"]
        for r in chain_pair_space(t).collect()
    }
    assert ps[("r", "t")] == 1  # provably below min_support -> pruned
    assert ps[("e", "f")] == 5  # sum_z in_e(z)*out_f(z) = 3*1 + 2*1

    # the executed plans of the distributed path's checkpoints: the
    # support stream must carry the (body1, body2) pruning semi-join
    plans = []
    real = kg.materialize

    def spy(df, *a, **k):
        out = real(df, *a, **k)
        plans.append(df._jdf.queryExecution().executedPlan().toString())
        return out

    monkeypatch.setattr(kg, "materialize", spy)
    with force_distributed():
        dist = rule_mining(t, min_support=3, min_confidence=0.1).collect()
    semi = re.compile(
        r"Join \[body1#\d+, body2#\d+\], \[body1#\d+, body2#\d+\], LeftSemi"
    )
    assert any(semi.search(p) for p in plans), plans
    local = rule_mining(t, min_support=3, min_confidence=0.1).collect()
    assert sorted(map(tuple, dist)) == sorted(map(tuple, local))
    got = {(r["rule_type"], r["body1"], r["body2"], r["head"]) for r in dist}
    assert ("chain", "e", "f", "g") in got
    assert not any(b1 == "r" and b2 == "t" for _, b1, b2, _ in got)
