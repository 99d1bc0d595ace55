"""Round-4 additions: kg.rule_mining, kg.golden_record,
sketch.hll_distinct, operators.anf (exact + HyperANF)."""

from __future__ import annotations

import hashlib
import math

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


def test_rule_mining_shapes(rule_triples):
    got = {
        (r["rule_type"], r["body1"], r["body2"], r["head"]): r
        for r in rule_mining(
            rule_triples, min_support=3, min_confidence=0.1
        ).collect()
    }
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


def test_rule_mining_degree_guard(spark):
    # a hub join-entity z with degree > cap kills the chain through it
    rows = [(f"a{i}", "e", "hub") for i in range(10)] + [
        ("hub", "f", "y0"),
        *[(f"a{i}", "g", "y0") for i in range(10)],
    ]
    t = spark.createDataFrame(rows, "subj string, pred string, obj string")
    with_chain = rule_mining(t, min_support=3, min_confidence=0.1,
                             max_join_degree=100).where(
        F.col("rule_type") == "chain"
    )
    assert with_chain.count() == 1
    capped = rule_mining(t, min_support=3, min_confidence=0.1,
                         max_join_degree=5).where(
        F.col("rule_type") == "chain"
    )
    assert capped.count() == 0


def test_rule_mining_min_filters(rule_triples):
    out = rule_mining(rule_triples, min_support=6, min_confidence=0.9)
    got = {(r["rule_type"], r["body1"], r["head"]) for r in out.collect()}
    assert ("same", "p", "q") in got          # support 6, conf 1.0
    assert ("chain", "e", "g") not in got     # support 5 < 6
    assert ("same", "q", "p") not in got      # conf 0.667 < 0.9


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


def test_rule_mining_pairspace_pruning_is_exact(spark):
    # a (tiny, tiny) predicate pair whose chain pair space is below
    # min_support must be pruned BEFORE the z-join without changing
    # the output: its chain support could never reach the filter.
    from simkit_spark.kg import chain_pair_space

    rows = (
        # dense chain e&f => g (support 5)
        [(f"u{i}", "e", f"m{i % 2}") for i in range(5)]
        + [(f"m{i}", "f", f"w{i}") for i in range(2)]
        + [(f"u{i}", "g", f"w{i % 2}") for i in range(5)]
        # sparse pair r&t: pair space exactly 1 < min_support 3
        + [("ra", "r", "zz"), ("zz", "t", "tb")]
    )
    t = spark.createDataFrame(rows, "subj string, pred string, obj string")
    ps = {
        (r["body1"], r["body2"]): r["pspace"]
        for r in chain_pair_space(t).collect()
    }
    assert ps[("r", "t")] == 1  # provably below min_support -> pruned
    assert ps[("e", "f")] == 5  # sum_z in_e(z)*out_f(z) = 3*1 + 2*1
    got = {
        (r["rule_type"], r["body1"], r["body2"], r["head"])
        for r in rule_mining(t, min_support=3, min_confidence=0.1).collect()
    }
    assert ("chain", "e", "f", "g") in got
    assert not any(b1 == "r" and b2 == "t" for _, b1, b2, _ in got)
