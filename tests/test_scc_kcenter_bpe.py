"""Round-4 additions: operators.scc, curation.kcenter_sample,
text.bpe_train."""

from __future__ import annotations

import contextlib
import hashlib

import numpy as np
import pytest
from pyspark.sql import functions as F

from simkit_spark.functions.curation import kcenter_sample
from simkit_spark.functions.text import bpe_train
from simkit_spark.operators.scc import strongly_connected_components


# ----------------------------------------------------------------- scc
def _scc_brute(edges):
    """Reference SCC by closure: component = min mutually-reachable."""
    nodes = sorted({u for e in edges for u in e})
    idx = {v: i for i, v in enumerate(nodes)}
    n = len(nodes)
    a = np.eye(n, dtype=bool)
    for u, v in edges:
        a[idx[u], idx[v]] = True
    for _ in range(n):
        nxt = a | (a @ a)
        if (nxt == a).all():
            break
        a = nxt
    mutual = a & a.T
    return {
        nodes[i]: nodes[int(np.flatnonzero(mutual[i]).min())] for i in range(n)
    }


@pytest.mark.parametrize("local", [True, False])
def test_scc_matches_closure(spark, force_distributed, local):
    edges = [(0, 1), (1, 2), (2, 0), (3, 4), (4, 3), (2, 3), (5, 6), (6, 7)]
    e = spark.createDataFrame(edges, "src long, dst long")
    with contextlib.nullcontext() if local else force_distributed():
        got = {
            r["id"]: r["component"]
            for r in strongly_connected_components(e).collect()
        }
    assert got == _scc_brute(edges)


def test_scc_local_distributed_parity(spark, force_distributed):
    n = 80
    edges = [(i, (i * 7 + 3) % n) for i in range(n)] + [
        (i, int(hashlib.md5(f"e{i}".encode()).hexdigest()[:4], 16) % n)
        for i in range(n)
    ]
    e = spark.createDataFrame(edges, "src long, dst long")
    loc = sorted(
        tuple(r) for r in strongly_connected_components(e).collect()
    )
    with force_distributed():
        dist = sorted(tuple(r) for r in strongly_connected_components(e).collect())
    assert loc == dist
    assert loc == sorted(_scc_brute(edges).items())


def test_scc_string_ids_and_empty(spark):
    e = spark.createDataFrame(
        [("a", "b"), ("b", "a"), ("b", "c")], "src string, dst string"
    )
    got = {
        r["id"]: r["component"]
        for r in strongly_connected_components(e).collect()
    }
    assert got == {"a": "a", "b": "a", "c": "c"}
    empty = strongly_connected_components(
        spark.createDataFrame([], "src long, dst long")
    )
    assert empty.count() == 0 and empty.columns == ["id", "component"]


# ------------------------------------------------------------- kcenter
def test_kcenter_greedy_reference(spark):
    # 1-d points: greedy FPS from min id is hand-checkable
    pts = [(0, [0.0]), (1, [10.0]), (2, [4.0]), (3, [6.0]), (4, [1.0])]
    emb = spark.createDataFrame(pts, "id long, vec array<double>")
    got = [
        (r["step"], r["id"], r["radius"])
        for r in kcenter_sample(emb, k=3).orderBy("step").collect()
    ]
    # start 0; farthest is 10 (id 1, d=10); then min-dists are
    # [0,0,4,4,1] -> ties at 4 pick min id 2
    assert got == [(1, 0, 0.0), (2, 1, 10.0), (3, 2, 4.0)]


def test_kcenter_radius_monotone_and_k1(spark, tiny5):
    out = kcenter_sample(tiny5, k=4).orderBy("step").collect()
    radii = [r["radius"] for r in out][1:]
    assert all(a >= b for a, b in zip(radii, radii[1:]))
    assert len(set(r["id"] for r in out)) == 4
    one = kcenter_sample(tiny5, k=1).collect()
    assert [(r["step"], r["id"], r["radius"]) for r in one] == [(1, 0, 0.0)]
    with pytest.raises(ValueError):
        kcenter_sample(tiny5, k=0)


# ----------------------------------------------------------------- bpe
def test_bpe_train_reference_merges(spark):
    docs = spark.createDataFrame(
        [("low low low lower lowest newer newest",),
         ("new newer wider wide low",)],
        "text string",
    )
    got = [
        (r["step"], r["lhs"], r["rhs"], r["n"])
        for r in bpe_train(docs, n_merges=4).orderBy("step").collect()
    ]
    # 'low' appears 4x, 'lower'/'lowest' once each -> 'l o' count 6;
    # after merging, 'lo w' count 6; then 'e r' (lower, newer x2) = 4
    # ties at 4 with 'e w' -> 'e r' wins lexicographically ('r' < 'w')
    assert got[0] == (1, "l", "o", 6)
    assert got[1] == (2, "lo", "w", 6)
    assert got[2] == (3, "e", "r", 4)


def test_bpe_train_greedy_overlap_and_case(spark):
    # 'aaa' merges left-to-right greedily: 'a a' count = 2 per word
    # occurrence windows, merge produces 'aa a' not 'a aa'
    docs = spark.createDataFrame([("AAA aaa",)], "text string")
    out = bpe_train(docs, n_merges=2).orderBy("step").collect()
    assert (out[0]["lhs"], out[0]["rhs"]) == ("a", "a")
    assert out[0]["n"] == 4  # two words x two adjacent pairs
    # round 2 operates on 'aa a _' (greedy left-to-right — NOT 'a aa'):
    # ('aa','a') and ('a','_') tie at 2; lexicographic lhs 'a' < 'aa'
    assert (out[1]["lhs"], out[1]["rhs"], out[1]["n"]) == ("a", "_", 2)


def test_bpe_train_validation(spark):
    docs = spark.createDataFrame([("hi",)], "text string")
    with pytest.raises(ValueError):
        bpe_train(docs, n_merges=0)
    # 'h i _' affords exactly 2 merges; requesting more raises loudly
    with pytest.raises(ValueError):
        bpe_train(docs, n_merges=5)


def test_kcenter_stops_at_exhaustion(spark):
    # 2 distinct points, k=4: selection must stop after step 2 instead
    # of re-emitting an already-chosen center with radius 0.0
    pts = [(0, [0.0]), (1, [5.0]), (2, [0.0]), (3, [5.0])]
    emb = spark.createDataFrame(pts, "id long, vec array<double>")
    got = [
        (r["step"], r["id"], r["radius"])
        for r in kcenter_sample(emb, k=4).orderBy("step").collect()
    ]
    assert got == [(1, 0, 0.0), (2, 1, 5.0)]
