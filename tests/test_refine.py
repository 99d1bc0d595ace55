"""Spectral refinement of over-merged components (north_star
canonicalization: LSH graph -> CC merge -> spectral split). The key
scenario: two distinct entities bridged by one ambiguous alias are
merged by connected components and separated ONLY by the spectral
stage (VERDICT.md round-1 item #1)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from simkit_spark.pipeline.link import link_entities
from simkit_spark.pipeline.refine import spectral_split

DIM = 8


def _clique_edges(members, w):
    src, dst, ws = [], [], []
    for i in range(len(members)):
        for j in range(i + 1, len(members)):
            src.append(members[i])
            dst.append(members[j])
            ws.append(w)
    return src, dst, ws


def test_spectral_split_bridged_cliques():
    ids = np.array([0, 1, 2, 3, 10, 11, 12, 13, 20])
    s1, d1, w1 = _clique_edges([0, 1, 2, 3], 0.95)
    s2, d2, w2 = _clique_edges([10, 11, 12, 13], 0.95)
    src, dst, w = s1 + s2, d1 + d2, w1 + w2
    for m in [0, 1, 2, 3, 10, 11, 12, 13]:
        src.append(m)
        dst.append(20)
        w.append(0.71)
    labels = spectral_split(ids, np.array(src), np.array(dst), np.array(w))
    by = {i: l for i, l in zip(ids, labels)}
    # the two cliques land in different sub-clusters
    assert len({by[0], by[1], by[2], by[3]}) == 1
    assert len({by[10], by[11], by[12], by[13]}) == 1
    assert by[0] != by[10]


def test_spectral_split_leaves_clean_clusters_alone():
    # dense alias clique -> eigengap says k=1, no split
    ids = np.arange(8)
    src, dst, w = _clique_edges(list(range(8)), 0.9)
    assert not spectral_split(ids, np.array(src), np.array(dst), np.array(w)).any()
    # strongly-linked alias chain -> ncut gate rejects any cut
    assert not spectral_split(
        np.arange(5),
        np.array([0, 1, 2, 3]),
        np.array([1, 2, 3, 4]),
        np.array([0.9] * 4),
    ).any()
    # below min_size -> untouched
    assert not spectral_split(
        np.arange(3), np.array([0, 1]), np.array([1, 2]), np.array([0.2, 0.2])
    ).any()


@pytest.fixture(scope="module")
def bridged_surfaces(spark):
    """Two tight embedding clusters (entities A and B, 4 surfaces each,
    60 degrees apart so cos(A, B) ~ 0.5 < tau) plus one ambiguous alias
    at 30 degrees to both: cos(bridge, *) ~ 0.87 >= tau crosses the
    threshold to BOTH clusters — and the seed-42 LSH banding is verified
    to bucket the bridge with each cluster, so CC genuinely over-merges."""
    rng = np.random.RandomState(7)

    def jitter(base):
        v = np.array(base, dtype=float) + rng.normal(0, 0.02, DIM)
        return (v / np.linalg.norm(v)).tolist()

    e1 = np.array([1.0] + [0.0] * (DIM - 1))
    e2 = 0.5 * e1 + (np.sqrt(3.0) / 2.0) * np.array([0.0, 1.0] + [0.0] * (DIM - 2))
    bridge = (e1 + e2) / np.linalg.norm(e1 + e2)
    rows = []
    for i in range(4):
        rows.append((f"alpha{i}", 100 + i, jitter(e1)))
    for i in range(4):
        rows.append((f"beta{i}", 200 + i, jitter(e2)))
    rows.append(("ambiguous", 300, bridge.tolist()))
    surfaces = spark.createDataFrame(
        rows, "surface string, surface_id long, vec array<double>"
    )
    mentions = spark.createDataFrame(
        [(s,) for s, _, _ in rows], "surface string"
    )
    return surfaces, mentions


@pytest.mark.parametrize("budget", [20_000, 0])  # 0: the distributed path
def test_link_entities_spectral_separation(spark, bridged_surfaces, monkeypatch, budget):
    surfaces, mentions = bridged_surfaces
    monkeypatch.setattr("simkit_spark.util.local_dispatch_rows", lambda *a, **k: budget)
    # without refinement: CC transitively merges everything into ONE entity
    merged = link_entities(
        surfaces, mentions, DIM, tau=0.65, seed=42, refine=False,
    )
    assert merged.select("entity_id").distinct().count() == 1

    # with refinement: the bridge no longer glues A to B
    refined = link_entities(
        surfaces, mentions, DIM, tau=0.65, seed=42, refine=True,
    )
    ent = {r["surface"]: r["entity_id"] for r in refined.collect()}
    a_ents = {ent[f"alpha{i}"] for i in range(4)}
    b_ents = {ent[f"beta{i}"] for i in range(4)}
    assert len(a_ents) == 1 and len(b_ents) == 1
    assert a_ents != b_ents


def test_link_local_vs_distributed_refine_parity(spark, bridged_surfaces, force_distributed):
    surfaces, mentions = bridged_surfaces
    loc = link_entities(surfaces, mentions, DIM, tau=0.65, seed=42)
    with force_distributed():
        dist = link_entities(surfaces, mentions, DIM, tau=0.65, seed=42)
    l = {r["surface_id"]: r["entity_id"] for r in loc.collect()}
    d = {r["surface_id"]: r["entity_id"] for r in dist.collect()}
    assert l == d


def test_refine_maps_only_components_that_can_split(spark):
    """The grouped map sees only components with at least ``min_size``
    members: smaller ones get no row (spectral_split never splits
    them; link_entities coalesces them to their component id)."""
    from simkit_spark.pipeline.link import refine_components

    s1, d1, w1 = _clique_edges([0, 1, 2, 3], 0.95)
    s2, d2, w2 = _clique_edges([10, 11, 12, 13], 0.95)
    src = s1 + s2 + [3, 13, 30, 40, 41]
    dst = d1 + d2 + [20, 20, 31, 41, 42]
    w = w1 + w2 + [0.71, 0.71, 0.9, 0.9, 0.9]
    edges = spark.createDataFrame(
        list(zip(src, dst, w)), "src long, dst long, weight double"
    )
    big = [0, 1, 2, 3, 10, 11, 12, 13, 20]
    comp = spark.createDataFrame(
        [(i, 0) for i in big] + [(30, 30), (31, 30)]
        + [(40, 40), (41, 40), (42, 40)],
        "id long, component long",
    )
    out = {
        r["surface_id"]: r["entity_id"]
        for r in refine_components(edges, comp, min_size=5).collect()
    }
    assert set(out) == set(big)
    # the bridged cliques still split
    assert out[0] != out[10]
    # min_size 3 lets the 3-member chain through, unsplit
    out3 = refine_components(edges, comp, min_size=3).collect()
    assert {r["surface_id"] for r in out3} == set(big) | {40, 41, 42}
