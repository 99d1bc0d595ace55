"""Synchronous label-propagation community detection over an edge list
— the lightweight community probe for the constructed KG (complements
spectral clustering: no eigensolve, one shuffle per sweep, labels are
node ids so the result is integer-exact across engines).

Update rule (deterministic): label_{t+1}(v) = the most frequent label
among v's neighbors at step t, ties broken by the SMALLEST label;
isolated nodes keep their label. Fixed ``n_iter`` sweeps (synchronous
LPA can oscillate; a fixed sweep count makes the output well-defined
and lets a SQL oracle reproduce it exactly — all-integer arithmetic,
no rounding contract needed).

Scale: per sweep = one join of the (node-sized) label table into a
fixed edge partitioning + two hash aggregations; the tie-break pick is
min(struct(-count, label)) — an aggregation with map-side partials,
NOT a per-node window sort. Lineage broken every sweep.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..util import materialize, size_dispatch
from .graphs import adjacency, undirected, undirected_indexed


def label_propagation(edges: DataFrame, n_iter: int = 5) -> DataFrame:
    """(src, dst) in any orientation -> (id, community) after
    ``n_iter`` synchronous sweeps. Self-loops dropped; duplicate edges
    de-duplicated (each neighbor votes once).

    Size-dispatched (``util.size_dispatch``): a driver-sized graph runs
    the synchronous sweeps as vectorized numpy over one Arrow collect
    (all-integer arithmetic — the local twin is EXACTLY the operator's
    fixed point, no rounding contract needed); a larger one runs the
    distributed loop."""
    return size_dispatch(
        edges.select("src", "dst"),
        lambda pdf: _label_propagation_local(pdf, n_iter),
        lambda e: _label_propagation_dist(e, n_iter),
        "id {id}, community {id}",
    )


def _label_propagation_dist(edges: DataFrame, n_iter: int) -> DataFrame:
    """Distributed path of ``label_propagation``."""
    # node b tallies the labels of its neighbors a; the layout holds
    # both orientations, so joining on its sort key a loses no vote
    e = adjacency(undirected(edges))
    nodes = e.select(F.col("a").alias("id")).distinct().persist()
    labels = nodes.select("id", F.col("id").alias("label"))
    for i in range(n_iter):
        nb = e.join(
            labels.select(F.col("id").alias("a"), F.col("label")), "a"
        ).select(F.col("b"), F.col("label"))
        pick = (
            nb.groupBy("b", "label")
            .agg(F.count(F.lit(1)).alias("c"))
            .groupBy("b")
            .agg(F.min(F.struct((-F.col("c")).alias("nc"), F.col("label").alias("lb"))).alias("m"))
            .select(F.col("b").alias("id"), F.col("m.lb").alias("new_label"))
        )
        labels = (
            labels.join(pick, "id", "left")
            .select("id", F.coalesce("new_label", "label").alias("label"))
        )
        if i + 1 < n_iter:
            labels = materialize(labels)
    out = materialize(labels.select("id", F.col("label").alias("community")))
    e.unpersist()
    nodes.unpersist()
    return out


def community_modularity(
    edges: DataFrame, labels: DataFrame, label_col: str = "community"
) -> DataFrame:
    """Newman modularity, reported per community so every value is a
    per-row IEEE formula over exact integers (engine-reproducible with
    no float-sum-order hazard; the scalar Q = sum(q_c) if wanted).

    Returns (community, n_nodes, inner_edges, deg_sum, q_c) with
    q_c = inner_edges/m − (deg_sum/(2m))², m = total undirected edges.
    Newman & Girvan (2004), Phys. Rev. E 69, 026113 — the standard
    partition-quality metric; complements the reference's point-space
    metrics (silhouette Unsupervised.java:722-799, ARI :801-860) with
    a graph-space one.

    Scale: one count action for m, then equi-joins of the node-sized
    label table onto edge endpoints + two hash aggregations keyed by
    community — no windows, no driver-side loops; community
    cardinality is output-sized.
    """
    # localCheckpoint (not persist+unpersist): the returned lazy plan
    # reads und for the inner-edge count AND both degree unions at the
    # caller's action, after this function has returned
    und = undirected(edges).transform(materialize)
    m = und.count()
    la = labels.select(F.col("id").alias("u"), F.col(label_col).alias("cu"))
    lb = labels.select(F.col("id").alias("v"), F.col(label_col).alias("cv"))
    inner = (
        und.join(la, "u")
        .join(lb, "v")
        .where(F.col("cu") == F.col("cv"))
        .groupBy(F.col("cu").alias("community"))
        .agg(F.count(F.lit(1)).alias("inner_edges"))
    )
    deg = (
        und.select(F.col("u").alias("id"))
        .unionByName(und.select(F.col("v").alias("id")))
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    per_comm = (
        deg.join(labels.select("id", F.col(label_col).alias("community")), "id")
        .groupBy("community")
        .agg(
            F.count(F.lit(1)).alias("n_nodes"),
            F.sum("d").alias("deg_sum"),
        )
    )
    md = float(m)
    return (
        per_comm.join(inner, "community", "left")
        .select(
            "community",
            "n_nodes",
            F.coalesce(F.col("inner_edges"), F.lit(0)).alias("inner_edges"),
            "deg_sum",
            F.round(
                F.coalesce(F.col("inner_edges"), F.lit(0)) / F.lit(md)
                - (F.col("deg_sum") / F.lit(2.0 * md))
                * (F.col("deg_sum") / F.lit(2.0 * md)),
                6,
            ).alias("q_c"),
        )
    )


def community_conductance(
    edges: DataFrame, labels: DataFrame, label_col: str = "community"
) -> DataFrame:
    """Conductance per community — the cut-quality companion to
    modularity: phi(S) = cut(S) / min(vol(S), 2m - vol(S)) with
    cut(S) = edges leaving S, vol(S) = sum of member degrees, m =
    total undirected edges. Low phi = well-separated community; the
    standard spectral-clustering quality target (Cheeger bound), so it
    closes the loop with operators/eigen.py's embeddings.

    All inputs to the final division are exact integers and the value
    is a per-row IEEE formula (no float-sum-order hazard — the
    community_modularity contract). Communities with
    min(vol, 2m - vol) = 0 (empty or the whole graph) report 0.0.

    Same scale shape as modularity: one count action for m, node-sized
    label equi-joins, two community-keyed hash aggregations.
    """
    und = undirected(edges).transform(materialize)
    m = und.count()
    la = labels.select(F.col("id").alias("u"), F.col(label_col).alias("cu"))
    lb = labels.select(F.col("id").alias("v"), F.col(label_col).alias("cv"))
    # each cut edge counts once for BOTH endpoint communities
    cut = (
        und.join(la, "u")
        .join(lb, "v")
        .where(F.col("cu") != F.col("cv"))
        .select(F.explode(F.array("cu", "cv")).alias("community"))
        .groupBy("community")
        .agg(F.count(F.lit(1)).alias("cut"))
    )
    deg = (
        und.select(F.col("u").alias("id"))
        .unionByName(und.select(F.col("v").alias("id")))
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    per_comm = (
        deg.join(labels.select("id", F.col(label_col).alias("community")), "id")
        .groupBy("community")
        .agg(F.count(F.lit(1)).alias("n_nodes"), F.sum("d").alias("volume"))
    )
    minvol = F.least(F.col("volume"), F.lit(2 * m) - F.col("volume"))
    return (
        per_comm.join(cut, "community", "left")
        .select(
            "community",
            "n_nodes",
            "volume",
            F.coalesce(F.col("cut"), F.lit(0)).alias("cut"),
            F.round(
                F.when(minvol == 0, F.lit(0.0)).otherwise(
                    F.coalesce(F.col("cut"), F.lit(0)).cast("double")
                    / minvol.cast("double")
                ),
                6,
            ).alias("conductance"),
        )
    )


def _label_propagation_local(pdf, n_iter):
    import numpy as np
    import pandas as pd

    ids, a, b = undirected_indexed(pdf)  # a's neighbor is b
    n = len(ids)
    # labels as indices into the SORTED id array: index order == value
    # order, so "smallest label" tiebreaks agree with the operator
    lab = np.arange(n)
    for _ in range(n_iter):
        key = a * n + lab[b]
        uk, counts = np.unique(key, return_counts=True)
        ka, klab = uk // n, uk % n
        order = np.lexsort((klab, -counts, ka))
        firsts = np.unique(ka[order], return_index=True)[1]
        new = lab.copy()
        new[ka[order][firsts]] = klab[order][firsts]
        lab = new
    return pd.DataFrame({"id": ids, "community": ids[lab]})
