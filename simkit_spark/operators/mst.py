"""Minimum spanning forest (Borůvka) — single-linkage clustering's
backbone.

simkit's clustering surface is spectral/k-means/DBSCAN; the MST adds
the single-linkage family (cutting the forest's k-1 heaviest edges =
single-linkage flat clustering, and the MST is the skeleton HDBSCAN
builds on). On similarity graphs it is also the cheapest sparsifier
that preserves connectivity.

Uniqueness contract: edges are compared by the TOTAL order
(weight, u, v) after canonicalization (u < v, parallel edges keep the
min weight). Under a total order the minimum spanning forest is unique
— so the distributed Borůvka rounds and the local Kruskal twin produce
the IDENTICAL edge set, bit for bit (parity-tested), and the committed
content hash is stable.

Scale shape (Borůvka is THE parallel MST): O(log n) rounds; each round
every component picks its minimum outgoing edge (one min-struct hash
agg over the edge list decorated with component labels), the chosen
edges contract via a connected-components pass over the
COMPONENT-COUNT-sized chosen-edge graph (never the full edge list),
and cross-component filtering is two equi-joins against the node-sized
label table. Edge rows only ever stream through joins/aggs — nothing
pair-quadratic, nothing driver-sized except the local twin under the
byte budget.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..util import materialize, size_dispatch


def _kruskal_numpy(u, v, w):
    """Kruskal under the (w, u, v) total order; returns a boolean mask
    of tree edges over the input arrays."""
    import numpy as np

    order = np.lexsort((v, u, w))
    ids = np.unique(np.concatenate([u, v]))
    parent = np.arange(len(ids))

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    ui = np.searchsorted(ids, u)
    vi = np.searchsorted(ids, v)
    keep = np.zeros(len(u), dtype=bool)
    for i in order:
        ra, rb = find(int(ui[i])), find(int(vi[i]))
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
            keep[i] = True
    return keep


def minimum_spanning_forest(
    edges: DataFrame,
    weight_col: str = "weight",
    max_rounds: int = 40,
) -> DataFrame:
    """(u, v, weight) tree edges of the minimum spanning forest of the
    undirected graph (edges symmetrized+canonicalized here; parallel
    edges collapse to their min weight, then min (u, v) order breaks
    exact-weight ties deterministically). Size-dispatched
    (``util.size_dispatch``, 300k-row default): local Kruskal for a
    driver-sized edge list, distributed Borůvka above."""
    e = (
        edges.select(
            F.least("src", "dst").alias("u"),
            F.greatest("src", "dst").alias("v"),
            F.col(weight_col).cast("double").alias("w"),
        )
        .where(F.col("u") != F.col("v"))
        .groupBy("u", "v")
        .agg(F.min("w").alias("w"))
    )
    return size_dispatch(
        e,
        _kruskal_local,
        lambda e: _boruvka(e, max_rounds),
        "u {id}, v {id}, weight double",
        default_rows=300_000,
    )


def _kruskal_local(pdf):
    keep = _kruskal_numpy(
        pdf["u"].to_numpy(), pdf["v"].to_numpy(), pdf["w"].to_numpy()
    )
    return pdf[keep].sort_values(["u", "v"])


def _boruvka(e: DataFrame, max_rounds: int) -> DataFrame:
    """Distributed path over the canonicalized, materialized edges."""
    ep = e.repartition("u").persist()
    ep.count()
    labels = (
        ep.select(F.col("u").alias("id"))
        .union(ep.select(F.col("v").alias("id")))
        .distinct()
        .select("id", F.col("id").alias("comp"))
        .transform(materialize)
    )
    tree = None
    for _ in range(max_rounds):
        lu = labels.select(F.col("id").alias("u"), F.col("comp").alias("cu"))
        lv = labels.select(F.col("id").alias("v"), F.col("comp").alias("cv"))
        dec = (
            ep.join(lu, "u")
            .join(lv, "v")
            .where(F.col("cu") != F.col("cv"))
            .transform(materialize)
        )
        if dec.count() == 0:
            break
        # per component: min outgoing edge under the (w, u, v) order
        cand = dec.select(
            F.explode(F.array("cu", "cv")).alias("comp"), "w", "u", "v"
        )
        chosen = (
            cand.groupBy("comp")
            .agg(F.min(F.struct("w", "u", "v")).alias("mn"))
            .select("mn.u", "mn.v", "mn.w")
            .distinct()  # both endpoints' components may pick the same edge
            .transform(materialize)
        )
        tree = chosen if tree is None else tree.unionAll(chosen).distinct()
        tree = tree.transform(materialize)
        # contract: CC over the chosen COMPONENT graph (component-count
        # sized), then relabel nodes through their old component
        from .components import connected_components

        cpairs = (
            chosen.join(lu, "u")
            .join(lv, "v")
            .select(F.col("cu").alias("src"), F.col("cv").alias("dst"))
            .distinct()
        )
        cmap = connected_components(cpairs).select(
            F.col("id").alias("comp"), F.col("component").alias("newc")
        )
        labels = (
            labels.join(cmap, "comp", "left")
            .select("id", F.coalesce("newc", "comp").alias("comp"))
            .transform(materialize)
        )
    else:
        raise RuntimeError(
            f"Borůvka did not converge in {max_rounds} rounds"
        )
    ep.unpersist()
    if tree is None:
        id_t = e.schema["u"].dataType.simpleString()
        return e.sparkSession.createDataFrame(
            [], schema=f"u {id_t}, v {id_t}, weight double"
        )
    return tree.select("u", "v", F.col("w").alias("weight"))


def single_linkage_labels(
    edges: DataFrame,
    k: int,
    weight_col: str = "weight",
) -> DataFrame:
    """Flat single-linkage clustering into (at least) ``k`` clusters:
    build the MSF, drop its k-1 heaviest edges (total (w, u, v) order,
    heaviest first), and label nodes by connected component (min
    member id). Disconnected inputs yield extra clusters — the
    single-linkage dendrogram cut at the k-cluster level."""
    from .components import connected_components

    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    msf = minimum_spanning_forest(edges, weight_col=weight_col).transform(
        materialize
    )
    keep = msf
    if k > 1:
        cut = (
            msf.orderBy(
                F.col("weight").desc(), F.col("u").desc(), F.col("v").desc()
            )
            .limit(k - 1)
            .select("u", "v")
        )
        keep = msf.join(cut, ["u", "v"], "left_anti")
    nodes = (
        edges.select(F.col("src").alias("id"))
        .union(edges.select(F.col("dst").alias("id")))
        .distinct()
    )
    return connected_components(
        keep.select(F.col("u").alias("src"), F.col("v").alias("dst")),
        nodes=nodes,
    )
