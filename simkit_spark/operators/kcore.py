"""Fixed-sweep k-core peeling over an edge list — the standard
degeneracy filter for the constructed knowledge graph: keep the maximal
subgraph where every node has >= k neighbors *inside the subgraph*.
Complements the other graph-quality probes (triangles/coefficient,
label-propagation communities) over the similarity graphs the
reference's machinery constructs (SURVEY.md §2.4): the k-core isolates
the densely-linked entity nucleus from the pendant/noise fringe before
expensive downstream analytics.

Semantics (deterministic): undirected simple graph (edges canonicalized
least/greatest, self-loops dropped, duplicates collapsed). Sweep t:
every surviving node recomputes its degree among *surviving* neighbors
and is peeled if that degree < k. Fixed ``n_iter`` sweeps — peeling is
monotone (the alive set only shrinks), so once a sweep removes nothing
the answer IS the exact k-core and further sweeps are no-ops; a fixed
sweep count therefore both (a) has well-defined output a SQL oracle can
replay exactly (all-integer, no rounding contract) and (b) equals the
true k-core whenever convergence happens within the budget. Each sweep
peels at least one node until convergence, and long peeling chains need
pathological path-like graphs; similarity graphs converge in a handful
of sweeps.

Scale design: per sweep = one semi-join of the (node-sized) alive set
into a fixed edge partitioning + one hash aggregation + one degree
filter — the n-edge table is hash-partitioned on its vote-receiving
endpoint ONCE and persisted, never re-shuffled. The alive table is
node-sized and shrinks monotonically. Lineage is broken every sweep
(util.materialize): the alive table feeds the next sweep's semi-join
twice, and iterative lazy plans re-evaluate shared segments
combinatorially (the pagerank/LPA lesson).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..util import materialize, size_dispatch
from .graphs import adjacency, undirected, undirected_indexed


def kcore(edges: DataFrame, k: int, n_iter: int = 10) -> DataFrame:
    """(src, dst) in any orientation -> (id, core_deg) for the nodes
    surviving ``n_iter`` peeling sweeps at threshold ``k``; core_deg is
    the degree within the surviving subgraph.

    Size-dispatched (``util.size_dispatch``): a driver-sized graph runs
    a numpy bincount peeling loop over one Arrow collect, which beats
    ~3 shuffle stages per sweep; a larger one runs the distributed
    sweeps. All-integer arithmetic, so the two paths are exactly
    identical (parity-tested)."""
    return size_dispatch(
        edges.select("src", "dst"),
        lambda pdf: _kcore_local(pdf, k, n_iter),
        lambda e: _kcore_dist(e, k, n_iter),
        "id {id}, core_deg long",
    )


def _kcore_dist(edges: DataFrame, k: int, n_iter: int) -> DataFrame:
    """Distributed path of ``kcore``."""
    e = adjacency(undirected(edges))
    # INCREMENTAL peeling. The direct formulation re-derives degrees
    # among survivors each sweep with a semi-join of the 2|E| table
    # against the node-sized alive set on "b" — at scale (alive too
    # big to broadcast) that reshuffles the whole edge table every
    # sweep. Instead carry deg(v) = degree within the current alive
    # set and subtract per sweep only the edges lost to the NEWLY-dead
    # set (dead_i = alive nodes whose deg < k): identical fixed-sweep
    # contract by induction (D_i = D_{i-1}|survivors - loss(dead_i) is
    # exactly the degree within alive_i), and the per-sweep join side
    # shrinks from alive-sized to newly-dead-sized — usually tiny and
    # runtime-broadcastable by AQE (deg is materialized each sweep, so
    # the filter's output size is known). Worst case (everything dies
    # in one sweep) equals the old cost; it is never worse.
    deg = (
        e.groupBy("a")
        .agg(F.count(F.lit(1)).alias("deg"))
        .select(F.col("a").alias("id"), "deg")
    )
    for _ in range(n_iter):
        deg = materialize(deg)  # feeds dead, survivors, and the loss join
        dead = deg.where(F.col("deg") < k).select("id")
        survivors = deg.where(F.col("deg") >= k)
        loss = (
            e.join(dead.select(F.col("id").alias("b")), "b")
            .groupBy("a")
            .agg(F.count(F.lit(1)).alias("lost"))
            .select(F.col("a").alias("id"), "lost")
        )
        deg = survivors.join(loss, "id", "left").select(
            "id", (F.col("deg") - F.coalesce("lost", F.lit(0))).alias("deg")
        )
    # survivors of exactly n_iter sweeps with their degree inside the
    # surviving set (NO extra peel — that would silently run an
    # (n_iter+1)-th sweep; at convergence every degree is >= k anyway;
    # a not-yet-converged isolated survivor legitimately reports 0)
    out = materialize(deg.select("id", F.col("deg").alias("core_deg")))
    e.unpersist()
    return out


def _kcore_local(pdf, k, n_iter):
    import numpy as np  # noqa: PLC0415
    import pandas as pd  # noqa: PLC0415

    ids, a, b = undirected_indexed(pdf)
    n = len(ids)
    alive = np.ones(n, dtype=bool)
    for _ in range(n_iter):
        sel = alive[a] & alive[b]
        deg = np.bincount(a[sel], minlength=n)
        alive = alive & (deg >= k)
    # same final contract as the distributed path: survivors of exactly
    # n_iter sweeps with their degree inside the surviving set
    sel = alive[a] & alive[b]
    deg = np.bincount(a[sel], minlength=n)
    return pd.DataFrame({"id": ids[alive], "core_deg": deg[alive].astype(np.int64)})
