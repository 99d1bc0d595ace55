"""Fixed-sweep k-truss peeling over an edge list — the EDGE-cohesion
filter for the constructed knowledge graph: keep the maximal subgraph
where every edge sits in >= k-2 triangles *inside the subgraph*. The
k-truss is strictly stronger than the (k-1)-core (every k-truss edge's
endpoints survive the (k-1)-core) and is the standard "dense nucleus"
probe for entity-cluster quality: spurious entity merges create bridge
edges with no triangle support, which truss peeling removes while the
genuinely-duplicated entity cliques survive (same motivation as the
reference's mutual-kNN tightening of the similarity graph,
GraphTransform.java:99-121 — reciprocity as an edge-quality vote;
k-truss generalizes it from 1 reciprocal witness to k-2 triangle
witnesses).

Semantics (deterministic): undirected simple graph (edges canonicalized
least/greatest, self-loops dropped, duplicates collapsed). Sweep t:
every surviving edge recomputes its support = number of triangles it
closes among *surviving* edges, and is peeled if support < k-2. Fixed
``n_iter`` sweeps — peeling is monotone (the edge set only shrinks), so
once a sweep removes nothing the answer IS the exact k-truss; a fixed
sweep count therefore both (a) has well-defined output a SQL oracle can
replay exactly (all-integer, no rounding contract) and (b) equals the
true k-truss whenever convergence happens within the budget (the kcore
contract, kcore.py:13-21).

Scale design: support is derived from the degree-ordered oriented wedge
join (triangles._oriented_triangles) — per sweep the join fan-out is
sum(outdeg^2) under the orientation, i.e. O(m^1.5) worst case and
arboricity-bounded in practice, NOT sum(deg^2) (one million-neighbor
hub never produces 10^12 wedge rows). Each sweep emits each surviving
triangle once, explodes it to its 3 undirected edges, and one hash
aggregation yields supports; lineage is broken per sweep
(util.materialize) because the edge set feeds both the wedge join (3
references) and the final projection — iterative lazy plans re-evaluate
shared segments combinatorially (the pagerank/LPA lesson).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..util import materialize, size_dispatch
from .graphs import undirected
from .triangles import _oriented_triangles


def _edge_support(e: DataFrame) -> DataFrame:
    """dedup'd (u, v) edge set -> (u, v, sup): triangle support of every
    edge WITH at least one triangle (support-0 edges emit no row)."""
    deg = (
        e.select(F.col("u").alias("id"))
        .union(e.select(F.col("v").alias("id")))
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    tri = _oriented_triangles(e, deg)
    # each triangle (a, b1, b2) supports its 3 undirected edges; the
    # corner pair (a,b1)/(a,b2) is already canonical only per
    # orientation, so re-normalize with least/greatest
    sides = (
        tri.select(
            F.least("a", "b1").alias("u"), F.greatest("a", "b1").alias("v")
        )
        .union(
            tri.select(
                F.least("a", "b2").alias("u"), F.greatest("a", "b2").alias("v")
            )
        )
        .union(
            tri.select(
                F.least("b1", "b2").alias("u"), F.greatest("b1", "b2").alias("v")
            )
        )
    )
    return sides.groupBy("u", "v").agg(F.count(F.lit(1)).alias("sup"))


def ktruss(edges: DataFrame, k: int, n_iter: int = 10) -> DataFrame:
    """(src, dst) in any orientation -> (u, v, sup) for the edges
    surviving ``n_iter`` support-peeling sweeps at threshold ``k``
    (sup >= k-2 to survive); sup is the triangle support within the
    surviving edge set (a not-yet-converged support-0 survivor
    legitimately reports 0 — the kcore final-sweep contract).

    Size-dispatched (``util.size_dispatch``): a driver-sized graph runs
    a python set-intersection peeling loop over one Arrow collect,
    which beats ~4 shuffle stages per sweep; a larger one runs the
    distributed sweeps. All-integer, so the two paths are exactly
    identical (parity-tested)."""
    if k < 3:
        raise ValueError(f"k-truss needs k >= 3 (k-2 triangle witnesses), got {k}")
    return size_dispatch(
        edges.select("src", "dst"),
        lambda pdf: _ktruss_local(pdf, k, n_iter),
        lambda e: _ktruss_dist(e, k, n_iter),
        "u {id}, v {id}, sup long",
    )


def _ktruss_dist(edges: DataFrame, k: int, n_iter: int) -> DataFrame:
    """Distributed path of ``ktruss``."""
    cur = materialize(undirected(edges))
    for _ in range(n_iter):
        sup = _edge_support(cur)
        # support-0 edges have no sup row: inner join drops them, which
        # IS the peel at k-2 >= 1
        cur = materialize(
            cur.join(sup, ["u", "v"]).where(F.col("sup") >= k - 2).select("u", "v")
        )
    final_sup = _edge_support(cur)
    return cur.join(final_sup, ["u", "v"], "left").select(
        "u", "v", F.coalesce("sup", F.lit(0)).cast("long").alias("sup")
    )


def _ktruss_local(pdf, k, n_iter):
    import pandas as pd  # noqa: PLC0415

    cur = {
        (min(a, b), max(a, b))
        for a, b in zip(pdf["src"], pdf["dst"])
        if a != b
    }
    for _ in range(n_iter):
        nbr: dict = {}
        for u, v in cur:
            nbr.setdefault(u, set()).add(v)
            nbr.setdefault(v, set()).add(u)
        cur = {
            (u, v) for u, v in cur if len(nbr[u] & nbr[v]) >= k - 2
        }
    nbr = {}
    for u, v in cur:
        nbr.setdefault(u, set()).add(v)
        nbr.setdefault(v, set()).add(u)
    rows = sorted((u, v, len(nbr[u] & nbr[v])) for u, v in cur)
    return pd.DataFrame(rows, columns=["u", "v", "sup"])
