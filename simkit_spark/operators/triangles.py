"""Triangle counting + local clustering coefficient over an edge list —
graph-quality metrics for the constructed KG / similarity graph (a
near-zero coefficient on a kNN graph flags degenerate embeddings; the
triangle distribution is the standard community-structure probe).

Scale design: the classic degree-ordered orientation (each undirected
edge points from its lower-(degree, id) endpoint to the higher one)
makes the wedge self-join the bounded step — out-degrees under this
orientation are O(sqrt(m)) (graph arboricity), so the join fan-out is
sum(outdeg^2) instead of sum(deg^2), which is what lets one hot node
with a million neighbors NOT produce 10^12 wedge rows. Every triangle
{x<y<z} (by the orientation order) appears exactly once as wedge
(x->y, x->z) closed by the oriented edge y->z: three equi-joins and a
hash aggregation, no windows, no driver state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..functions.dedup import _md5_long
from .graphs import undirected


def _oriented_triangles(e: DataFrame, deg: DataFrame) -> DataFrame:
    """dedup'd (u, v) edges + (id, degree) -> one row (a, b1, b2) per
    triangle, at its degree-orientation-minimal corner."""
    ed = (
        e.join(deg.select(F.col("id").alias("u"), F.col("degree").alias("du")), "u")
        .join(deg.select(F.col("id").alias("v"), F.col("degree").alias("dv")), "v")
    )
    lt = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    oriented = ed.select(
        F.when(lt, F.col("u")).otherwise(F.col("v")).alias("a"),
        F.when(lt, F.col("v")).otherwise(F.col("u")).alias("b"),
    )
    # wedges at the triangle's orientation-minimal corner, closed by the
    # oriented third edge: each triangle matches exactly once (only one
    # of (b1,b2)/(b2,b1) exists in `oriented`)
    return (
        oriented.alias("e1")
        .join(oriented.alias("e2"), "a")
        .select("a", F.col("e1.b").alias("b1"), F.col("e2.b").alias("b2"))
        .where(F.col("b1") != F.col("b2"))
        .join(
            oriented.select(F.col("a").alias("b1"), F.col("b").alias("b2")),
            ["b1", "b2"],
            "leftsemi",
        )
    )


def triangle_counts(edges: DataFrame) -> DataFrame:
    """(src, dst) edge list in any orientation/duplication ->
    (id, degree, triangles, coeff): per-node triangle count and local
    clustering coefficient 2T/(deg*(deg-1)) (0 when deg < 2), over the
    de-duplicated undirected simple graph (self-loops dropped).
    """
    e = undirected(edges)
    deg = (
        e.select(F.col("u").alias("id"))
        .union(e.select(F.col("v").alias("id")))
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    tri = _oriented_triangles(e, deg)
    corners = (
        tri.select(F.col("a").alias("id"))
        .union(tri.select(F.col("b1").alias("id")))
        .union(tri.select(F.col("b2").alias("id")))
    )
    t = corners.groupBy("id").agg(F.count(F.lit(1)).alias("triangles"))
    return (
        deg.join(t, "id", "left")
        .select(
            "id",
            "degree",
            F.coalesce("triangles", F.lit(0)).cast("long").alias("triangles"),
            F.round(
                F.when(
                    F.col("degree") >= 2,
                    2.0
                    * F.coalesce("triangles", F.lit(0))
                    / (F.col("degree") * (F.col("degree") - 1)),
                ).otherwise(F.lit(0.0)),
                6,
            ).alias("coeff"),
        )
    )


def sampled_triangle_total(
    edges: DataFrame, num: int, den: int, seed: int = 42
) -> DataFrame:
    """DOULION-style sparsified global triangle count (Tsourakakis et
    al., KDD'09): keep each undirected dedup'd edge with probability
    p = num/den, count triangles EXACTLY on the sparsified graph, and
    return the unbiased estimate T_sample / p^3 — the scale path where
    exact counting's sum(outdeg^2) wedge join is too hot (10^12-edge
    KGs): sparsifying at p shrinks the wedge join by ~p^2 and the
    count's variance concentrates for p^3 * T >> 1.

    One row: (n_edges_sampled, tri_sampled, tri_estimate). The keep
    decision is md5(u:v:seed) mod den < num — deterministic (re-runs
    and engines agree bit-for-bit; a DuckDB twin reproduces the exact
    sample), partition-independent, and p is exact up to the ~den/2^32
    remainder bias of the 32-bit hash. tri_estimate = tri_sampled *
    (den/num)^3 computed as one int->double convert and one multiply by
    a python-evaluated constant — bit-identical across engines.
    """
    if not (0 < num <= den):
        raise ValueError(f"need 0 < num <= den, got {num}/{den}")
    e = undirected(edges)
    kept = e.where(
        _md5_long(
            F.concat_ws(
                ":",
                F.col("u").cast("string"),
                F.col("v").cast("string"),
                F.lit(str(seed)),
            )
        )
        % den
        < num
    ).persist()
    deg = (
        kept.select(F.col("u").alias("id"))
        .union(kept.select(F.col("v").alias("id")))
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    factor = (float(den) / float(num)) ** 3
    n_edges = kept.agg(F.count(F.lit(1)).cast("long").alias("n_edges_sampled"))
    tri = _oriented_triangles(kept, deg).agg(
        F.count(F.lit(1)).cast("long").alias("tri_sampled")
    )
    return n_edges.crossJoin(tri).select(
        "n_edges_sampled",
        "tri_sampled",
        (F.col("tri_sampled").cast("double") * F.lit(factor)).alias("tri_estimate"),
    )
