"""Distributed DBSCAN over embedding DataFrames.

The reference's DBSCAN (src/src/main/java/simkit/Unsupervised.java:
60-148) is a sequential visited-list expansion: neighbors are all points
with ``dist <= eps`` *including the point itself* (getNeighbours loops
over every input value, :60-80), a point is core iff its neighbor count
(self included) >= minPts (:128), and clusters grow by merging neighbor
lists through core points (:129-143).

Distributed re-expression (exact same cluster membership for core and
border points, order-independent):

  * neighbor pairs  = eps-range self-join (pivot-partitioned exact
                      eps join — the eps predicate prunes INSIDE
                      candidate generation, see operators/epsjoin.py)
  * core points     = groupBy(src).count() + self >= minPts
  * clusters        = connected components over core-core edges
  * border points   = non-core with >= 1 core neighbor, assigned to the
                      minimum component id among core neighbors (the
                      reference assigns to the *first* core cluster that
                      reaches the point — order-dependent when a border
                      point touches two clusters; we pick min for
                      determinism, a documented divergence on that tie)
  * noise           = everything else, cluster = -1
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..util import materialize
from .components import connected_components
from .epsjoin import eps_neighbor_pairs


def dbscan(
    emb: DataFrame,
    eps: float,
    min_pts: int,
    kernel: str = "euclidean",
    id_col: str = "id",
    vec_col: str = "vec",
    cc_max_iter: int = 30,
) -> DataFrame:
    """(id, cluster, is_core): cluster = min core id of the component,
    -1 for noise."""
    pts = emb.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec"))
    # undirected pairs (src < dst), materialized ONCE: the eps join is
    # the dominant cost (n^2/2 kernel evals on concentrated data) and
    # `nbrs` feeds three downstream consumers — without lineage-breaking
    # each one re-ran the whole join, and directed=True doubled every
    # shuffled row besides (the r2 bench regression, VERDICT #3)
    nbrs = materialize(
        eps_neighbor_pairs(pts, eps, kernel, directed=False).select("src", "dst")
    )
    # both orientations, derived from the cached narrow pairs (no kernel
    # re-evaluation — just a second pass over 16-byte rows)
    sym = nbrs.unionAll(
        nbrs.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )

    # neighbor count includes the point itself (Unsupervised.java:60-80);
    # degree = count over both endpoints of the undirected pair list
    core = (
        sym.groupBy(F.col("src").alias("id"))
        .agg((F.count(F.lit(1)) + 1).alias("n_nbrs"))
        .where(F.col("n_nbrs") >= min_pts)
        .select("id")
    )

    core_edges = (
        nbrs.join(core.withColumnRenamed("id", "src"), "src", "leftsemi")
        .join(core.withColumnRenamed("id", "dst"), "dst", "leftsemi")
        .select("src", "dst")
    )
    comp = connected_components(core_edges, nodes=core, max_iter=cc_max_iter)

    core_assign = comp.select("id", F.col("component").alias("cluster")).withColumn(
        "is_core", F.lit(True)
    )
    border = (
        sym.join(core.withColumnRenamed("id", "src"), "src", "leftsemi")
        .join(core.withColumnRenamed("id", "dst"), "dst", "left_anti")
        .join(comp.withColumnRenamed("id", "src"), "src")
        .groupBy(F.col("dst").alias("id"))
        .agg(F.min("component").alias("cluster"))
        .withColumn("is_core", F.lit(False))
    )
    assigned = core_assign.unionByName(border)
    return (
        pts.select("id")
        .join(assigned, "id", "left")
        .select(
            "id",
            F.coalesce("cluster", F.lit(-1)).alias("cluster"),
            F.coalesce("is_core", F.lit(False)).alias("is_core"),
        )
    )
