"""Weisfeiler-Lehman color refinement (1-WL) — structural fingerprints
for graph nodes: after t rounds two nodes share a color iff 1-WL cannot
distinguish their t-hop neighborhood structure. The per-node colors are
the standard building block for structural-role discovery (which
entities play the same position in the constructed KG), WL graph
kernels, and graph-dedup hashing (the multiset of final colors is a
canonical-ish graph signature).

Refinement rule (public algorithm, Weisfeiler-Lehman 1968 / Shervashidze
et al. 2011): color_0 = degree; color_{t+1} = H(color_t || sorted
multiset of neighbor color_t). H here is md5 truncated to 16 hex chars
— deterministic and engine-portable, so the DuckDB twin is exact (the
same portability property every md5-keyed operator in this repo uses).

Scale shape: per round, ONE join of the node-color table into the fixed
persisted edge layout + ONE hash agg whose value is
concat_ws(sorted collect_list) — the list is degree-bounded, so memory
per group is the same neighbor-list bound every collect_list operator
here lives with (cap hubs upstream if degrees are unbounded; the kNN /
mutual-kNN graphs this runs on are degree-capped by construction).
Color lineage is broken every round (the iterative-plan lesson).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..util import materialize
from .graphs import adjacency, undirected


def wl_colors(edges: DataFrame, iters: int = 2) -> DataFrame:
    """(src, dst) any orientation -> (node_id, wl_color) after ``iters``
    refinement rounds over the symmetrized simple graph; isolated nodes
    (no surviving edge) are excluded, as everywhere in this package."""
    if iters < 1:
        raise ValueError(f"iters must be >= 1, got {iters}")
    e = adjacency(undirected(edges))
    colors = materialize(
        e.groupBy(F.col("a").alias("node_id")).agg(
            F.count(F.lit(1)).cast("string").alias("color")
        )
    )
    for _ in range(iters):
        nb = e.join(
            colors.select(F.col("node_id").alias("b"), F.col("color").alias("nc")),
            "b",
        ).select(F.col("a").alias("node_id"), "nc")
        colors = materialize(
            colors.join(
                nb.groupBy("node_id").agg(
                    F.concat_ws(",", F.sort_array(F.collect_list("nc"))).alias("ns")
                ),
                "node_id",
            ).select(
                "node_id",
                F.substring(
                    F.md5(F.concat_ws("|", F.col("color"), F.col("ns"))), 1, 16
                ).alias("color"),
            )
        )
    e.unpersist()
    return colors.select("node_id", F.col("color").alias("wl_color"))
