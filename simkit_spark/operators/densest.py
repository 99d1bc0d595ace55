"""Densest-subgraph peeling (Charikar'00 greedy, parallelized as
Bahmani/Kumar/Vassilvitskii VLDB'12).

density(S) = |E(S)| / |S|. Each round removes every node whose degree
is <= 2(1+eps) * density(S) at once; Bahmani et al. prove the best
surviving round is a 2(1+eps)-approximation of the densest subgraph,
in O(log_{1+eps} n) rounds — the dense-core detector for similarity
graphs (over-merged entity blocks, spam/fraud cliques, hub cores)
where exact flow-based densest subgraph cannot scale.

``eps`` is fixed at 0.5 so the peel threshold is the INTEGER test
deg * n <= 3 * m — no float density ever enters a comparison, which is
what makes the DuckDB twin exact and the rounds engine-independent.

Returns one row per non-empty round: (round, n_nodes, n_edges,
density) with density = m/n rounded 6 dp — the full peeling trajectory
(the consumer takes the max-density round; returning the trajectory
keeps the operator a pure DataFrame job with no driver-side argmax).

Scale shape: per round ONE degree aggregation over the surviving edge
list + two semi-joins filtering edges by surviving endpoints; the edge
list shrinks geometrically (survivors < n/(1+eps) per round), so total
work is O(m log n) with every step an equi-join/hash-agg.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..util import materialize
from .graphs import undirected


def densest_subgraph_rounds(
    edges: DataFrame,
    max_rounds: int = 25,
) -> DataFrame:
    """Peeling trajectory over the undirected canonicalized graph
    (u < v, parallel edges collapse). Raises if the peel has not
    emptied the graph within ``max_rounds`` (loud, not truncated)."""
    import pandas as pd

    e = materialize(undirected(edges))
    spark = edges.sparkSession
    rows = []
    for rnd in range(1, max_rounds + 1):
        m = e.count()
        if m == 0:
            # density rounds ENGINE-side (F.round = HALF_UP, matching
            # DuckDB's half-away on positives) — python round() is
            # half-EVEN and diverges on exact-half doubles like 129/128
            return spark.createDataFrame(
                pd.DataFrame(rows, columns=["round", "n_nodes", "n_edges"]),
                schema="round int, n_nodes bigint, n_edges bigint",
            ).select(
                "round",
                "n_nodes",
                "n_edges",
                F.round(F.col("n_edges") / F.col("n_nodes"), 6).alias("density"),
            )
        deg = (
            e.select(F.explode(F.array("u", "v")).alias("id"))
            .groupBy("id")
            .agg(F.count(F.lit(1)).alias("d"))
            .transform(materialize)
        )
        n = deg.count()
        rows.append((rnd, n, m))
        # integer peel test: keep d * n > 3 * m  (eps = 0.5)
        keep = deg.where(F.col("d") * F.lit(n) > F.lit(3 * m)).select("id")
        e = materialize(
            e.join(keep.withColumnRenamed("id", "u"), "u", "leftsemi").join(
                keep.withColumnRenamed("id", "v"), "v", "leftsemi"
            )
        )
    raise RuntimeError(
        f"densest-subgraph peel did not empty the graph in {max_rounds} rounds"
    )
