"""GraphSAGE-style deterministic neighborhood sampling — the
minibatch-construction step of GNN training over the constructed KG:
for every root node, sample up to ``fanouts[h]`` neighbors at hop h+1,
expanding from the previous hop's sampled frontier (Hamilton et al.
2017, public method). The sample is md5-ranked (lowest hash wins, ties
by neighbor id) and keyed on (seed, root, hop, parent, neighbor), so
every engine, partitioning, and re-run draws the SAME neighborhoods —
reproducible GNN training data, and an exact DuckDB twin.

Scale shape: hop h is ONE join of the sampled hop-(h-1) frontier into
the fixed persisted edge layout followed by ONE window cut partitioned
by (root, parent) — the window ranks only frontier x degree candidate
rows, and the per-group state is fanout-bounded. Frontier lineage is
broken per hop. Output is long-format (root, hop, parent, node_id) —
hop 0 is the root itself (parent = root), matching the walk-corpus
convention.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from ..util import materialize
from .graphs import adjacency, undirected


def _rank_hash(seed: int, hop: int, root, parent, nb) -> F.Column:
    key = F.concat_ws(
        ":",
        F.lit(str(seed)),
        root.cast("string"),
        F.lit(str(hop)),
        parent.cast("string"),
        nb.cast("string"),
    )
    return F.conv(F.substring(F.md5(key), 1, 8), 16, 10).cast("long")


def sample_neighborhoods(
    edges: DataFrame, fanouts: list[int], seed: int = 42
) -> DataFrame:
    """(src, dst) any orientation -> (root, hop, parent, node_id):
    every non-isolated node is a root; hop h+1 holds up to
    ``fanouts[h]`` md5-sampled neighbors of each hop-h node. Sampled
    nodes may repeat across branches (GraphSAGE samples WITH repetition
    across parents — each parent draws independently)."""
    if not fanouts or any(f < 1 for f in fanouts):
        raise ValueError(f"fanouts must be non-empty positive ints, got {fanouts}")
    e = adjacency(undirected(edges))
    frontier = materialize(
        e.select(F.col("a").alias("root")).distinct().select(
            "root", F.col("root").alias("node")
        )
    )
    out = frontier.select(
        "root", F.lit(0).alias("hop"), F.col("root").alias("parent"),
        F.col("node").alias("node_id"),
    )
    for h, fanout in enumerate(fanouts, start=1):
        cand = frontier.join(e, frontier["node"] == e["a"]).select(
            "root",
            F.col("a").alias("parent"),
            F.col("b").alias("node"),
            _rank_hash(seed, h, F.col("root"), F.col("a"), F.col("b")).alias("rh"),
        )
        w = Window.partitionBy("root", "parent").orderBy(
            F.col("rh").asc(), F.col("node").asc()
        )
        picked = (
            cand.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") <= fanout)
            .select("root", "parent", "node")
        )
        # expansion frontier is the DISTINCT (root, node) set: a node
        # reached via several parents expands ONCE per root (the draw
        # is keyed on (root, hop, parent=node), so it is identical for
        # every branch anyway — dedup here prevents duplicate-row
        # blowup, not a semantic change)
        frontier = materialize(picked.select("root", "node").distinct())
        out = out.unionByName(
            picked.select(
                "root", F.lit(h).alias("hop"), "parent",
                F.col("node").alias("node_id"),
            )
        )
    e.unpersist()
    return out
