"""Harmonic centrality by bounded multi-source BFS — the node-importance
signal used to pick seed/anchor entities in a constructed KG (which
entities to canonicalize first, which to keep under contamination
pressure). Harmonic centrality h(v) = sum over sources u != v reachable
within ``max_hops`` of 1/d(u, v); unlike closeness it is defined on
disconnected graphs, which constructed similarity graphs always are.

Exact-at-scale design: all-pairs BFS is Theta(n*m) and unpayable at
10^9 nodes, so the standard estimator samples sources (Eppstein-Wang)
— here an md5-deterministic sample (lowest hash wins, ties by id), so
every engine picks the same sources and the DuckDB twin is exact. The
BFS itself is ``graphs.relax`` keyed by source over ONE fixed
hash-partitioned edge layout (``graphs.adjacency``).

Float contract: 1/d sums are accumulated as integers scaled by
lcm(1..max_hops) (12 for the default 4), so the sum is
order/partitioning-independent and the single final divide is exact —
the same exact-integer trick as the PageRank 12dp contract, with no
rounding drift possible at all.
"""

from __future__ import annotations

from math import lcm

from pyspark.sql import DataFrame, functions as F

from ..util import materialize
from .graphs import adjacency, relax, undirected


def _md5_rank(col: F.Column, seed: int) -> F.Column:
    key = F.concat_ws(":", F.lit(str(seed)), col.cast("string"))
    return F.conv(F.substring(F.md5(key), 1, 8), 16, 10).cast("long")


def harmonic_centrality(
    edges: DataFrame,
    max_hops: int = 4,
    n_sources: int | None = None,
    seed: int = 42,
) -> DataFrame:
    """(src, dst) in any orientation -> (node_id, n_reached, harmonic):
    for every node reached by at least one sampled source within
    ``max_hops`` undirected hops, the number of sources that reach it
    and the harmonic sum of BFS distances from those sources
    (self-distances excluded). ``n_sources=None`` uses every node as a
    source (exact harmonic centrality restricted to the hop bound)."""
    if max_hops < 1:
        raise ValueError(f"max_hops must be >= 1, got {max_hops}")
    e = adjacency(undirected(edges))
    nodes = e.select(F.col("a").alias("id")).distinct()
    if n_sources is None:
        srcs = nodes
    else:
        # deterministic Eppstein-Wang source sample: lowest md5 wins.
        # n_sources is small by construction (the estimator's k), so the
        # global TakeOrdered is driver-sized, never a full sort.
        srcs = (
            nodes.orderBy(_md5_rank(F.col("id"), seed).asc(), F.col("id").asc())
            .limit(n_sources)
            .select("id")
        )
    labels = srcs.select(F.col("id").alias("origin"), "id", F.lit(0).alias("val"))
    dist, _ = relax(
        e.select(F.col("a").alias("src"), F.col("b").alias("dst")),
        labels, lambda v: v + 1, max_hops, by=("origin",),
    )
    scale = lcm(*range(1, max_hops + 1))
    out = (
        dist.where(F.col("val") > 0)
        .groupBy(F.col("id").alias("node_id"))
        .agg(
            F.count(F.lit(1)).alias("n_reached"),
            F.sum(F.lit(scale).cast("long") / F.col("val")).cast("long").alias("num"),
        )
        .select(
            "node_id",
            "n_reached",
            F.round(F.col("num") / F.lit(float(scale)), 6).alias("harmonic"),
        )
    )
    e.unpersist()
    return out


def stress_centrality(
    edges: DataFrame,
    max_hops: int = 8,
    n_sources: int | None = 64,
    seed: int = 42,
) -> DataFrame:
    """Bounded stress centrality (Shimbel'53) — the all-integer member
    of the betweenness family: stress(v) = the NUMBER of shortest
    paths (from the sampled sources, length 1..max_hops, over the
    undirected graph) that pass through v as an intermediate node.
    Betweenness proper sums sigma_st(v)/sigma_st fractions whose
    float accumulation order is engine-dependent; the unnormalized
    count is exact-integer end to end, so the DuckDB twin matches
    bit-for-bit — same determinism trade the PageRank family makes.

    Two level-synchronous passes per the Brandes decomposition:
    forward BFS accumulates sigma(s, v) = #shortest s->v paths per
    level; backward, N(s, v) = sum over DAG successors w of
    (1 + N(s, w)) counts the shortest-path continuations below v, and
    sigma * N is the number of source-paths THROUGH v. Continuations
    beyond the hop bound are truncated (the bounded_sssp contract).

    Returns (id, stress) for every node (0 when never intermediate).

    Scale: the (source, node) state is |S| * n rows; per level ONE
    equi-join into the fixed edge layout + one hash agg (forward), and
    the same backward — the harmonic_centrality frontier shape with an
    extra integer column. Sources are the md5-deterministic
    Eppstein-Wang sample (lowest hash, ties by id); the DEFAULT is a
    bounded 64-source sample so the (source, node) state never
    silently goes n² — ``n_sources=None`` still means exact
    (every node as a source) but is an explicit opt-in and warns
    loudly about the quadratic state it builds.
    """
    if max_hops < 1:
        raise ValueError(f"max_hops must be >= 1, got {max_hops}")
    if n_sources is None:
        import warnings

        warnings.warn(
            "stress_centrality(n_sources=None) uses EVERY node as a "
            "source: (source, node) state is n^2 rows. This is an "
            "explicit exact-mode opt-in — pass a bounded sample size "
            "(default 64) for large graphs.",
            ResourceWarning,
            stacklevel=2,
        )
    e = adjacency(undirected(edges))
    nodes = e.select(F.col("a").alias("id")).distinct().transform(materialize)
    if n_sources is None:
        srcs = nodes
    else:
        srcs = (
            nodes.orderBy(_md5_rank(F.col("id"), seed).asc(), F.col("id").asc())
            .limit(n_sources)
            .select("id")
        )
    levels = [
        materialize(
            srcs.select(
                F.col("id").alias("src"),
                F.col("id").alias("node"),
                F.lit(1).cast("long").alias("sigma"),
            )
        )
    ]
    visited = levels[0].select("src", "node")
    for _ in range(max_hops):
        nxt = (
            levels[-1].join(e, levels[-1]["node"] == e["a"])
            .groupBy("src", F.col("b").alias("node2"))
            .agg(F.sum("sigma").alias("sigma"))
            .withColumnRenamed("node2", "node")
            .join(visited, ["src", "node"], "left_anti")
        )
        nxt = materialize(nxt)
        if nxt.isEmpty():
            break
        levels.append(nxt)
        visited = materialize(visited.unionByName(nxt.select("src", "node")))
    # backward: continuations N(s, v); deepest level has none in-bound
    ndf = levels[-1].select("src", "node", F.lit(0).cast("long").alias("n"))
    contribs = []
    if len(levels) > 1:
        contribs.append(
            levels[-1].select("node", (F.col("sigma") * F.lit(0)).alias("c"))
        )
    for h in range(len(levels) - 2, -1, -1):
        cur = levels[h]
        succ_sum = (
            cur.join(e, cur["node"] == e["a"])
            .select("src", "node", F.col("b").alias("w"))
            .join(
                ndf.select(
                    "src", F.col("node").alias("w"), F.col("n").alias("nw")
                ),
                ["src", "w"],
            )
            .groupBy("src", "node")
            .agg(F.sum(F.lit(1) + F.col("nw")).alias("n"))
        )
        ndf = materialize(
            cur.select("src", "node", "sigma")
            .join(succ_sum, ["src", "node"], "left")
            .select("src", "node", "sigma", F.coalesce("n", F.lit(0)).alias("n"))
        )
        if h >= 1:  # sources themselves are never intermediates
            contribs.append(
                ndf.select("node", (F.col("sigma") * F.col("n")).alias("c"))
            )
        ndf = ndf.select("src", "node", "n")
    out = nodes
    if contribs:
        allc = contribs[0]
        for c in contribs[1:]:
            allc = allc.unionByName(c)
        agg = allc.groupBy(F.col("node").alias("id")).agg(
            F.sum("c").alias("stress")
        )
        out = nodes.join(agg, "id", "left").select(
            "id", F.coalesce("stress", F.lit(0)).cast("long").alias("stress")
        )
    else:
        out = nodes.select("id", F.lit(0).cast("long").alias("stress"))
    e.unpersist()
    return out
