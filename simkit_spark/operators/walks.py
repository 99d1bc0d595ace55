"""Deterministic random-walk corpus generation over an edge list — the
node2vec/DeepWalk preprocessing step that turns the constructed KG's
similarity graph into training sequences for embedding models (walks
are to graph-embedding training what shuffled documents are to LM
training; this is the bridge from the KG-construction pipeline to a
GNN/skip-gram training-data pipeline).

Determinism: the "random" next hop from ``cur`` at step ``t`` of walk
``w`` is the neighbor minimizing md5("<seed>:<start>:<w>:<t>:<cur>:<b>")
(first 8 hex chars as a bigint — the repo's portable md5 hash family,
identical in Spark and DuckDB), ties broken by neighbor id. Every
engine, partitioning, and re-run reproduces the same walks — the same
property all curation operators here guarantee — while the hash varies
per (walk, step, position) so walks diverge like random ones.

Scale design: one symmetric edge table hash-partitioned on its join key
ONCE and persisted; each step joins the (n·walks_per_node)-row frontier
into that fixed layout and picks the argmin neighbor with a
min(struct(score, b)) aggregation — map-side partials, never a per-node
window sort over the frontier×degree join output. Frontier lineage is
broken every step (iterative-plan lesson from pagerank/LPA). Walk
storage is long-format (one row per step) — the downstream
sequence-packer shapes it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .. import util
from ..util import materialize, size_dispatch
from .graphs import adjacency, undirected


def _score(seed: int, step: int, start, w, cur, b) -> F.Column:
    """md5-derived next-hop score in [0, 2^32) — bit-identical to the
    DuckDB twin CAST(concat('0x', substring(md5(...), 1, 8)) AS BIGINT)."""
    key = F.concat_ws(
        ":",
        F.lit(str(seed)),
        start.cast("string"),
        w.cast("string"),
        F.lit(str(step)),
        cur.cast("string"),
        b.cast("string"),
    )
    return F.conv(F.substring(F.md5(key), 1, 8), 16, 10).cast("long")


_WALKS = "start_id {id}, walk int, step int, node_id {id}"


def random_walks(
    edges: DataFrame,
    walk_len: int = 4,
    walks_per_node: int = 2,
    seed: int = 42,
) -> DataFrame:
    """(src, dst) in any orientation -> (start_id, walk, step, node_id):
    ``walks_per_node`` walks of ``walk_len`` hops from every non-isolated
    node over the symmetrized simple graph; step 0 is the start node.
    A walk that reaches a dead end stops early (cannot happen on a
    symmetrized graph — every reachable node has the return edge).

    Size-dispatched (``util.size_dispatch``) on the distinct pair set:
    a driver-sized graph walks in one hashlib loop over one Arrow
    collect in place of ``walk_len`` sequential join+agg+checkpoint
    rounds; the md5 pick rule is engine-portable, so both paths are
    bit-identical (parity-tested, long and string ids)."""
    und = undirected(edges)
    return size_dispatch(
        und,
        lambda pdf: _walks_local(
            pdf, walk_len, walks_per_node, seed, util.local_dispatch_rows(und.schema)
        ),
        lambda u: _random_walks_from_und(u, walk_len, walks_per_node, seed),
        _WALKS,
    )


def _random_walks_from_und(
    und: DataFrame, walk_len: int, walks_per_node: int, seed: int
) -> DataFrame:
    """Distributed path of ``random_walks`` over the distinct (u < v)
    pair set."""
    e = adjacency(und)
    frontier = (
        e.select(F.col("a").alias("start_id"))
        .distinct()
        .select(
            "start_id",
            F.explode(F.sequence(F.lit(0), F.lit(walks_per_node - 1))).alias("walk"),
        )
        .select("start_id", "walk", F.col("start_id").alias("cur"))
    )
    steps = [
        frontier.select(
            "start_id", "walk", F.lit(0).alias("step"), F.col("cur").alias("node_id")
        )
    ]
    for t in range(1, walk_len + 1):
        nxt = (
            frontier.join(e, frontier["cur"] == e["a"])
            .select(
                "start_id",
                "walk",
                F.struct(
                    _score(
                        seed, t, F.col("start_id"), F.col("walk"),
                        F.col("a"), F.col("b"),
                    ).alias("sc"),
                    F.col("b").alias("nb"),
                ).alias("pick"),
            )
            .groupBy("start_id", "walk")
            .agg(F.min("pick").alias("m"))
            .select("start_id", "walk", F.col("m.nb").alias("cur"))
        )
        frontier = materialize(nxt)
        steps.append(
            frontier.select(
                "start_id", "walk", F.lit(t).alias("step"),
                F.col("cur").alias("node_id"),
            )
        )
    out = steps[0]
    for s in steps[1:]:
        out = out.unionByName(s)
    e.unpersist()
    return out


def _py_score(seed: int, step: int, start, w: int, cur, b) -> int:
    """driver-side replica of ``_score`` — same md5("<seed>:..."), first
    8 hex chars as an int, so picks are bit-identical to the engine."""
    import hashlib

    key = f"{seed}:{start}:{w}:{step}:{cur}:{b}"
    return int(hashlib.md5(key.encode()).hexdigest()[:8], 16)


def _walks_local(pdf, walk_len, walks_per_node, seed, thr, bias=None):
    """Driver twin of both walk operators over the collected (u, v)
    pairs: the pick of each hop minimizes (md5 score * cost, neighbor),
    as the engine does, so the walks do not depend on row order. With
    ``bias`` = (p_cost, q_cost) the cost is node2vec's from step 2 on;
    otherwise it is 1. Declines (None) when the amplified output —
    nodes <= 2 * pairs, so at most 2 * pairs * walks_per_node *
    (walk_len + 1) rows — passes the ``thr`` row budget."""
    import pandas as pd

    if 2 * len(pdf) * walks_per_node * (walk_len + 1) > thr:
        return None
    adj: dict = {}
    for u, v in zip(pdf["u"].tolist(), pdf["v"].tolist()):
        adj.setdefault(u, []).append(v)
        adj.setdefault(v, []).append(u)
    nbrs = {a: set(bs) for a, bs in adj.items()} if bias else {}

    def cost(prev, b) -> int:
        # precedence mirrors the engine's F.when chain: return-to-prev
        # first, then distance-1 (triangle) candidates, then distance-2
        if not bias or prev is None:
            return 1
        if b == prev:
            return bias[0]
        return 1 if b in nbrs[prev] else bias[1]

    rows = []
    for start in adj:
        for w in range(walks_per_node):
            prev, cur = None, start
            rows.append((start, w, 0, cur))
            for t in range(1, walk_len + 1):
                prev, cur = cur, min(
                    adj[cur],
                    key=lambda b: (
                        _py_score(seed, t, start, w, cur, b) * cost(prev, b), b
                    ),
                )
                rows.append((start, w, t, cur))
    return pd.DataFrame(rows, columns=["start_id", "walk", "step", "node_id"])


def node2vec_walks(
    edges: DataFrame,
    walk_len: int = 4,
    walks_per_node: int = 2,
    p_cost: int = 4,
    q_cost: int = 2,
    seed: int = 42,
) -> DataFrame:
    """Second-order (node2vec-style) biased walks: the hop out of
    ``cur`` remembers ``prev`` and prefers candidates by the classic
    search bias — return to ``prev`` costs ``p_cost`` (node2vec
    alpha=1/p), a candidate adjacent to ``prev`` (a triangle-closing
    "BFS-like" hop) costs 1, and a two-hops-away "DFS-like" candidate
    costs ``q_cost`` (alpha=1/q). The pick is the candidate minimizing
    md5_score * cost (ties to the smallest id) — ALL-INTEGER, so every
    engine reproduces the identical walk and the DuckDB twin needs no
    rounding contract. Step 1 has no ``prev`` and is unbiased, exactly
    as in node2vec.

    Scale shape is ``random_walks``' plus one membership probe: the
    per-step frontier joins the fixed hash-partitioned edge layout once
    to enumerate candidates (frontier x degree rows) and once more as a
    composite-key (prev, cand) equi-join to mark distance-1 candidates
    — never a neighbor-list x neighbor-list expansion. Frontier lineage
    breaks every step. Output is the long format of ``random_walks``:
    (start_id, walk, step, node_id), step 0 = start.

    Size-dispatched like ``random_walks``: the all-integer pick rule
    makes the driver twin bit-identical to the distributed dual-layout
    implementation (parity-tested).
    """
    und = undirected(edges)
    return size_dispatch(
        und,
        lambda pdf: _walks_local(
            pdf, walk_len, walks_per_node, seed,
            util.local_dispatch_rows(und.schema), (p_cost, q_cost),
        ),
        lambda u: _node2vec_from_und(
            u, walk_len, walks_per_node, p_cost, q_cost, seed
        ),
        _WALKS,
    )


def _node2vec_from_und(
    und: DataFrame,
    walk_len: int,
    walks_per_node: int,
    p_cost: int,
    q_cost: int,
    seed: int,
) -> DataFrame:
    """Distributed path of ``node2vec_walks`` over the distinct (u < v)
    pair set."""
    e = adjacency(und)
    frontier = (
        e.select(F.col("a").alias("start_id"))
        .distinct()
        .select(
            "start_id",
            F.explode(F.sequence(F.lit(0), F.lit(walks_per_node - 1))).alias("walk"),
        )
        .select("start_id", "walk", F.col("start_id").alias("cur"))
    )
    steps = [
        frontier.select(
            "start_id", "walk", F.lit(0).alias("step"), F.col("cur").alias("node_id")
        )
    ]
    # step 1: uniform (no prev) — identical pick rule to random_walks
    nxt = (
        frontier.join(e, frontier["cur"] == e["a"])
        .select(
            "start_id",
            "walk",
            F.col("a").alias("prev_cand"),
            F.struct(
                _score(
                    seed, 1, F.col("start_id"), F.col("walk"), F.col("a"), F.col("b")
                ).alias("sc"),
                F.col("b").alias("nb"),
            ).alias("pick"),
        )
        .groupBy("start_id", "walk", "prev_cand")
        .agg(F.min("pick").alias("m"))
        .select(
            "start_id",
            "walk",
            F.col("prev_cand").alias("prev"),
            F.col("m.nb").alias("cur"),
        )
    )
    frontier = materialize(nxt)
    steps.append(
        frontier.select(
            "start_id", "walk", F.lit(1).alias("step"), F.col("cur").alias("node_id")
        )
    )
    # membership probe side: a SECOND persisted layout keyed on the
    # composite (prev, cand) join key — without it the probe join
    # reshuffles the full edge set by (pa, pb) EVERY step (the hits.py
    # dual-layout lesson: one upfront shuffle buys zero per-sweep
    # edge exchanges)
    pe = (
        e.select(F.col("a").alias("pa"), F.col("b").alias("pb"))
        .repartition("pa", "pb")
        .sortWithinPartitions("pa", "pb")
        .persist()
    )
    for t in range(2, walk_len + 1):
        cand = frontier.join(e, frontier["cur"] == e["a"]).select(
            "start_id", "walk", "prev", F.col("a").alias("at"), "b",
            _score(
                seed, t, F.col("start_id"), F.col("walk"), F.col("a"), F.col("b")
            ).alias("sc"),
        )
        cand = cand.join(
            pe, (cand["prev"] == pe["pa"]) & (cand["b"] == pe["pb"]), "left"
        ).select(
            "start_id",
            "walk",
            "at",
            F.struct(
                (
                    F.col("sc")
                    * F.when(F.col("b") == F.col("prev"), F.lit(p_cost))
                    .when(F.col("pa").isNotNull(), F.lit(1))
                    .otherwise(F.lit(q_cost))
                ).alias("sc"),
                F.col("b").alias("nb"),
            ).alias("pick"),
        )
        nxt = (
            cand.groupBy("start_id", "walk", "at")
            .agg(F.min("pick").alias("m"))
            .select(
                "start_id",
                "walk",
                F.col("at").alias("prev"),
                F.col("m.nb").alias("cur"),
            )
        )
        frontier = materialize(nxt)
        steps.append(
            frontier.select(
                "start_id", "walk", F.lit(t).alias("step"),
                F.col("cur").alias("node_id"),
            )
        )
    out = steps[0]
    for s in steps[1:]:
        out = out.unionByName(s)
    e.unpersist()
    pe.unpersist()
    return out


def skipgram_pairs(walks: DataFrame, window: int = 2) -> DataFrame:
    """Walk corpus -> weighted skip-gram training pairs: for every walk
    position, each node within ``window`` steps (either direction,
    excluding the position itself) is a context; identical (center,
    context) pairs are counted, which is the scalable representation of
    the SGNS multiset (the trainer consumes counts as repetition
    weights). This is the last hop of the KG -> graph-embedding bridge:
    graph -> walks (``random_walks``) -> (center, context, n_pairs).

    Scale shape: each walk row explodes into at most 2·window candidate
    (center, ctx_step) rows — out-of-range steps simply find no join
    partner — then ONE equi-join back to the walk table on the full
    (start_id, walk, step) key and one hash agg with map-side partials.
    No window function, no per-walk collect; everything is linear in
    walk rows x window. Callers pass the output of ``random_walks``,
    whose per-step frontiers are already lineage-broken, so the self-use
    of the walk table on both join sides does not recompute the walk.
    """
    if window < 1:
        raise ValueError(f"window must be >= 1, got {window}")
    ctx = walks.select(
        "start_id",
        "walk",
        F.col("node_id").alias("center"),
        F.explode(
            F.filter(
                F.sequence(F.col("step") - window, F.col("step") + window),
                lambda s: s != F.col("step"),
            )
        ).alias("ctx_step"),
    )
    right = walks.select(
        "start_id",
        "walk",
        F.col("step").alias("ctx_step"),
        F.col("node_id").alias("context"),
    )
    return (
        ctx.join(right, ["start_id", "walk", "ctx_step"])
        .groupBy("center", "context")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )
