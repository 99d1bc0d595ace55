"""Deterministic parallel maximal matching over an edge list — the
graph-COARSENING primitive of a multilevel entity-canonicalization
pipeline: merge the closest entity pair first, contract, repeat
(Karypis-Kumar heavy-edge matching re-expressed with the weight as the
leading priority field). A matching is also the entity-merge analogue
of mis.maximal_independent_set one level up: MIS schedules merges that
share an entity; a matching IS a conflict-free set of pairwise merges.

Semantics: every canonical undirected edge (u < v, self-loops dropped,
duplicates collapsed) carries the strict total-order priority key

    (w_q, h, u, v)      -- weighted: w_q = floor(w*10^dp + 0.5) int64,
    (h, u, v)           -- unweighted,

with h = md5_32('seed:u:v'), all integers, ascending (so a WEIGHT
means "merge cost" — pass a distance to match closest pairs first;
negate upstream for affinity weights). Sweep t: an alive edge is
selected iff its key equals the minimum key among alive edges at BOTH
endpoints (its own key is always a candidate, so the rule is pure
equality against the per-vertex minimum — no inequality tie hazard);
selected edges enter the matching, their endpoints leave the graph.
Deterministic + monotone, and with a strict total order the parallel
sweeps are confluent with sequential greedy in ascending key order
(the mis.py argument on the line graph); expected O(log n) sweeps to
drain (the local-minima argument of Luby'86 applies to the line
graph). Fixed ``n_iter`` sweeps, the kcore contract: converged =
exact greedy matching; undrained edges are simply not matched.

Scale design: per sweep = one explode of the alive edge set to its two
endpoint rows, one min-struct hash aggregation (vertex-sized), two
equality semi-joins back, and two anti-joins to drop matched
endpoints; everything is keyed on vertex or canonical-edge columns —
no windows, no driver state, all-integer comparisons so the unrolled
SQL twin (per-vertex minimum replayed as chained min CTEs: min(w_q),
min(h) among w-ties, min(u), min(v)) is bit-exact.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from ..functions.dedup import _md5_long
from ..util import materialize, size_dispatch


def _edge_hash(u: Column, v: Column, seed: int) -> Column:
    return _md5_long(
        F.concat_ws(":", F.lit(str(seed)), u.cast("string"), v.cast("string"))
    )


def maximal_matching(
    edges: DataFrame,
    n_iter: int = 10,
    seed: int = 42,
    weight_col: str | None = None,
    weight_dp: int = 6,
) -> DataFrame:
    """(src, dst[, weight]) in any orientation -> (u, v, sweep): the
    matched pairs after ``n_iter`` local-minimum sweeps (1-based sweep
    index). With ``weight_col``, the weight (quantized to int64 at
    ``weight_dp`` — the weighted_pagerank convention) leads the
    priority, ascending: smaller weight matches first. Duplicate
    (u, v) rows keep the smallest quantized weight.

    Size-dispatched (``util.size_dispatch``): a driver-sized graph runs
    a hashlib replica of the sweep rule over one Arrow collect; a
    larger one runs the distributed sweeps. All-integer keys, so the
    paths are exactly identical (parity-tested on long AND string
    ids)."""
    cols = ["src", "dst"] + ([weight_col] if weight_col else [])
    return size_dispatch(
        edges.select(*cols),
        lambda pdf: _matching_local(pdf, n_iter, seed, weight_col, weight_dp),
        lambda e: _matching_dist(e, n_iter, seed, weight_col, weight_dp),
        "u {id}, v {id}, sweep int",
    )


def _matching_dist(edges, n_iter, seed, weight_col, weight_dp) -> DataFrame:
    """Distributed path of ``maximal_matching``."""
    und = edges.select(
        F.least("src", "dst").alias("u"),
        F.greatest("src", "dst").alias("v"),
        *(
            [
                F.floor(
                    F.col(weight_col) * F.lit(float(10**weight_dp)) + F.lit(0.5)
                )
                .cast("long")
                .alias("w_q")
            ]
            if weight_col
            else []
        ),
    ).where(F.col("u") != F.col("v"))
    if weight_col:
        und = und.groupBy("u", "v").agg(F.min("w_q").alias("w_q"))
        key_cols = ["w_q", "h", "u", "v"]
    else:
        und = und.distinct()
        key_cols = ["h", "u", "v"]
    alive = materialize(
        und.withColumn("h", _edge_hash(F.col("u"), F.col("v"), seed))
    )
    parts: list[DataFrame] = []
    for t in range(1, n_iter + 1):
        key = F.struct(*[F.col(c) for c in key_cols]).alias("key")
        sides = alive.select(F.col("u").alias("vertex"), key).union(
            alive.select(F.col("v").alias("vertex"), key)
        )
        vmin = sides.groupBy("vertex").agg(F.min("key").alias("mn"))
        # selected iff the edge's own key IS the minimum at BOTH
        # endpoints — equality semi-joins, no inequality tie hazard
        sel = materialize(
            alive.join(
                vmin.select(
                    F.col("vertex").alias("u"), F.col("mn").alias("key_u")
                ),
                "u",
            )
            .join(
                vmin.select(
                    F.col("vertex").alias("v"), F.col("mn").alias("key_v")
                ),
                "v",
            )
            .where(
                (F.struct(*[F.col(c) for c in key_cols]) == F.col("key_u"))
                & (F.struct(*[F.col(c) for c in key_cols]) == F.col("key_v"))
            )
            .select("u", "v")
        )
        parts.append(sel.select("u", "v", F.lit(t).alias("sweep")))
        matched = sel.select(F.col("u").alias("vertex")).union(
            sel.select(F.col("v").alias("vertex"))
        )
        alive = materialize(
            alive.join(
                matched.select(F.col("vertex").alias("u")), "u", "left_anti"
            ).join(matched.select(F.col("vertex").alias("v")), "v", "left_anti")
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.union(p)
    return materialize(out.select("u", "v", F.col("sweep").cast("int").alias("sweep")))


def _matching_local(pdf, n_iter, seed, weight_col, weight_dp):
    import hashlib  # noqa: PLC0415
    import math  # noqa: PLC0415

    import pandas as pd  # noqa: PLC0415

    def h(u, v) -> int:
        return int(
            hashlib.md5(f"{seed}:{u}:{v}".encode()).hexdigest()[:8], 16
        )

    keys: dict = {}
    for row in pdf.itertuples(index=False):
        a, b = row.src, row.dst
        if a == b:
            continue
        u, v = (a, b) if a < b else (b, a)
        if weight_col:
            wq = math.floor(getattr(row, weight_col) * 10**weight_dp + 0.5)
            k = (wq, h(u, v), u, v)
            prev = keys.get((u, v))
            if prev is None or k < prev:
                keys[(u, v)] = k
        else:
            keys[(u, v)] = (h(u, v), u, v)
    alive = set(keys)
    rows = []
    for t in range(1, n_iter + 1):
        vmin: dict = {}
        for uv in alive:
            k = keys[uv]
            for x in uv:
                if x not in vmin or k < vmin[x]:
                    vmin[x] = k
        sel = [
            (u, v) for u, v in alive if vmin[u] == keys[(u, v)] == vmin[v]
        ]
        rows.extend((u, v, t) for u, v in sel)
        matched = {x for uv in sel for x in uv}
        alive = {uv for uv in alive if uv[0] not in matched and uv[1] not in matched}
    rows.sort()
    return pd.DataFrame(rows, columns=["u", "v", "sweep"])
