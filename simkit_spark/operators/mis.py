"""Deterministic Luby-style maximal independent set over an edge list —
the conflict-free scheduling primitive of a KG construction pipeline:
entity-merge / canonicalization operations that share an entity cannot
apply in the same batch, so batching = repeatedly taking an independent
set of the merge-conflict graph (the same role Luby's algorithm plays
in parallel graph coloring). Selecting by a hash priority instead of a
random draw keeps the reference's determinism contract (seeded local
init instead of live randomness, Unsupervised.java:315-344): re-runs,
partitionings, and engines all emit the identical set.

Semantics: priority p(id) = (md5_32(seed:id), id) — a strict total
order, so the algorithm is Luby's with the coin flips fixed up front.
Sweep t: every undecided node whose priority is strictly smaller than
every *undecided* neighbor's joins the MIS (isolated undecided nodes
join too); selected nodes and their neighbors leave the undecided set.
Fixed ``n_iter`` sweeps — the sweep map is deterministic and the
undecided set shrinks monotonically (each sweep selects at least the
global minimum-priority undecided node), so once the undecided set is
empty the output IS the greedy MIS under the priority order; with a
fixed total order Luby's selection is confluent with sequential greedy,
which is what the unrolled SQL oracle replays. Nodes still undecided
after ``n_iter`` sweeps are omitted (documented partial result — the
kcore fixed-sweep contract); expected sweeps to drain is O(log n)
(Luby'86), and similarity graphs drain in a handful.

Scale design: per sweep = one join of the fixed-layout edge table
against the (node-sized, shrinking) undecided set + one min hash
aggregation + one anti-join. The 2|E| both-orientations table is
hash-partitioned on its probe endpoint ONCE and persisted, never
re-shuffled; everything node-sized is lineage-broken per sweep
(util.materialize — the pagerank/LPA lesson). All comparisons are
integer (hash, id) pairs: no floats anywhere, so the DuckDB twin is
bit-exact.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from ..functions.dedup import _md5_long
from ..util import materialize, size_dispatch
from .graphs import adjacency, undirected


def _priority(col: Column, seed: int) -> Column:
    """32-bit md5 word of "seed:id" — the fixed Luby coin."""
    return _md5_long(F.concat_ws(":", F.lit(str(seed)), col.cast("string")))


def maximal_independent_set(
    edges: DataFrame, n_iter: int = 10, seed: int = 42
) -> DataFrame:
    """(src, dst) in any orientation -> (id, sweep): the maximal
    independent set selected by ``n_iter`` hash-priority sweeps over
    the undirected simple graph (self-loops dropped), with the sweep
    (1-based) each member was selected in. Isolated nodes (no edges)
    are not in the input's node universe and thus not emitted — pass
    their ids through separately if needed.

    Size-dispatched (``util.size_dispatch``): a driver-sized graph runs
    a hashlib replica of the sweep loop over one Arrow collect; a
    larger one runs the distributed sweeps. All-integer (hash, id)
    comparisons, so the two paths are exactly identical (parity-tested
    on long AND string ids)."""
    return size_dispatch(
        edges.select("src", "dst"),
        lambda pdf: _mis_local(pdf, n_iter, seed),
        lambda e: _mis_dist(e, n_iter, seed),
        "id {id}, sweep int",
    )


def _mis_dist(edges: DataFrame, n_iter: int, seed: int) -> DataFrame:
    """Distributed path of ``maximal_independent_set``."""
    e = adjacency(undirected(edges))
    alive = materialize(
        e.select(F.col("a").alias("id"))
        .distinct()
        .select("id", _priority(F.col("id"), seed).alias("h"))
    )
    spark = edges.sparkSession
    selected_parts: list[DataFrame] = []
    for t in range(1, n_iter + 1):
        # min (h, id) among ALIVE neighbors: join the edge table with
        # the alive set on the neighbor endpoint; a node with no alive
        # neighbor gets no row (null min -> selected)
        nb_min = (
            e.join(
                alive.select(F.col("id").alias("b"), F.col("h").alias("hb")), "b"
            )
            .groupBy("a")
            .agg(F.min(F.struct(F.col("hb").alias("h"), F.col("b").alias("id"))).alias("mn"))
            .select(
                F.col("a").alias("id"),
                F.col("mn.h").alias("mn_h"),
                F.col("mn.id").alias("mn_id"),
            )
        )
        sel = materialize(
            alive.join(nb_min, "id", "left").where(
                F.col("mn_h").isNull()
                | (F.col("h") < F.col("mn_h"))
                | ((F.col("h") == F.col("mn_h")) & (F.col("id") < F.col("mn_id")))
            ).select("id")
        )
        selected_parts.append(sel.select("id", F.lit(t).alias("sweep")))
        dead = sel.union(
            e.join(sel.select(F.col("id").alias("a")), "a").select(
                F.col("b").alias("id")
            )
        ).distinct()
        alive = materialize(alive.join(dead, "id", "left_anti"))
    out = selected_parts[0]
    for p in selected_parts[1:]:
        out = out.union(p)
    out = materialize(out.select("id", F.col("sweep").cast("int").alias("sweep")))
    e.unpersist()
    return out


def _mis_local(pdf, n_iter, seed):
    import hashlib  # noqa: PLC0415

    import pandas as pd  # noqa: PLC0415

    und = {
        (min(a, b), max(a, b))
        for a, b in zip(pdf["src"], pdf["dst"])
        if a != b
    }
    nbr: dict = {}
    for u, v in und:
        nbr.setdefault(u, set()).add(v)
        nbr.setdefault(v, set()).add(u)

    def h(x) -> int:
        key = f"{seed}:{x}"
        return int(hashlib.md5(key.encode()).hexdigest()[:8], 16)

    pri = {x: (h(x), x) for x in nbr}
    alive = set(nbr)
    rows = []
    for t in range(1, n_iter + 1):
        sel = {
            x
            for x in alive
            if all(pri[x] < pri[y] for y in nbr[x] if y in alive)
        }
        rows.extend((x, t) for x in sel)
        alive -= sel
        for x in sel:
            alive -= nbr[x]
    rows.sort()
    return pd.DataFrame(rows, columns=["id", "sweep"])
