"""Fixed-iteration HITS (Kleinberg hubs & authorities) over a directed
edge list — the second centrality family next to PageRank: authorities
are entities many good hubs point at, hubs are entities that point at
many good authorities. On a constructed KG this separates "referenced"
entities (authorities: papers, products, canonical records) from
"referencing" aggregators (hubs: orders, reviews, index pages) — a
signal PageRank's single score conflates.

Reference relationship: simkit has no centrality procedures; like
operators/pagerank.py this is the KG-side companion to its similarity
graphs (SURVEY.md §2.4) — rank the nodes of the edge list the linker
materializes.

Scale design (what must survive 100 TB):
- TWO fixed edge layouts, each shuffled+persisted ONCE: ``e_src``
  (hash-partitioned on src — the authority step joins the node-sized h
  table in on src, partial-aggregates map-side, shuffles only the
  node-sized contributions to dst) and ``e_dst`` (on dst — the hub
  step mirrors it). Per sweep the edge table is never re-shuffled;
  only two node-sized groupBy exchanges run. This is the pagerank.py
  single-layout pattern doubled because HITS alternates direction
  every half-sweep.
- Normalization totals are 1-row aggregates broadcast into the update
  (crossJoin of a broadcast singleton) — no per-sweep driver action.
- Lineage is broken per half-sweep (util.materialize): each score
  table feeds the next half-sweep AND its own total.

Determinism contract (exact-integer sweeps, the pagerank.py family):
- Scores are int64 numerators at scale 10**iter_dp (default 9 — NOT
  pagerank's 12: the raw sums are bounded by n*scale, and 1e9 keeps
  them below 2**53 up to ~9M nodes so the int->double casts in the
  normalization are EXACT; past that the casts round (identically on
  every IEEE engine — parity holds, mass conservation drifts ulps) and
  int64 overflow bounds n*scale < 9.2e18).
- Per sweep: a_raw(v) = SUM h_i(u) over in-edges and ta = SUM a_raw
  are exact integer sums (order-independent — no summation-order ulp
  class). The L1 normalization
      a_i(v) = floor(a_raw/ta * scale + 0.5)
  consumes exact integers through a fixed float operation order, so
  Spark / numpy / DuckDB compute bit-identical doubles and therefore
  identical int64 scores. The hub half-sweep mirrors it.
- Output hub/authority = score_i * 10**-iter_dp: one exact
  int->double convert and one correctly-rounded multiply — never a
  decimal round() (tie behavior differs across engines).

Parallel edges are collapsed (``distinct``) so HITS is well-defined on
the simple digraph; self-loops participate normally (Kleinberg's
formulation does not special-case them).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..util import materialize, size_dispatch
from .graphs import indexed

HITS_ITER_DP = 9


def hits(
    edges: DataFrame,
    n_iter: int = 5,
    iter_dp: int = HITS_ITER_DP,
) -> DataFrame:
    """(src, dst) directed edge list -> (id, hub, authority) after
    ``n_iter`` full HITS sweeps under the exact-integer L1-normalized
    contract (module docstring). Every node in the edge list gets a
    row; nodes with no in-edges have authority 0, no out-edges hub 0.

    Size-dispatched (``util.size_dispatch``): a driver-sized distinct
    edge list runs vectorized numpy sweeps over one Arrow collect,
    replacing ~4 shuffle stages per sweep. The exact-integer L1
    contract makes both paths bit-identical — integer raw sums are
    exact in any accumulator below 2**53, and the single
    re-quantization float expression runs in the same IEEE operation
    order on both engines (parity-tested, long and string ids)."""
    if n_iter < 1:
        raise ValueError(f"n_iter must be >= 1, got {n_iter}")
    return size_dispatch(
        edges.select("src", "dst").distinct(),
        lambda pdf: _hits_local(pdf, n_iter, iter_dp),
        lambda e: _hits_from_distinct(e, n_iter, iter_dp),
        "id {id}, hub double, authority double",
    )


def _hits_local(pdf, n_iter, iter_dp):
    import numpy as np
    import pandas as pd

    scale = 10**iter_dp
    ids, src, dst = indexed(pdf)
    n = len(ids)

    def _normalize(raw: "np.ndarray") -> "np.ndarray":
        # floor(raw/total * scale + 0.5) in the engine's operation order
        t = float(raw.sum())
        return np.floor(
            raw.astype(np.float64) / t * float(scale) + 0.5
        ).astype(np.int64)

    h = np.full(n, scale, dtype=np.int64)
    a = None
    for _ in range(n_iter):
        a_raw = np.zeros(n, dtype=np.int64)
        np.add.at(a_raw, dst, h[src])
        a = _normalize(a_raw)
        h_raw = np.zeros(n, dtype=np.int64)
        np.add.at(h_raw, src, a[dst])
        h = _normalize(h_raw)
    inv = 1.0 / float(scale)
    return pd.DataFrame(
        {
            "id": ids,
            "hub": h.astype(np.float64) * inv,
            "authority": a.astype(np.float64) * inv,
        }
    )


def _hits_from_distinct(e: DataFrame, n_iter: int, iter_dp: int) -> DataFrame:
    """Distributed path of ``hits``: the sweep loop over an
    already-distinct, already-materialized edge list."""
    scale = 10**iter_dp
    inv = 1.0 / float(scale)
    nodes = materialize(
        e.select(F.col("src").alias("id"))
        .union(e.select(F.col("dst").alias("id")))
        .distinct()
    )
    if e.isEmpty():
        return nodes.select(
            "id", F.lit(0.0).alias("hub"), F.lit(0.0).alias("authority")
        )
    # the two fixed layouts — each shuffled once, reused every sweep
    e_src = e.repartition("src").sortWithinPartitions("src").persist()
    e_dst = e.repartition("dst").sortWithinPartitions("dst").persist()

    def _normalize(raw: DataFrame) -> DataFrame:
        """node-complete floor(raw/total * scale + 0.5) — the shared
        fixed-order re-quantization of both half-sweeps."""
        total = raw.agg(F.sum("raw").alias("t"))
        return materialize(
            nodes.join(raw, "id", "left")
            .crossJoin(F.broadcast(total))
            .select(
                "id",
                F.floor(
                    F.coalesce(F.col("raw"), F.lit(0)).cast("double")
                    / F.col("t").cast("double")
                    * F.lit(float(scale))
                    + F.lit(0.5)
                )
                .cast("long")
                .alias("s"),
            )
        )

    h = materialize(nodes.select("id", F.lit(scale).cast("long").alias("s")))
    a = None
    for _ in range(n_iter):
        a_raw = (
            e_src.join(h.withColumnRenamed("id", "src"), "src")
            .groupBy(F.col("dst").alias("id"))
            .agg(F.sum("s").alias("raw"))
        )
        a = _normalize(a_raw)
        h_raw = (
            e_dst.join(a.withColumnRenamed("id", "dst"), "dst")
            .groupBy(F.col("src").alias("id"))
            .agg(F.sum("s").alias("raw"))
        )
        h = _normalize(h_raw)
    return (
        h.withColumnRenamed("s", "h_i")
        .join(a.withColumnRenamed("s", "a_i"), "id")
        .select(
            "id",
            (F.col("h_i").cast("double") * F.lit(inv)).alias("hub"),
            (F.col("a_i").cast("double") * F.lit(inv)).alias("authority"),
        )
    )
