"""Bounded single-source shortest paths: k Bellman-Ford sweeps over a
weighted directed edge list — the weighted companion to
kg.khop_reachability's unweighted BFS (hop counts) and the similarity-
graph distance probe ("how far is everything from this entity under
the affinity metric, within k hops").

Determinism contract (the repo-wide pattern — pagerank.py, lpa):
fixed sweep count, per-sweep rounding of each relaxed candidate to
``iter_dp`` decimals, and min-aggregation (order-independent), so a
SQL twin unrolling the same sweeps reproduces every distance bit for
bit. Frontier-only relaxation is exact, not an approximation: a node
whose distance did not improve in sweep i already contributed its
candidates in an earlier sweep, and min() keeps them dominated.

Scale: the distributed sweeps are ``graphs.relax`` over edges shuffled
into a fixed ``src`` partitioning once.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, functions as F

from ..util import size_dispatch
from .graphs import relax


def bounded_sssp(
    edges: DataFrame,
    sources: list,
    k: int,
    weight_col: str = "weight",
    iter_dp: int = 12,
) -> DataFrame:
    """(src, dst, weight) directed edges -> (id, dist) for every node
    reachable from ``sources`` within ``k`` hops, dist = minimum path
    weight over all such paths (sources at 0.0). Nodes beyond k hops
    are absent. Negative weights are legal (bounded sweeps cannot
    diverge on a negative cycle), but distances are only k-hop-optimal.

    Size-dispatched (``util.size_dispatch``): for a driver-sized edge
    list the k sweeps run driver-side.
    Bit parity mechanism: min() is order-independent, and the per-sweep
    rounding replicates Spark's Round expression exactly — Java
    BigDecimal.valueOf(double) parses Double.toString's
    shortest-roundtrip decimal, which is Python repr(float), so
    Decimal(repr(x)).quantize(1e-iter_dp, ROUND_HALF_UP) reproduces the
    engine digit-for-digit (parity-tested, incl. negative weights).
    Caveat: Double.toString emits the SHORTEST round-trip decimal only
    since JDK 19 (Ryu, JDK-4511638); on older JVMs a value whose
    longer Java rendering straddles a HALF_UP boundary at the
    iter_dp-th digit could round differently — not observed on the
    Java 17 test matrix (parity + oracle gates are green), but the
    contract is strongest on JDK 19+."""
    return size_dispatch(
        edges.select("src", "dst", F.col(weight_col).alias("w")),
        lambda pdf: _sssp_local(pdf, sources, k, iter_dp),
        lambda e: _sssp_dist(e, sources, k, iter_dp),
        "id {id}, dist double",
    )


def _sssp_dist(edges: DataFrame, sources: list, k: int, iter_dp: int) -> DataFrame:
    """Distributed path of ``bounded_sssp`` over (src, dst, w): k
    ``graphs.relax`` sweeps over the edges, shuffled into a fixed
    ``src`` partitioning once."""
    e = edges.repartition("src").sortWithinPartitions("src").persist()
    try:
        id_t = e.schema["src"].dataType.simpleString()
        ids = sorted(set(sources))
        labels = edges.sparkSession.createDataFrame(
            pd.DataFrame({"id": ids, "val": [0.0] * len(ids)}),
            f"id {id_t}, val double",
        )
        dist, _ = relax(e, labels, lambda v: F.round(v + F.col("w"), iter_dp), k)
        return dist.withColumnRenamed("val", "dist")
    finally:
        e.unpersist()


def _sssp_local(pdf, sources, k, iter_dp):
    from decimal import ROUND_HALF_UP, Decimal

    quantum = Decimal(1).scaleb(-iter_dp)

    def _round(x) -> float:
        # float() first: numpy 2.x scalar repr is "np.float64(...)",
        # not the shortest decimal the BigDecimal replication needs
        return float(Decimal(repr(float(x))).quantize(quantum, rounding=ROUND_HALF_UP))

    adj: dict = {}
    for r in pdf.itertuples(index=False):
        adj.setdefault(r.src, []).append((r.dst, float(r.w)))
    dist = {s: 0.0 for s in sources}
    frontier = dict(dist)
    for _ in range(k):
        cand: dict = {}
        for u, du in frontier.items():
            for v, w in adj.get(u, ()):
                c = _round(du + w)
                if v not in cand or c < cand[v]:
                    cand[v] = c
        frontier = {}
        for v, c in cand.items():
            if v not in dist or c < dist[v]:
                dist[v] = c
                frontier[v] = c
        if not frontier:
            break
    return pd.DataFrame(list(dist.items()), columns=["id", "dist"])
