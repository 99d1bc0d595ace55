"""Approximate Neighborhood Function / effective diameter.

N(h) = #ordered pairs (u, v) with dist(u, v) <= h — the curve behind
"effective diameter" (smallest h covering 90% of reachable pairs) and
the classic small-world measurements (Palmer et al., KDD'02 "ANF";
Boldi et al., WWW'11 "HyperANF"). The reference has no neighborhood
profiler; this extends the graph-statistics surface (SURVEY §2
extension) over the same (src, dst) edge lists as
operators.graphstats.

Two paths on ``util.size_dispatch``, like every iterative operator here:

- EXACT for a driver-sized graph (at most ``util.local_dispatch_rows``
  edges and ``MAX_LOCAL_NODES`` nodes): one Arrow collect, dense
  boolean reachability closure in numpy (ball(h+1) = ball(h) | ball(h)
  @ A). n^2 bits — fine to ~50k nodes on a driver, and bit-exact for
  the DuckDB recursive-CTE oracle.

- HyperANF above: one HLL register set (functions.sketch family,
  2^p registers) per node; ball(h+1)'s registers = element-wise max of
  the node's registers with its neighbors' — a pure
  explode-groupBy-max sweep, the same mergeable-sketch shape as
  hll_distinct. Per sweep the exchange carries n * m register rows
  (m = 2^p, 64 by default), NEVER pair-sized data: that is the whole
  point — exact ANF is O(n^2) state while HyperANF is O(n * m) with
  ~1.04/sqrt(m) relative error, which is what makes the curve
  computable at 10^12-edge scale.

Determinism: register hashes come from the portable md5 family, sweeps
are fixed-count, merges are max() — order-independent integers
throughout; the register update and the estimate are hll_distinct's own
(functions.sketch.hll_register_cols / _hll_fold).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..functions.sketch import _hll_fold, hll_register_cols
from ..util import materialize, size_dispatch
from .graphs import indexed

# the exact path holds n^2 BITS on the driver: edge count alone doesn't
# bound that (a 300k-edge graph can have 60k nodes = 450 MB of
# bitsets), so the dispatch is also node-capped
MAX_LOCAL_NODES = 20_000


def _symmetrized(edges: DataFrame) -> DataFrame:
    e = edges.select("src", "dst")
    return e.unionAll(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct()


def neighborhood_function(
    edges: DataFrame,
    max_h: int = 6,
    p: int = 6,
    seed: int = 42,
) -> DataFrame:
    """(h, n_pairs, frac) for h = 0..max_h over the UNDIRECTED graph
    (edges are symmetrized; self-pairs count at h=0). ``frac`` =
    n_pairs / n^2, rounded 6 dp. For a driver-sized graph (module
    docstring) it is exact; above, n_pairs is the HyperANF estimate
    (rounded to a whole pair count). ``p`` must lie in [4, 16], as for
    the sketches in functions.sketch, on either path.
    """
    registers = hll_register_cols("id", p, seed)
    return size_dispatch(
        _symmetrized(edges),
        lambda pdf: _anf_local(pdf, max_h),
        lambda e: _hyperanf(e, max_h, p, registers),
        "h int, n_pairs bigint, frac double",
    )


def _anf_local(pdf, max_h: int):
    """Exact twin: bitset BFS over the collected symmetrized edges, or
    None past ``MAX_LOCAL_NODES`` nodes."""
    import numpy as np
    import pandas as pd

    ids, si, di = indexed(pdf)
    n = len(ids)
    if n > MAX_LOCAL_NODES:
        return None
    rows = []
    if n:
        # bitset rows (uint64 words) + bitwise_or scatter: each
        # sweep is O(E * n/64) word-ops — a dense bool matmul is
        # O(n^3) and took ~19 s at n=5000 where this takes ~0.1 s
        words = (n + 63) // 64
        reach = np.zeros((n, words), dtype=np.uint64)
        ar = np.arange(n)
        reach[ar, ar // 64] |= np.uint64(1) << (ar % 64).astype(np.uint64)
        pop = np.array(
            [bin(i).count("1") for i in range(256)], dtype=np.int64
        )
        rows.append((0, n, round(n / float(n * n), 6)))
        for h in range(1, max_h + 1):
            nxt = reach.copy()
            np.bitwise_or.at(nxt, si, reach[di])
            reach = nxt
            c = int(pop[reach.view(np.uint8)].sum())
            rows.append((h, c, round(c / float(n * n), 6)))
    return pd.DataFrame(rows, columns=["h", "n_pairs", "frac"])


def _hyperanf(e: DataFrame, max_h: int, p: int, registers) -> DataFrame:
    """Distributed path of ``neighborhood_function`` over the
    materialized symmetrized edges; ``registers`` is the
    ``hll_register_cols`` (bucket, rho) pair over the node ids."""
    # ---- HyperANF: one register set per node, max-merge sweeps
    nodes = e.select(F.col("src").alias("id")).distinct().transform(materialize)
    n = nodes.count()
    bucket, rho = registers
    # state: (id, bucket, mrho) sparse registers — ball(0) = {id}
    state = nodes.select(
        "id", bucket.alias("bucket"), rho.alias("mrho")
    ).transform(materialize)
    *_, est = _hll_fold(p)

    def estimate(st: DataFrame) -> float:
        # state is already one row per (id, bucket): fold each id's
        # register set, then sum the per-node estimates
        per_node = st.groupBy("id").agg(est.alias("est"))
        return float(per_node.agg(F.sum("est")).collect()[0][0])

    import pandas as pd

    rows = [(0, float(n))]
    for h in range(1, max_h + 1):
        # neighbors' registers flow along REVERSED edges onto each id;
        # the merge is a plain groupBy-max over (id, bucket)
        prev = state
        moved = (
            e.join(state.withColumnRenamed("id", "dst"), "dst")
            .select(F.col("src").alias("id"), "bucket", "mrho")
        )
        state = (
            prev.unionAll(moved)
            .groupBy("id", "bucket")
            .agg(F.max("mrho").alias("mrho"))
            .transform(materialize)
        )
        rows.append((h, estimate(state)))
    res = pd.DataFrame(
        [
            (h, int(round(v)), round(v / float(n * n), 6))
            for h, v in rows
        ],
        columns=["h", "n_pairs", "frac"],
    )
    return e.sparkSession.createDataFrame(
        res, schema="h int, n_pairs bigint, frac double"
    )


def effective_diameter(
    nf: DataFrame, q: float = 0.9
) -> float:
    """Smallest h whose pair coverage reaches q * N(max_h), linearly
    interpolated between integer hops (the HyperANF/snap convention).
    Driver-side over the (max_h + 1)-row curve."""
    rows = sorted(
        (r["h"], r["n_pairs"]) for r in nf.select("h", "n_pairs").collect()
    )
    if not rows:
        return 0.0
    target = q * rows[-1][1]
    prev_h, prev_n = rows[0]
    if prev_n >= target:
        return float(prev_h)
    for h, np_ in rows[1:]:
        if np_ >= target:
            if np_ == prev_n:
                return float(h)
            return prev_h + (target - prev_n) / (np_ - prev_n)
        prev_h, prev_n = h, np_
    return float(rows[-1][0])
