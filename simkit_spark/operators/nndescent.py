"""NN-descent approximate kNN-graph construction (Dong, Moses &
Li, WWW'11) — the SCALE PATH for the similarity-graph stage: the exact
block kernel (kernels.pairwise_topk) evaluates all n^2/2 pairs, which
at 10^12 mention embeddings is not a job any cluster runs; NN-descent
exploits "a neighbor of a neighbor is likely a neighbor" and converges
to a high-recall kNN graph in O(iters) local joins whose total work is
~n * cap^2 per sweep — linear in n for fixed k. It complements the ANN
*query* ladder (IVF -> LSH -> PQ, functions/similarity.py+pq.py):
those answer top-k probes against an index; NN-descent builds the
all-nodes kNN GRAPH that the downstream spectral machinery consumes
(graphs.knn_edges / mutual_knn / laplacian), without ever running the
quadratic kernel.

Determinism contract (what makes a full SQL oracle possible for an
"approximate" algorithm): the approximation is entirely in WHICH pairs
get evaluated, and that set is a deterministic function of the seeded
md5 init plus the iteration rule — no randomness at run time, no
data-order dependence. Distances are computed with the LEFT-FOLD SQL
expression (kernels.distance_expr — bit-identical to DuckDB's
list_reduce fold, both start acc=0.0), and every top-k selection
orders by (dist ASC, dst ASC), a strict total order. Re-runs,
partitionings, and engines agree bit-for-bit; the unrolled-CTE twin
replays every sweep exactly.

Init: ids must be integers in [0, id_space) (dense — true for vec_id;
pre-encode otherwise, e.g. functions label encoding): the j-th seed
neighbor of node i is md5('seed:i:j') mod id_space — drawn directly in
the key space (the kg.negative_samples pattern), so init needs NO
global rank window and no driver state. Self-draws and duplicates are
dropped (a node may start with < k neighbors; the sweeps refill).

Sweep t: the in/out adjacency g = fwd ∪ rev (dedup'd, distances ride
along), CAPPED at ``cap`` (default 2k) rows per node by (dist, nbr)
rank — the rev side of a hub can be graph-sized, and the cap is what
bounds the local join at n*cap^2 candidate pairs (the repo's
no-silent-quadratic contract; this is also the ρ-sampling of the
paper). Candidate pairs = all (a < b) co-occurring in one node's
capped list; distances for the DISTINCT new pairs only; each node's
list = top-k of (current ∪ candidates-both-directions). Monotone:
per-node lists only improve (the union always contains the current
list); converged when a sweep changes nothing.

New-flag rule (the paper's incremental search): a sweep generates only
pairs with at least one co-neighbor edge that was not in the previous
sweep's capped list — an anti-join against that list instead of
per-node flags. Old-old pairs were scored the sweep before and cannot
change any list, so skipping them saves work without changing output;
at convergence the pair stream dries up.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.window import Window

from ..functions.dedup import _md5_long
from ..util import materialize
from .kernels import distance_expr


def nn_descent(
    points: DataFrame,
    k: int,
    id_space: int,
    n_iter: int = 4,
    seed: int = 42,
    cap: int | None = None,
    kernel: str = "euclidean",
    init_extra: int = 3,
) -> DataFrame:
    """(id, vec) with integer ids in [0, id_space) -> approximate
    directed kNN graph (src, dst, dist, rank), rank 1..k by (dist ASC,
    dst ASC) — the pairwise_topk output shape. ``cap`` bounds each
    node's join list per sweep (default 2k); ``init_extra`` extra seed
    draws absorb self/duplicate collisions."""
    if k < 1 or id_space < 2:
        raise ValueError(f"need k >= 1 and id_space >= 2, got {k}, {id_space}")
    if cap is None:
        cap = 2 * k
    pts = points.select(F.col("id"), F.col("vec"))

    def topk(cand: DataFrame) -> DataFrame:
        w = (
            F.row_number()
            .over(
                Window.partitionBy("src").orderBy(
                    F.col("dist").asc(), F.col("dst").asc()
                )
            )
            .alias("rank")
        )
        return cand.select("src", "dst", "dist", w).where(F.col("rank") <= k)

    # --- seeded init: j-th draw for node i = md5('seed:i:j') mod space
    draws = pts.select(F.col("id").alias("src")).select(
        "src",
        F.explode(
            F.array(*[F.lit(j) for j in range(k + init_extra)])
        ).alias("j"),
    )
    init = (
        draws.select(
            "src",
            F.pmod(
                _md5_long(
                    F.concat_ws(
                        ":",
                        F.lit(str(seed)),
                        F.col("src").cast("string"),
                        F.col("j").cast("string"),
                    )
                ),
                F.lit(id_space),
            ).alias("dst"),
        )
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )
    with_dist = (
        init.join(pts.select(F.col("id").alias("src"), F.col("vec").alias("va")), "src")
        .join(pts.select(F.col("id").alias("dst"), F.col("vec").alias("vb")), "dst")
        .select(
            "src", "dst", distance_expr(F.col("va"), F.col("vb"), kernel).alias("dist")
        )
    )
    cur = materialize(topk(with_dist).select("src", "dst", "dist"))

    prev_capped = None
    for _ in range(n_iter):
        g = (
            cur.select(F.col("src").alias("node"), F.col("dst").alias("nbr"), "dist")
            .union(
                cur.select(
                    F.col("dst").alias("node"), F.col("src").alias("nbr"), "dist"
                )
            )
            .groupBy("node", "nbr")
            .agg(F.min("dist").alias("dist"))
        )
        capped = materialize(
            g.select(
                "node",
                "nbr",
                "dist",
                F.row_number()
                .over(
                    Window.partitionBy("node").orderBy(
                        F.col("dist").asc(), F.col("nbr").asc()
                    )
                )
                .alias("rn"),
            )
            .where(F.col("rn") <= cap)
            .select("node", "nbr")
        )
        # NN-descent's new-flag rule, list-membership form: a pair
        # whose BOTH edges (node, u), (node, v) sat in the previous
        # sweep's capped list was generated (and scored) that sweep
        # already — and once a candidate is rejected against a node's
        # top-k it stays rejected (the k-th distance is monotone
        # non-increasing because cand always unions cur), so skipping
        # old-old pairs cannot change any output list. Only pairs with
        # at least one NEW co-neighbor edge are generated; at
        # convergence the pair stream dries up entirely. (Dong et al.
        # WWW'11 §2.3 — their incremental search, expressed as an
        # anti-join instead of per-node flags.)
        if prev_capped is None:
            fresh = capped
        else:
            fresh = capped.join(prev_capped, ["node", "nbr"], "left_anti")
        pairs = (
            fresh.alias("x")
            .join(capped.alias("y"), "node")
            .where(F.col("x.nbr") != F.col("y.nbr"))
            .select(
                F.least(F.col("x.nbr"), F.col("y.nbr")).alias("u"),
                F.greatest(F.col("x.nbr"), F.col("y.nbr")).alias("v"),
            )
            .distinct()
        )
        prev_capped = capped
        scored = (
            pairs.join(
                pts.select(F.col("id").alias("u"), F.col("vec").alias("va")), "u"
            )
            .join(pts.select(F.col("id").alias("v"), F.col("vec").alias("vb")), "v")
            .select(
                "u", "v", distance_expr(F.col("va"), F.col("vb"), kernel).alias("dist")
            )
        )
        cand = (
            scored.select(F.col("u").alias("src"), F.col("v").alias("dst"), "dist")
            .union(
                scored.select(F.col("v").alias("src"), F.col("u").alias("dst"), "dist")
            )
            .union(cur.select("src", "dst", "dist"))
            .groupBy("src", "dst")
            .agg(F.min("dist").alias("dist"))
        )
        cur = materialize(topk(cand).select("src", "dst", "dist"))

    return topk(cur)
