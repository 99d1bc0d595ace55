"""Pairwise distance / similarity kernels over array<double> columns.

Re-expresses the reference's six dense all-pairs distance matrices
(reference: src/src/main/java/graph/DistanceMeasureNodes.java:13-314,
one Double[n][n] per measure, driver-resident) as *edge-list* DataFrames
produced by a block-nested self-join. The n x n matrix is never
materialized; candidate pairs are generated block-by-block so the work
parallelizes across B*(B+1)/2 independent join keys and each task holds
only (n/B)^2 pairs.

All distance math is built-in Spark SQL (zip_with / aggregate /
transform) so it stays inside whole-stage codegen — no Python in the
hot path. The top-k kernel (pairwise_topk) and the eps join
(epsjoin.eps_neighbor_pairs) are size-dispatched: up to
MAX_LOCAL_POINTS points they answer in one numpy pass on the driver
(one Arrow collect, no row count, no block plan), bit-identical to the
block plan because np_kernel computes each pair the same way whatever
the block it sits in. The cap is the largest measured size at which
the driver twin was at least 2x faster than the forced distributed
path. Medians of 7 interleaved calls on 64-dim testdata points (sf0.01
and sf0.1, local[4]), twin vs distributed, at 500 / 1,000 / 2,000
points: top-k (k = 5) 0.31 / 0.37 / 0.90 s vs 1.51 / 1.69 / 2.48 s
(4.9x / 4.6x / 2.8x); eps join (eps 1.15, strict) 0.31 / 0.32 /
0.84 s vs 1.40 / 1.31 / 1.87 s (4.6x / 4.2x / 2.2x). Kernels:

  euclidean    sqrt(sum (a-b)^2)          DistanceMeasureNodes.java:13-61
  manhattan    sum |a-b|                  DistanceMeasureNodes.java:64-109
  canberra     sum |a-b|/(|a|+|b|), 0-denominator -> 0
                                          DistanceMeasureNodes.java:110-161
  cosine       dot/(||a||*||b||)  (a SIMILARITY; reference sets diag 0)
                                          DistanceMeasureNodes.java:162-210
  jaccard      sum min / sum max (weighted Jaccard similarity, diag 1)
                                          DistanceMeasureNodes.java:211-262
  bray_curtis  sum |a-b| / sum (a+b)      DistanceMeasureNodes.java:263-314
"""

from __future__ import annotations

import math
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F

from ..util import size_dispatch

KERNELS = ("euclidean", "manhattan", "canberra", "cosine", "jaccard", "bray_curtis")

# Kernels where larger = more similar (the reference mixes distances and
# similarities under one dispatch; SimKitProcedures.java:182-210).
SIMILARITY_KERNELS = frozenset({"cosine", "jaccard"})

_D = "double"

# Target pairwise-evaluations per task for auto block sizing: a
# 2048-row numpy chunk against a ~2000-row block is ~4M kernel evals
# and a few tens of MB of working set — comfortably in-executor-memory
# at any dim the pipeline uses.
TARGET_PAIRS_PER_TASK = 4_000_000


# Points up to which pairwise_topk and epsjoin.eps_neighbor_pairs
# answer on the driver in one numpy pass (util.size_dispatch) instead
# of running their distributed block / pivot plans: the largest
# measured size where the driver twin was at least 2x faster than the
# forced distributed path (timings in the module docstring).
MAX_LOCAL_POINTS = 2000

# Bound on a driver twin's kernel temporaries: rows of a chunk x n x
# dim x 8 bytes (the driver-side counterpart of _task_chunk). Small
# chunks stay in cache: the euclidean matrix of 2000 random 64-dim
# points took 0.56 s at 2 MiB and 0.73 s at 32 MiB (median of 5).
_LOCAL_CHUNK_BYTES = 2 << 20


def _points(pdf: pd.DataFrame) -> tuple[np.ndarray, np.ndarray]:
    """(ids, n x dim vectors) of a collected (id, vec) frame."""
    ids = pdf["id"].to_numpy(dtype=np.int64)
    v = np.array(pdf["vec"].tolist(), dtype=np.float64)
    return ids, v.reshape(len(ids), -1) if len(ids) else np.zeros((0, 0))


def _local_matrix(v: np.ndarray, kernel: str) -> np.ndarray:
    """The n x n kernel matrix of a driver twin: np_kernel over
    upper-triangle row chunks, mirrored. Every kernel is symmetric bit
    for bit (IEEE + and * commute, fl(a-b) = -fl(b-a), min/max are
    symmetric), so the mirror holds what np_kernel(b, a) would give,
    and each entry equals the block tasks' value for the same pair."""
    n, dim = v.shape
    m = np.empty((n, n))
    ch = max(1, _LOCAL_CHUNK_BYTES // max(1, n * dim * 8))
    for lo in range(0, n, ch):
        blk = np_kernel(v[lo : lo + ch], v[lo:], kernel)
        m[lo : lo + ch, lo:] = blk
        m[lo:, lo : lo + ch] = blk.T
    return m


def auto_n_blocks(
    n_rows: int,
    parallelism: int = 1,
    target_pairs: int = TARGET_PAIRS_PER_TASK,
    dim: int | None = None,
) -> int:
    """Blocking factor so each of the B(B+1)/2 block-pair tasks holds
    ~(n/B)^2 <= target_pairs AND there are at least ``parallelism``
    tasks to spread over the cluster. A static B caps parallelism at
    small B (36 tasks at B=8) and OOMs at large n — derive it from n
    and the cluster instead (VERDICT.md round-1 'what's wrong' #7).

    ``dim`` scales the per-pair budget: np_kernel's explicit-difference
    temporaries are chunk x block x dim x 8 bytes, so a 512-dim input
    needs 8x more blocks than the 64-dim test shape for the same task
    memory (VERDICT r2 'what's wrong' #5). Constant memory needs the
    BLOCK ROW COUNT n/B to shrink linearly with dim, i.e. the pair
    budget (n/B)^2 divided by (dim/64)^2 — dividing by dim/64 only
    bought sqrt(dim) and still built multi-GB temporaries at dim 512.
    dim <= 64 (and None, for callers that can't know it) keeps
    decisions bit-identical to the dim-blind rule. Belt-and-braces:
    _task_chunk additionally bounds the temporary inside each task
    even when the block cap pins B."""
    eff_target = target_pairs / max((dim or 0) / 64.0, 1.0) ** 2
    b_mem = math.ceil(n_rows / math.sqrt(float(eff_target)))
    # smallest B with B(B+1)/2 >= parallelism
    b_par = math.ceil((math.sqrt(8.0 * max(parallelism, 1) + 1.0) - 1.0) / 2.0)
    # cap bounds the task count (1024 -> ~525k block-pair tasks, fine
    # for a large cluster's scheduler); past it, _task_chunk still
    # bounds task memory and only per-task compute grows
    return int(min(max(b_mem, b_par, 1), 1024))


def _task_chunk(chunk: int, v: "np.ndarray") -> int:  # noqa: F821
    """a-side row chunk inside a kernel task, shrunk with the vector
    width so the chunk x block x dim x 8-byte temporary never outgrows
    the 64-dim budget even when the block-count cap pins B. Identical
    to ``chunk`` at dim <= 64; chunking only partitions the
    computation, so outputs are bit-identical either way."""
    dim = v.shape[1] if v.ndim == 2 and v.size else 64
    return max(128, (chunk * 64) // max(dim, 64))


def rows_and_dim(df: DataFrame, vec_col: str = "vec") -> tuple[int, int | None]:
    """(row count, vector width) in ONE action — sizing auto_n_blocks
    needs both, and paying two sequential driver jobs (count + first)
    per pairwise call doubles the fixed scheduling latency of every
    kernel invocation on a loaded cluster."""
    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.first(F.size(F.col(vec_col)), ignorenulls=True).alias("d"),
    ).first()
    d = row["d"]
    return int(row["n"]), (int(d) if d is not None and d >= 0 else None)


def _sum(col: Column) -> Column:
    return F.aggregate(col, F.lit(0.0).cast(_D), lambda acc, x: acc + x)


def distance_expr(a: Column, b: Column, kernel: str) -> Column:
    """Column expression computing kernel(a, b) for two array<double> cols."""
    if kernel == "euclidean":
        return F.sqrt(_sum(F.zip_with(a, b, lambda x, y: (x - y) * (x - y))))
    if kernel == "manhattan":
        return _sum(F.zip_with(a, b, lambda x, y: F.abs(x - y)))
    if kernel == "canberra":
        # zero-denominator guarded to 0, as the reference does
        # (DistanceMeasureNodes.java:110-161).
        return _sum(
            F.zip_with(
                a,
                b,
                lambda x, y: F.when(F.abs(x) + F.abs(y) == 0.0, F.lit(0.0)).otherwise(
                    F.abs(x - y) / (F.abs(x) + F.abs(y))
                ),
            )
        )
    if kernel == "cosine":
        dot = _sum(F.zip_with(a, b, lambda x, y: x * y))
        na = F.sqrt(_sum(F.transform(a, lambda x: x * x)))
        nb = F.sqrt(_sum(F.transform(b, lambda x: x * x)))
        return F.when((na == 0.0) | (nb == 0.0), F.lit(0.0)).otherwise(dot / (na * nb))
    if kernel == "jaccard":
        smin = _sum(F.zip_with(a, b, lambda x, y: F.least(x, y)))
        smax = _sum(F.zip_with(a, b, lambda x, y: F.greatest(x, y)))
        return F.when(smax == 0.0, F.lit(0.0)).otherwise(smin / smax)
    if kernel == "bray_curtis":
        num = _sum(F.zip_with(a, b, lambda x, y: F.abs(x - y)))
        den = _sum(F.zip_with(a, b, lambda x, y: x + y))
        return F.when(den == 0.0, F.lit(0.0)).otherwise(num / den)
    raise ValueError(f"unknown kernel {kernel!r}; one of {KERNELS}")


def block_pairs(
    df: DataFrame,
    id_col: str = "id",
    vec_col: str = "vec",
    n_blocks: int = 8,
) -> DataFrame:
    """All unordered pairs (id_a < id_b) via a block-nested self-join.

    Each row is hashed into one of ``n_blocks`` buckets; a tiny
    broadcast table of block pairs (ba <= bb) fans rows out so the
    pairwise space is covered exactly once. Parallelism = number of
    block pairs; size n_blocks so (n/B)^2 pairs fit one task at the
    target scale (at 100 TB this is the knob, not the algorithm).
    """
    spark = df.sparkSession
    b = F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_blocks)).cast("int")
    left = df.select(
        F.col(id_col).alias("id_a"), F.col(vec_col).alias("vec_a"), b.alias("ba")
    )
    right = df.select(
        F.col(id_col).alias("id_b"), F.col(vec_col).alias("vec_b"), b.alias("bb")
    )
    pairs = spark.createDataFrame(
        [(i, j) for i in range(n_blocks) for j in range(i, n_blocks)], "pa int, pb int"
    )
    fanned = left.join(F.broadcast(pairs), left["ba"] == pairs["pa"])
    joined = fanned.join(right, fanned["pb"] == right["bb"])
    # Diagonal block-pairs produce both orientations + self pairs; cross
    # block-pairs produce each unordered pair once in arbitrary id order.
    return (
        joined.where(
            ((F.col("ba") == F.col("bb")) & (F.col("id_a") < F.col("id_b")))
            | (F.col("ba") != F.col("bb"))
        )
        .select(
            F.least("id_a", "id_b").alias("src"),
            F.greatest("id_a", "id_b").alias("dst"),
            F.when(F.col("id_a") < F.col("id_b"), F.col("vec_a"))
            .otherwise(F.col("vec_b"))
            .alias("vec_src"),
            F.when(F.col("id_a") < F.col("id_b"), F.col("vec_b"))
            .otherwise(F.col("vec_a"))
            .alias("vec_dst"),
        )
    )


def np_kernel(a: np.ndarray, b: np.ndarray, kernel: str) -> np.ndarray:
    """Vectorized (m,d)x(n,d) -> (m,n) kernel matrix; same zero-guard
    semantics as distance_expr. Differences are formed explicitly (no
    a^2+b^2-2ab shortcut) so values agree with the fold-based SQL path
    to the last few ulps."""
    if kernel == "euclidean":
        d = a[:, None, :] - b[None, :, :]
        return np.sqrt((d * d).sum(-1))
    if kernel == "manhattan":
        return np.abs(a[:, None, :] - b[None, :, :]).sum(-1)
    if kernel == "canberra":
        num = np.abs(a[:, None, :] - b[None, :, :])
        den = np.abs(a)[:, None, :] + np.abs(b)[None, :, :]
        with np.errstate(divide="ignore", invalid="ignore"):
            t = np.where(den == 0.0, 0.0, num / den)
        return t.sum(-1)
    if kernel == "cosine":
        # row-wise like the other kernels: a BLAS matmul's summation
        # order depends on the block shapes, so distances would depend
        # on how the points were blocked
        dot = (a[:, None, :] * b[None, :, :]).sum(-1)
        na = np.sqrt((a * a).sum(-1))
        nb = np.sqrt((b * b).sum(-1))
        den = na[:, None] * nb[None, :]
        with np.errstate(divide="ignore", invalid="ignore"):
            return np.where((na[:, None] == 0.0) | (nb[None, :] == 0.0), 0.0, dot / den)
    if kernel == "jaccard":
        smin = np.minimum(a[:, None, :], b[None, :, :]).sum(-1)
        smax = np.maximum(a[:, None, :], b[None, :, :]).sum(-1)
        with np.errstate(divide="ignore", invalid="ignore"):
            return np.where(smax == 0.0, 0.0, smin / smax)
    if kernel == "bray_curtis":
        num = np.abs(a[:, None, :] - b[None, :, :]).sum(-1)
        den = (a[:, None, :] + b[None, :, :]).sum(-1)
        with np.errstate(divide="ignore", invalid="ignore"):
            return np.where(den == 0.0, 0.0, num / den)
    raise ValueError(f"unknown kernel {kernel!r}; one of {KERNELS}")


def _pairwise_numpy(
    df: DataFrame,
    kernel: str,
    id_col: str,
    vec_col: str,
    n_blocks: int,
    directed: bool,
    chunk: int = 2048,
    eps: float | None = None,
    strict: bool = False,
    tau: float | None = None,
) -> DataFrame:
    """Block-matrix pairwise kernel: rows are fanned to their
    B*(B+1)/2 block-pairs and each group computes its kernel *matrix*
    with batched numpy inside applyInPandas. Only (id, vec, blk) rows
    move — the quadratic pair space exists solely as numpy blocks inside
    tasks, never as shuffled wide rows. This is the hot path
    (SURVEY.md §2.3: cdist-style block kernel); the SQL expression path
    below remains as the bit-exact oracle twin."""
    b = F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_blocks)).cast("int")
    tagged = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec"), b.alias("blk"))
    # Fan each row to its B block-pair groups {(i, blk): i <= blk} u
    # {(blk, j): j > blk} as a pure column-expression explode — a join
    # against a block-pair table would plan as a BroadcastNestedLoopJoin
    # (the OR-disjunction is not an equi-join) and serialize through one
    # broadcast; this stays inside codegen with no join at all.
    lower = F.transform(
        F.sequence(F.lit(0), F.col("blk")),
        lambda i: F.struct(i.cast("int").alias("pa"), F.col("blk").alias("pb")),
    )
    upper = F.when(
        F.col("blk") < F.lit(n_blocks - 1),
        F.transform(
            F.sequence(F.col("blk") + 1, F.lit(n_blocks - 1)),
            lambda j: F.struct(F.col("blk").alias("pa"), j.cast("int").alias("pb")),
        ),
    ).otherwise(F.array().cast("array<struct<pa:int,pb:int>>"))
    fan = tagged.select(
        "id", "vec", "blk", F.explode(F.concat(lower, upper)).alias("bp")
    ).select("id", "vec", "blk", F.col("bp.pa").alias("pa"), F.col("bp.pb").alias("pb"))

    def kfn(key, pdf):
        pa, pb = key
        out = []

        def emit(src, dst, dist):
            if directed:
                out.append(
                    pd.DataFrame(
                        {
                            "src": np.concatenate([src, dst]),
                            "dst": np.concatenate([dst, src]),
                            "dist": np.concatenate([dist, dist]),
                        }
                    )
                )
            else:
                lo = np.minimum(src, dst)
                hi = np.maximum(src, dst)
                out.append(pd.DataFrame({"src": lo, "dst": hi, "dist": dist}))

        def esel(d: np.ndarray) -> np.ndarray:
            # eps / tau pushed INSIDE the task: pairs outside the
            # threshold are dropped before they ever become rows (the
            # all-pairs edge list never exists when the caller only
            # wants the eps ball / the >= tau similarity set)
            if eps is not None:
                return d < eps if strict else d <= eps
            if tau is not None:
                return d >= tau
            return np.ones(d.shape, dtype=bool)

        if pa == pb:
            sub = pdf[pdf["blk"] == pa]
            ids = sub["id"].to_numpy()
            v = np.array(sub["vec"].tolist(), dtype=np.float64)
            ch = _task_chunk(chunk, v)
            for lo in range(0, len(ids), ch):
                a = v[lo : lo + ch]
                d = np_kernel(a, v, kernel)
                cond = (ids[lo : lo + ch, None] < ids[None, :]) & esel(d)
                iu, ju = np.nonzero(cond)
                emit(ids[lo + iu], ids[ju], d[iu, ju])
        else:
            asub = pdf[pdf["blk"] == pa]
            bsub = pdf[pdf["blk"] == pb]
            aids = asub["id"].to_numpy()
            bids = bsub["id"].to_numpy()
            if len(aids) and len(bids):
                bv = np.array(bsub["vec"].tolist(), dtype=np.float64)
                av = np.array(asub["vec"].tolist(), dtype=np.float64)
                ch = _task_chunk(chunk, av)
                for lo in range(0, len(aids), ch):
                    d = np_kernel(av[lo : lo + ch], bv, kernel)
                    iu, ju = np.nonzero(esel(d))
                    emit(aids[lo + iu], bids[ju], d[iu, ju])
        if not out:
            return pd.DataFrame({"src": [], "dst": [], "dist": []})
        return pd.concat(out, ignore_index=True)

    return fan.groupBy("pa", "pb").applyInPandas(kfn, "src long, dst long, dist double")


def pairwise_topk(
    df: DataFrame,
    k: int,
    kernel: str = "euclidean",
    id_col: str = "id",
    vec_col: str = "vec",
    n_blocks: int | None = None,
    largest: bool = False,
    chunk: int = 2048,
) -> DataFrame:
    """Exact per-src top-k neighbors: (src, dst, dist, rank), rank
    1..k ordered by (dist asc, dst asc) — or (dist desc, dst asc) with
    ``largest=True`` for similarity kernels.

    Scale shape: each block-pair task emits only its per-src top-k
    (lexsorted by (dist, dst) inside numpy, so tie semantics match the
    final ranking exactly); the global window then ranks n*B*k
    candidate rows instead of the n^2 directed pair space. The global
    top-k per src is always contained in the union of its per-block
    top-k sets, so the result is identical to ranking the full
    pairwise edge list (the round-1 plan).

    Size-dispatched (``util.size_dispatch``) on the (id, vec) points:
    up to :data:`MAX_LOCAL_POINTS` they come back in one Arrow collect
    and :func:`_topk_local` ranks the full kernel matrix on the driver
    with the same kernel, self-pair sentinel and (dist, dst) order, so
    both paths return the same rows bit for bit. ``n_blocks`` and
    ``chunk`` only shape the distributed block plan."""
    pts = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec"))
    return size_dispatch(
        pts,
        lambda pdf: _topk_local(pdf, k, kernel, largest),
        lambda p: _topk_dist(p, k, kernel, n_blocks, largest, chunk),
        "src long, dst long, dist double, rank int",
        default_rows=MAX_LOCAL_POINTS,
    )


def _topk_local(pdf: pd.DataFrame, k: int, kernel: str, largest: bool) -> pd.DataFrame:
    """Driver twin of :func:`_topk_dist` over the collected points.
    Per row, the candidates are every entry whose key reaches the k-th
    smallest (an ``np.partition`` threshold, ties included); only they
    are lexsorted by (key, dst id), so the cut at rank k is exact."""
    ids, v = _points(pdf)
    if not len(ids):
        return pd.DataFrame()
    d = _local_matrix(v, kernel)
    # self pairs and non-finite entries key as +inf: they rank after
    # every finite entry and are dropped, as the block tasks' sentinel
    # and isfinite filter do
    key = np.where(
        np.isfinite(d) & (ids[:, None] != ids[None, :]), -d if largest else d, np.inf
    )
    kk = min(k, len(ids))
    thr = np.partition(key, kk - 1, axis=1)[:, kk - 1 : kk]
    i, j = np.nonzero(key <= thr)
    o = np.lexsort((ids[j], key[i, j], i))
    i, j = i[o], j[o]
    rank = np.arange(1, len(i) + 1) - np.searchsorted(i, i)
    keep = (rank <= kk) & (key[i, j] < np.inf)
    i, j = i[keep], j[keep]
    return pd.DataFrame(
        {"src": ids[i], "dst": ids[j], "dist": d[i, j], "rank": rank[keep].astype(np.int32)}
    )


def _topk_dist(
    pts: DataFrame, k: int, kernel: str, n_blocks: int | None, largest: bool, chunk: int
) -> DataFrame:
    """The block plan of :func:`pairwise_topk` over (id, vec) points."""
    if n_blocks is None:
        n, d = rows_and_dim(pts)
        n_blocks = auto_n_blocks(
            n, pts.sparkSession.sparkContext.defaultParallelism, dim=d
        )
    b = F.pmod(F.xxhash64(F.col("id")), F.lit(n_blocks)).cast("int")
    tagged = pts.select("id", "vec", b.alias("blk"))
    lower = F.transform(
        F.sequence(F.lit(0), F.col("blk")),
        lambda i: F.struct(i.cast("int").alias("pa"), F.col("blk").alias("pb")),
    )
    upper = F.when(
        F.col("blk") < F.lit(n_blocks - 1),
        F.transform(
            F.sequence(F.col("blk") + 1, F.lit(n_blocks - 1)),
            lambda j: F.struct(F.col("blk").alias("pa"), j.cast("int").alias("pb")),
        ),
    ).otherwise(F.array().cast("array<struct<pa:int,pb:int>>"))
    fan = tagged.select(
        "id", "vec", "blk", F.explode(F.concat(lower, upper)).alias("bp")
    ).select("id", "vec", "blk", F.col("bp.pa").alias("pa"), F.col("bp.pb").alias("pb"))
    sign = -1.0 if largest else 1.0

    def topk_rows(src_ids, dst_ids, d):
        """per-row top-k of d (src x dst) by (sign*dist, dst id); emits
        (src, dst, dist) arrays. Self-pairs must be pre-masked to inf."""
        kk = min(k, d.shape[1])
        order = np.lexsort(
            (np.broadcast_to(dst_ids, d.shape), sign * d), axis=1
        )[:, :kk]
        rows_i = np.repeat(np.arange(d.shape[0]), kk)
        cols = order.ravel()
        keep = np.isfinite(d[rows_i, cols])
        return src_ids[rows_i][keep], dst_ids[cols][keep], d[rows_i, cols][keep]

    def kfn(key, pdf):
        pa, pb = key
        out = []
        if pa == pb:
            sub = pdf[pdf["blk"] == pa]
            ids = sub["id"].to_numpy()
            v = np.array(sub["vec"].tolist(), dtype=np.float64)
            ch = _task_chunk(chunk, v)
            for lo in range(0, len(ids), ch):
                d = np_kernel(v[lo : lo + ch], v, kernel)
                # self-pair sentinel sorts LAST under either direction
                d[ids[lo : lo + ch, None] == ids[None, :]] = (
                    -np.inf if largest else np.inf
                )
                s, t, dd = topk_rows(ids[lo : lo + ch], ids, d)
                out.append(pd.DataFrame({"src": s, "dst": t, "dist": dd}))
        else:
            asub = pdf[pdf["blk"] == pa]
            bsub = pdf[pdf["blk"] == pb]
            aids = asub["id"].to_numpy()
            bids = bsub["id"].to_numpy()
            if len(aids) and len(bids):
                av = np.array(asub["vec"].tolist(), dtype=np.float64)
                bv = np.array(bsub["vec"].tolist(), dtype=np.float64)
                ch = _task_chunk(chunk, av)
                for lo in range(0, len(aids), ch):
                    d = np_kernel(av[lo : lo + ch], bv, kernel)
                    s, t, dd = topk_rows(aids[lo : lo + ch], bids, d)
                    out.append(pd.DataFrame({"src": s, "dst": t, "dist": dd}))
                for lo in range(0, len(bids), ch):
                    d = np_kernel(bv[lo : lo + ch], av, kernel)
                    s, t, dd = topk_rows(bids[lo : lo + ch], aids, d)
                    out.append(pd.DataFrame({"src": s, "dst": t, "dist": dd}))
        if not out:
            return pd.DataFrame({"src": [], "dst": [], "dist": []})
        return pd.concat(out, ignore_index=True)

    cand = fan.groupBy("pa", "pb").applyInPandas(kfn, "src long, dst long, dist double")
    from pyspark.sql import Window  # noqa: PLC0415

    order = (
        [F.col("dist").desc(), F.col("dst").asc()]
        if largest
        else [F.col("dist").asc(), F.col("dst").asc()]
    )
    w = Window.partitionBy("src").orderBy(*order)
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("src", "dst", "dist", "rank")
    )


def pairwise_distances(
    df: DataFrame,
    kernel: str = "euclidean",
    id_col: str = "id",
    vec_col: str = "vec",
    n_blocks: int | None = None,
    directed: bool = False,
    impl: str = "numpy",
) -> DataFrame:
    """Exact all-pairs kernel evaluation -> (src, dst, dist) edge list.

    Canonical orientation src < dst (reference mirrors the upper
    triangle, DistanceMeasureNodes.java:17-28); ``directed=True`` emits
    both orientations for per-row window operators (kNN, sigmas).

    n_blocks=None (default) sizes the blocking from the row count
    (auto_n_blocks) — pass it explicitly only when the caller already
    knows n and wants to skip the count job.

    impl="numpy" (default): Arrow-batched block kernel (fast path);
    impl="sql": pure Spark SQL expressions (bit-exact wrt a left-fold
    oracle; used where bitwise parity matters more than speed).
    """
    if n_blocks is None:
        n, d = rows_and_dim(df, vec_col)
        n_blocks = auto_n_blocks(
            n, df.sparkSession.sparkContext.defaultParallelism, dim=d
        )
    if impl == "numpy":
        return _pairwise_numpy(df, kernel, id_col, vec_col, n_blocks, directed)
    pairs = block_pairs(df, id_col, vec_col, n_blocks)
    edges = pairs.select(
        "src", "dst", distance_expr(F.col("vec_src"), F.col("vec_dst"), kernel).alias("dist")
    )
    if directed:
        # emit both orientations from ONE kernel evaluation (a union of
        # the swapped half would re-run the self-join and the kernel)
        edges = edges.select(
            F.explode(
                F.array(
                    F.struct(F.col("src"), F.col("dst"), F.col("dist")),
                    F.struct(
                        F.col("dst").alias("src"),
                        F.col("src").alias("dst"),
                        F.col("dist"),
                    ),
                )
            ).alias("e")
        ).select("e.src", "e.dst", "e.dist")
    return edges
