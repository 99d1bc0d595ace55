"""Distributed eigensolver: matrix-free orthogonal (block power)
iteration over an edge-list DataFrame — the Laplacian-eigenmaps stage.

The reference runs a dense generalized EVD on the driver (ojAlgo,
src/src/main/java/eigendecomposed/EigenCalculation.java:196-207) then
keeps the k LARGEST eigenpairs (ascending sort + last-k extraction,
EigenCalculation.java:289,305; same in the Python oracle,
experiments/experiments_simkit-0.1.2.py:125). Because the "sym
Laplacian" is really the normalized affinity D^(-1/2)AD^(-1/2), the
dominant eigenpairs are exactly what block power iteration converges to
— so the distributed rebuild is matrix-free:

    Y = A @ V      -> one join (edges x V on dst) + one groupBy(src)
    V = Y @ R^-1   -> k x k Gram aggregated to the driver, Cholesky QR

Only k x k matrices ever touch the driver; the n x k iterate stays a
DataFrame with lineage broken every sweep via localCheckpoint.

For small blocks (per-cluster spectral refinement after the
connected-components merge) use eigen_local(), a numpy fallback — the
common case after blocking, per SURVEY.md §7.4.1.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from ..util import materialize, size_dispatch


def _matvec(edges: DataFrame, v: DataFrame, k: int, shift: float = 0.0) -> DataFrame:
    """Y = (A + shift*I) @ V for V=(id, vec[k]); edges symmetric (both
    orientations). The diagonal shift makes the operator PSD so block
    power iteration converges to the largest *signed* eigenpairs — the
    ones the reference extracts (EigenCalculation.java:289,305) — not
    the largest-magnitude ones (the zero-diagonal normalized affinity
    has large negative eigenvalues). Isolated nodes keep their
    shift-only row via the left join on V's vertex set.
    """
    joined = edges.join(v.withColumnRenamed("id", "dst"), "dst")
    y = joined.groupBy(F.col("src").alias("id")).agg(
        *[F.sum(F.col("weight") * F.col("vec")[c]).alias(f"y{c}") for c in range(k)]
    )
    return (
        v.join(y, "id", "left")
        .select(
            "id",
            F.array(
                *[
                    F.coalesce(F.col(f"y{c}"), F.lit(0.0)) + F.lit(shift) * F.col("vec")[c]
                    for c in range(k)
                ]
            ).alias("vec"),
        )
    )


def _gram(v: DataFrame, k: int) -> np.ndarray:
    """k x k Gram matrix V^T V via one aggregation (k(k+1)/2 sums)."""
    aggs = []
    for i in range(k):
        for j in range(i, k):
            aggs.append(F.sum(F.col("vec")[i] * F.col("vec")[j]).alias(f"g_{i}_{j}"))
    row = v.agg(*aggs).collect()[0]
    g = np.zeros((k, k))
    for i in range(k):
        for j in range(i, k):
            g[i, j] = g[j, i] = row[f"g_{i}_{j}"] or 0.0
    return g


def _cross_gram(v: DataFrame, y: DataFrame, k: int) -> np.ndarray:
    """k x k matrix V^T Y (for Ritz values)."""
    joined = v.join(y.withColumnRenamed("vec", "yvec"), "id")
    aggs = [
        F.sum(F.col("vec")[i] * F.col("yvec")[j]).alias(f"c_{i}_{j}")
        for i in range(k)
        for j in range(k)
    ]
    row = joined.agg(*aggs).collect()[0]
    return np.array([[row[f"c_{i}_{j}"] or 0.0 for j in range(k)] for i in range(k)])


def _rotate(v: DataFrame, m: np.ndarray, k: int) -> DataFrame:
    """V @ M as column expressions (k^2 multiply-adds, JVM-side)."""
    cols = [
        sum((F.col("vec")[j] * float(m[j, c]) for j in range(1, k)),
            F.col("vec")[0] * float(m[0, c])).alias(f"v{c}")
        for c in range(k)
    ]
    return v.select("id", *cols).select(
        "id", F.array(*[F.col(f"v{c}") for c in range(k)]).alias("vec")
    )


def _init_v(nodes: DataFrame, k: int, seed: int) -> DataFrame:
    """Deterministic pseudo-random init derived from (seed, id, column) —
    replaces the reference's external-HTTP RNG (Unsupervised.java:315-344)
    with hash-derived randomness that is partitioning-independent."""
    cols = [
        (
            (F.pmod(F.xxhash64(F.col("id"), F.lit(seed), F.lit(c)), F.lit(1_000_003)).cast("double")
             / 1_000_003.0) - 0.5
        )
        for c in range(k)
    ]
    return nodes.select(F.col("id"), F.array(*cols).alias("vec"))


def _eigensolve_dist(
    edges: DataFrame, k: int, max_iter: int, tol: float, seed: int
) -> tuple[DataFrame, np.ndarray]:
    """Distributed path of ``eigensolve``: matrix-free block power
    iteration over the symmetric edge-list operator."""
    # The edge list is read once per sweep — materialize it (in prod this
    # is the persisted affinity stage table; here localCheckpoint), then
    # pin a dst-hash + dst-SORTED persisted layout: the cached plan keeps
    # its outputOrdering, so each sweep's matvec sort-merge join streams
    # the edge table with NO edge-side re-sort (only the node-sized V
    # side sorts per sweep — the pagerank lesson, BENCH/STRESS.md r4;
    # measured 5.5 -> 3.5 s/sweep at 2M edge rows / 100k nodes).
    edges = (
        materialize(edges)
        .repartition("dst")
        .sortWithinPartitions("dst")
        .persist()
    )
    nodes = edges.select(F.col("src").alias("id")).union(
        edges.select(F.col("dst").alias("id"))
    ).distinct()
    # Gershgorin bound on the spectral radius -> PSD shift (one agg job).
    rho = (
        edges.groupBy("src")
        .agg(F.sum(F.abs(F.col("weight"))).alias("rs"))
        .agg(F.max("rs").alias("m"))
        .collect()[0]["m"]
        or 1.0
    )
    v = materialize(_init_v(nodes, k, seed))
    prev = None
    for it in range(max_iter):
        y = _matvec(edges, v, k, shift=rho)
        g = _gram(y, k)  # the only job per sweep
        # Cholesky QR: Y = Q R with R^T R = G; regularize for rank
        # deficiency early in the iteration.
        try:
            r = np.linalg.cholesky(g + 1e-12 * np.eye(k)).T
        except np.linalg.LinAlgError:
            r = np.linalg.cholesky(g + 1e-6 * np.eye(k)).T
        v = _rotate(y, np.linalg.inv(r), k)
        if it % 2 == 1:
            # break lineage every other sweep: the gram job re-runs the
            # matvec chain since the last checkpoint, so its cost grows
            # linearly with the window (measured 0.3s -> 2.5s at 4)
            v = materialize(v)
        # Free Ritz estimate: A' PSD => singular values of Y == Ritz
        # values of A' on span(V); sqrt(eig(G)) needs no extra job.
        lam = np.sqrt(np.clip(np.sort(np.linalg.eigvalsh(g)), 0.0, None)) - rho
        if prev is not None and np.max(np.abs(lam - prev)) < tol:
            break
        prev = lam
    # Final Ritz rotation: align columns with eigenvectors of the small
    # projected operator, ascending eigenvalue order.
    v = materialize(v)
    y = _matvec(edges, v, k, shift=rho)
    b = _cross_gram(v, y, k)
    b = (b + b.T) / 2.0
    lam, w = np.linalg.eigh(b)  # ascending
    x = materialize(_rotate(v, w, k))
    edges.unpersist()
    return x, lam - rho


# Largest graph the local path solves densely: a 3000-node block is
# ~72 MB of float64 and one numpy eigh, in place of ~2 jobs per sweep.
MAX_LOCAL_NODES = 3000


def eigensolve(
    edges: DataFrame,
    k: int = 3,
    max_iter: int = 100,
    tol: float = 1e-7,
    seed: int = 42,
    symmetric: bool = True,
) -> tuple[DataFrame, np.ndarray]:
    """Dominant-k eigenpairs of the (src, dst, weight) edge-list
    operator.

    Returns (X, eigenvalues) where X = DataFrame(id, vec: array[k]) with
    columns ordered by ASCENDING eigenvalue, matching the reference's
    output convention (EigenCalculation.java:277-308: ascending sort,
    X = last-k columns => column j of X corresponds to eigenvalues[j]).
    eigenvalues is the ascending numpy array of the k Ritz values.

    Size-dispatched (SURVEY.md §7.4.1) on
    ``util.size_dispatch``: an edge list within the dispatch byte
    budget (~2.8M (src, dst, weight) rows) whose endpoints number at
    most ``MAX_LOCAL_NODES`` is solved densely on the driver
    (eigen_local); anything larger runs the matrix-free distributed
    iteration. After connected-components blocking the small case is
    the common one; the distributed path is the mega-cluster safety
    net. A graph of at most 3000 nodes carried by more than ~2.8M edge
    rows also goes distributed; no caller here is near that (the
    spectral queries' embeddings.parquet inputs hold at most 2,000
    points). The vertex set is the edge endpoints.

    Pass ``symmetric=False`` for non-symmetric operators (directed-kNN
    graphs, "rw" laplacians) so the local path does not mirror the
    edge list (see eigen_local). Their edge list is de-duplicated
    before the dispatch, and past the local solve they raise
    ValueError: the distributed solver assumes a symmetric operator."""
    lam = []

    def nonsymmetric_raise():
        # silently running the Gram/Ritz iteration on a non-symmetric
        # operator would make 'rw' results diverge from the local path
        # at the size boundary (ADVICE r2 #2). Stay loud.
        if not symmetric:
            raise ValueError(
                "eigensolve(symmetric=False) is past the local solve "
                f"({MAX_LOCAL_NODES} nodes within the util.size_dispatch "
                "budget): the distributed eigensolve only handles symmetric "
                "operators — symmetrize the edge list (or similarity-transform "
                "the 'rw' laplacian to 'sym', same spectrum) before calling"
            )

    def local(epd):
        ids = np.unique(np.concatenate([epd["src"].to_numpy(), epd["dst"].to_numpy()]))
        if len(ids) > MAX_LOCAL_NODES:
            # raise here, before size_dispatch checkpoints the upstream
            nonsymmetric_raise()
            return None
        vals, x, idx = eigen_local(
            epd.itertuples(index=False, name=None), ids.tolist(), k, symmetric
        )
        lam.append(vals)
        return pd.DataFrame({"id": list(idx), "vec": [x[j].tolist() for j in idx.values()]})

    def dist(e):
        nonsymmetric_raise()
        x, vals = _eigensolve_dist(e, k, max_iter, tol, seed)
        lam.append(vals)
        return x

    e = edges.select("src", "dst", "weight")
    x = size_dispatch(
        e if symmetric else e.distinct(),
        local,
        dist,
        "id long, vec array<double>",
        default_rows=MAX_LOCAL_NODES * MAX_LOCAL_NODES,
    )
    return x, lam[0]


def eigen_local(
    edges_rows: list, node_ids: list, k: int, symmetric: bool = True
) -> tuple[np.ndarray, np.ndarray, dict]:
    """Driver-side dense fallback for small blocks: numpy eigh / eig.

    edges_rows: iterable of (src, dst, weight). With ``symmetric=True``
    (default) the input may be canonical (src < dst only) or carry both
    orientations — missing mirrors are filled in. ``symmetric=False``
    treats the edge list as the literal (possibly non-symmetric) matrix
    — the directed-kNN laplacians and every "rw" laplacian — and solves
    with np.linalg.eig (real spectra: rw is similar to the symmetric
    normalized operator). Returns (eigenvalues_asc[k], X[n,k],
    id->row index map); k largest, reported ascending —
    EigenCalculation.java:289,305.
    """
    idx = {nid: i for i, nid in enumerate(sorted(node_ids))}
    n = len(idx)
    a = np.zeros((n, n))
    for s, d, w in edges_rows:
        a[idx[s], idx[d]] = w
        if symmetric:
            a[idx[d], idx[s]] = w
    if symmetric:
        lam, vec = np.linalg.eigh(a)
        return lam[-k:], vec[:, -k:], idx
    lam_c, vec_c = np.linalg.eig(a)
    order = np.argsort(lam_c.real)
    return lam_c.real[order[-k:]], vec_c[:, order[-k:]].real, idx


def eigengap_k(eigenvalues_asc: np.ndarray, max_k: int = 10) -> int:
    """Optimal cluster count from the largest gap among the first 10
    ascending eigenvalues: np.argmax(np.diff(e)[:10]) + 1
    (experiments/experiments_simkit-0.1.2.py:113-114;
    EigenGap.java:71-84). Floored at 2 as the oracle does (:123)."""
    gaps = np.abs(np.diff(np.asarray(eigenvalues_asc)))[:max_k]
    if gaps.size == 0:
        return 2
    return max(int(np.argmax(gaps)) + 1, 2)


def degree_scaled_power_bound(n: int, k: int) -> int:
    """Heuristic max_iter: O(log n) sweeps per decade of spectral gap."""
    return max(30, int(10 * math.log10(max(n, 10)) + 5 * k))
