"""Distributed PCA / whitening over an embedding column.

The preprocessing step of the semantic-dedup family (SemDeDup et al.
reduce/whiten embeddings before clustering) and the classic
dimensionality reduction for ANN index build. Relationship to the
reference: simkit's eigen machinery decomposes GRAPH Laplacians
(SURVEY §2.6); this is the same spectral move applied to the feature
covariance instead of the affinity matrix — beyond-reference surface.

Scale design — covariance, not data, is eigendecomposed:
- ONE pass over the data computes per-partition partial statistics
  (count, sum vector, Gram matrix X^T X) via Arrow batches of numpy —
  each partition emits a single (d + d^2 + 1)-value row, so the
  shuffle is #partitions rows regardless of corpus size.
- The d x d covariance (d = 64..1024 in practice) eigensolves on the
  driver with numpy in microseconds. Nothing n-sized ever leaves the
  executors; nothing d^2-sized iterates.
- The projection back over the data is a broadcast (mu, W) matmul in
  the same Arrow-batch form — one more single pass, no shuffle at all.

Determinism: float partial sums ARE order-sensitive, so partials carry
their partition index and the driver folds them in sorted-index order
— bit-stable for a fixed input layout (the spectral_embedding
contract: rows-only driver check + committed content hash). Eigvec
sign is fixed by making each vector's largest-|component| entry
positive (ties: lowest index).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, functions as F


def _partials(df: DataFrame, vec_col: str) -> list:
    """One (part_id, n, sum[d], gram[d*d]) row per non-empty partition."""
    import pandas as pd

    def gen(it):
        pid = None
        n = 0
        s = None
        g = None
        for pdf in it:
            if pid is None and len(pdf):
                pid = int(pdf["_pid"].iloc[0])
            x = np.asarray([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
            if x.size == 0:
                continue
            if s is None:
                s = np.zeros(x.shape[1])
                g = np.zeros((x.shape[1], x.shape[1]))
            n += x.shape[0]
            s += x.sum(axis=0)
            g += x.T @ x
        if n:
            yield pd.DataFrame(
                {
                    "pid": [pid],
                    "n": [n],
                    "s": [s.tolist()],
                    "g": [g.reshape(-1).tolist()],
                }
            )

    parts = (
        df.select(F.spark_partition_id().alias("_pid"), vec_col)
        .mapInPandas(gen, "pid int, n long, s array<double>, g array<double>")
        .collect()
    )
    return sorted(parts, key=lambda r: r["pid"])


def fit_pca(
    emb: DataFrame,
    k: int,
    vec_col: str = "vec",
    ddof: int = 1,
) -> dict:
    """Fit: returns {"mean": d-vector, "components": (d, k) columns =
    top-k eigenvectors of the covariance by descending eigenvalue,
    "explained_variance": k eigenvalues, "n": row count}."""
    parts = _partials(emb, vec_col)
    if not parts:
        raise ValueError("fit_pca on an empty DataFrame")
    n = sum(r["n"] for r in parts)
    d = len(parts[0]["s"])
    if not 1 <= k <= d:
        raise ValueError(f"k must be in [1, {d}], got {k}")
    s = np.zeros(d)
    g = np.zeros((d, d))
    for r in parts:  # sorted partition order — deterministic fold
        s += np.asarray(r["s"])
        g += np.asarray(r["g"]).reshape(d, d)
    mu = s / n
    denom = max(n - ddof, 1)
    cov = (g - n * np.outer(mu, mu)) / denom
    vals, vecs = np.linalg.eigh(cov)  # ascending
    order = np.argsort(vals)[::-1][:k]
    w = vecs[:, order]
    lam = vals[order]
    # sign convention: largest-|component| entry positive, ties lowest idx
    for j in range(w.shape[1]):
        i = int(np.argmax(np.abs(w[:, j])))
        if w[i, j] < 0:
            w[:, j] = -w[:, j]
    return {"mean": mu, "components": w, "explained_variance": lam, "n": n}


def transform_pca(
    emb: DataFrame,
    model: dict,
    id_col: str = "id",
    vec_col: str = "vec",
    out_col: str = "pca",
    whiten: bool = False,
    eps: float = 1e-9,
) -> DataFrame:
    """Project: (id, out_col array<double>) = (x - mean) @ components,
    optionally divided by sqrt(eigenvalue + eps) (whitening — unit
    variance per retained direction). Eigenvalues are clipped at zero
    first: eigh of a near-singular covariance can return tiny negative
    ones, whose sqrt would be NaN (eigen.py clips the same way).
    Broadcast matmul per Arrow batch; no shuffle."""
    import pandas as pd

    mu = np.asarray(model["mean"], dtype=np.float64)
    w = np.asarray(model["components"], dtype=np.float64)
    if whiten:
        lam = np.asarray(model["explained_variance"], dtype=np.float64)
        w = w / np.sqrt(np.clip(lam, 0.0, None) + eps)
    bc = emb.sparkSession.sparkContext.broadcast((mu, w))

    def gen(it):
        m, proj = bc.value
        for pdf in it:
            x = np.asarray([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
            out = (x - m) @ proj if x.size else np.zeros((0, proj.shape[1]))
            yield pd.DataFrame(
                {id_col: pdf[id_col], out_col: [row.tolist() for row in out]}
            )

    id_t = emb.schema[id_col].dataType.simpleString()
    return emb.select(id_col, vec_col).mapInPandas(
        gen, f"{id_col} {id_t}, {out_col} array<double>"
    )


def embedding_pca(
    emb: DataFrame,
    k: int,
    id_col: str = "id",
    vec_col: str = "vec",
    whiten: bool = False,
) -> DataFrame:
    """fit + transform in one call (the common path)."""
    model = fit_pca(emb, k, vec_col=vec_col)
    return transform_pca(
        emb, model, id_col=id_col, vec_col=vec_col, whiten=whiten
    )
