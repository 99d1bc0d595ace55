"""SemDeDup-style semantic deduplication: k-means-partition the
embedding space, then resolve near-duplicates EXACTLY inside each
cluster — the embedding-space analogue of MinHash near-dup resolution,
and the standard "semantic" pass of a modern pretraining-data pipeline
(Abbas et al. 2023, SemDeDup; public method).

Why this shape at 100 TB: all-pairs cosine over the corpus is O(n²) and
unshardable, but near-duplicates are near each other in embedding
space, so a coarse quantizer (k-means over the same embeddings) makes
the problem embarrassingly parallel: every cluster resolves its own
duplicates in one task with a bounded-size numpy kernel, and clusters
never talk to each other. The recall loss is exactly the pairs k-means
separates — the same approximation the published method accepts.

Determinism: the quantizer is the repo's seeded k-means
(farthest-first init, fixed iterations); oversized clusters split by
md5(id) salt; the per-cluster resolution keeps the smallest id of each
cos>=tau connected component. Every choice is engine- and
partitioning-reproducible, so the driver artifact can content-hash the
output (rows-only query — k-means is not SQL-expressible).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from ..operators.kmeans import kmeans


def _resolve_component(ids: np.ndarray, vecs: np.ndarray, tau: float) -> np.ndarray:
    """Union-find over the cos>=tau graph of one (sub)cluster; returns
    the component representative (min id) for every row. Gram matrix is
    computed in row-chunks so the temporary stays bounded even at the
    max_cluster cap."""
    order = np.argsort(ids, kind="stable")
    ids, vecs = ids[order], vecs[order]
    n = len(ids)
    norms = np.linalg.norm(vecs, axis=1)
    norms[norms == 0.0] = 1.0
    unit = vecs / norms[:, None]
    parent = np.arange(n)

    def find(i: int) -> int:
        while parent[i] != i:
            parent[i] = parent[parent[i]]
            i = parent[i]
        return i

    chunk = max(1, (1 << 22) // max(n, 1))  # ~4M-entry sim blocks
    for s in range(0, n, chunk):
        sims = unit[s : s + chunk] @ unit.T
        for a, b in zip(*np.nonzero(sims >= tau)):
            i, j = find(s + int(a)), find(int(b))
            if i != j:
                # union by smaller index == smaller id (ids are sorted)
                lo, hi = (i, j) if i < j else (j, i)
                parent[hi] = lo
    reps = ids[[find(i) for i in range(n)]]
    out = np.empty(n, dtype=np.int64)
    out[order] = reps
    return out


def semantic_dedup(
    emb: DataFrame,
    tau: float = 0.95,
    n_clusters: int | None = None,
    seed: int = 42,
    max_cluster: int = 2000,
    id_col: str = "id",
    vec_col: str = "vec",
) -> DataFrame:
    """Returns (id, cluster, rep): ``rep`` is the smallest id of the
    row's within-cluster cos>=tau connected component — ``id == rep``
    marks the kept representative, everything else is a semantic
    duplicate of ``rep``. Filter ``id == rep`` for the deduplicated
    corpus; keep the full map for provenance.

    ``n_clusters`` defaults to ceil(n / (max_cluster/2)) so typical
    clusters sit well under ``max_cluster``; clusters that still exceed
    it (quantizer skew) are split by an md5(id) salt — a documented
    recall trade (pairs across salt boundaries are missed, the same
    class of miss as pairs across cluster boundaries).
    """
    if not 0.0 < tau <= 1.0:
        raise ValueError(f"tau must be in (0, 1], got {tau}")
    pts = emb.select(
        F.col(id_col).cast("long").alias("id"),
        F.col(vec_col).cast("array<double>").alias("vec"),
    ).localCheckpoint()
    n = pts.count()
    if n == 0:
        return pts.sparkSession.createDataFrame([], "id long, cluster long, rep long")
    k = n_clusters or max(1, -(-n // max(1, max_cluster // 2)))
    assigned, _ = kmeans(pts, k=k, seed=seed)
    sizes = assigned.groupBy("cluster").agg(F.count(F.lit(1)).alias("csz"))
    salted = (
        assigned.join(F.broadcast(sizes), "cluster")
        .withColumn("n_salt", F.ceil(F.col("csz") / F.lit(max_cluster)).cast("long"))
        .withColumn(
            "salt",
            F.when(F.col("n_salt") <= 1, F.lit(0)).otherwise(
                F.pmod(
                    F.conv(
                        F.substring(F.md5(F.col("id").cast("string")), 1, 8), 16, 10
                    ).cast("long"),
                    F.col("n_salt"),
                )
            ),
        )
        .select("id", "vec", "cluster", "salt")
    )

    def _dedup(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf["id"].to_numpy(dtype=np.int64)
        vecs = np.stack(pdf["vec"].to_numpy())
        reps = _resolve_component(ids, vecs, tau)
        return pd.DataFrame(
            {
                "id": ids.tolist(),
                "cluster": pdf["cluster"].tolist(),
                "rep": reps.tolist(),
            }
        )

    return salted.groupBy("cluster", "salt").applyInPandas(
        _dedup, "id long, cluster long, rep long"
    )
