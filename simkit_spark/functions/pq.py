"""Product-quantization ANN: train/encode/search with asymmetric
distance (ADC) + exact rescore.

The memory-bound scale path the other ANN variants don't cover: IVF
(`similarity.ivf_topk`) and hyperplane LSH (`similarity.lsh_topk`)
prune CANDIDATES but still hold full-precision vectors; PQ compresses
the database itself — m uint8 codes per vector (64-dim float64 -> 8
bytes, 64x) — which is what makes a 10^11-vector index fit a cluster's
memory at all. Search is asymmetric: queries stay full-precision, each
task builds a per-query (m x n_centroids) lookup table and scores every
code by m table gathers, never decoding the database.

Distributed shape (mirrors kernels.pairwise_topk): queries fan out over
db-code blocks and codes over query blocks, each (qblock, dbblock) task
emits only its per-query ADC top-(k*rescore) — the ranking shuffle sees
n*B*k*rescore rows, never n^2. The surviving narrow candidate stream is
exactly rescored JVM-side (two equi-joins + F.aggregate dot product, no
Python) and re-ranked, so the output distances are TRUE cosines; PQ
error only costs recall, never precision of reported scores.

Training is a driver-side seeded Lloyd per subspace over a
deterministic hash-ordered sample (bounded collect, same dispatch
philosophy as kmeans / eigensolve); codebooks broadcast to
the encoders. Everything is seeded and partitioning-independent, so
results are content-hash stable (ROWSONLY_HASHES).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window, functions as F


def _lloyd(x: np.ndarray, n_centroids: int, iters: int = 15) -> np.ndarray:
    """Deterministic numpy k-means: init = first n_centroids DISTINCT
    rows in input (hash-sample) order, fixed Lloyd sweeps, empty cells
    keep their previous centroid. Returns (n_centroids, dsub)."""
    _, first = np.unique(x.round(12), axis=0, return_index=True)
    init = x[np.sort(first)[:n_centroids]]
    if len(init) < n_centroids:  # fewer distinct points than cells
        reps = -(-n_centroids // len(init))
        init = np.tile(init, (reps, 1))[:n_centroids]
    c = init.copy()
    # expanded-form distances (||x||^2 - 2 x.c + ||c||^2) via ONE BLAS
    # matmul: the naive (x[:,None,:]-c)**2 materialized an n*k*dsub
    # cube (328 MB/iter at 20k x 256 x 8) and was allocation-bound —
    # measured 8.9 s -> <1 s for the full 8-subspace training. ||x||^2
    # is argmin-invariant and omitted.
    for _ in range(iters):
        d = -2.0 * (x @ c.T) + (c * c).sum(1)[None, :]
        a = np.argmin(d, axis=1)
        sums = np.zeros_like(c)
        np.add.at(sums, a, x)
        counts = np.bincount(a, minlength=len(c)).astype(np.float64)
        nonempty = counts > 0
        c[nonempty] = sums[nonempty] / counts[nonempty, None]
    return c


def train_codebooks(
    emb: DataFrame,
    m: int = 8,
    n_centroids: int = 256,
    train_n: int = 20_000,
    seed: int = 42,
    id_col: str = "id",
    vec_col: str = "vec",
    iters: int = 15,
) -> np.ndarray:
    """(m, n_centroids, dim/m) codebooks from a deterministic
    hash-ordered sample (orderBy xxhash64(id, seed) — stable under
    repartitioning, unlike df.sample). Vectors are L2-normalized before
    training so codes quantize the unit sphere (cosine geometry)."""
    rows = (
        emb.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec"))
        .orderBy(F.xxhash64(F.col("id"), F.lit(seed)), F.col("id"))
        .limit(train_n)
        .toPandas()
    )
    x = np.array(rows["vec"].tolist(), dtype=np.float64)
    norms = np.linalg.norm(x, axis=1, keepdims=True)
    x = x / np.where(norms == 0, 1.0, norms)
    dim = x.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    dsub = dim // m
    ks = min(n_centroids, max(1, len(x)))
    return np.stack(
        [_lloyd(x[:, j * dsub : (j + 1) * dsub], ks, iters) for j in range(m)]
    )


def pq_topk(
    emb: DataFrame,
    k: int = 10,
    m: int = 8,
    n_centroids: int = 256,
    train_n: int = 20_000,
    seed: int = 42,
    rescore: int = 4,
    n_blocks: int | None = None,
    id_col: str = "id",
    vec_col: str = "vec",
    books: "np.ndarray | None" = None,
) -> DataFrame:
    """(src, dst, cos, rank): approximate k nearest cosine neighbors per
    src via PQ/ADC candidate generation + exact rescore. rank 1..k by
    (cos desc, dst asc); `cos` is the EXACT cosine (rescored).

    ``books`` lets the caller pass pre-trained codebooks: in a real
    deployment training is an OFFLINE index-build step amortized over
    every query batch, so benchmarks that re-train per call overstate
    the query-path cost (the _knn_topk/_kg_rel stage-table argument).
    """
    spark = emb.sparkSession
    if books is None:
        books = train_codebooks(emb, m, n_centroids, train_n, seed, id_col, vec_col)
    bc = spark.sparkContext.broadcast(books)
    dim = books.shape[0] * books.shape[2]
    dsub = books.shape[2]

    base = emb.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec"))
    if n_blocks is None:
        from ..operators.kernels import auto_n_blocks, rows_and_dim

        n, d = rows_and_dim(base, "vec")
        n_blocks = auto_n_blocks(n, spark.sparkContext.defaultParallelism, dim=d)
    nb = int(max(1, n_blocks))

    def encode(it):
        for pdf in it:
            v = np.array(pdf["vec"].tolist(), dtype=np.float64)
            norms = np.linalg.norm(v, axis=1, keepdims=True)
            v = v / np.where(norms == 0, 1.0, norms)
            b = bc.value
            codes = np.empty((len(v), b.shape[0]), dtype=np.int64)
            for j in range(b.shape[0]):
                xj = v[:, j * dsub : (j + 1) * dsub]
                d = ((xj[:, None, :] - b[j][None, :, :]) ** 2).sum(-1)
                codes[:, j] = np.argmin(d, axis=1)
            yield pd.DataFrame({"id": pdf["id"], "codes": list(codes)})

    codes = base.mapInPandas(encode, "id long, codes array<long>").localCheckpoint()

    qblk = F.pmod(F.xxhash64("id"), F.lit(nb)).cast("int")
    dblk = F.pmod(F.xxhash64("id", F.lit(1)), F.lit(nb)).cast("int")
    allb = F.sequence(F.lit(0), F.lit(nb - 1))
    # query rows visit every db block; code rows visit every query
    # block — union rows = 2*n*B, task = (n/B queries) x (n/B codes)
    q_fan = base.select(
        "id", "vec", F.lit(None).cast("array<long>").alias("codes"),
        qblk.alias("qb"), F.explode(allb).alias("db"),
    )
    c_fan = codes.select(
        "id", F.lit(None).cast("array<double>").alias("vec"), "codes",
        F.explode(allb).alias("qb"), dblk.alias("db"),
    )
    fan = q_fan.unionByName(c_fan)
    cand_k = k * max(1, rescore)

    def adc(key, pdf):
        b = bc.value
        qs = pdf[pdf["vec"].notna()]
        ds = pdf[pdf["codes"].notna()]
        if not len(qs) or not len(ds):
            return pd.DataFrame({"src": [], "dst": [], "adist": []})
        qv = np.array(qs["vec"].tolist(), dtype=np.float64)
        qn = np.linalg.norm(qv, axis=1, keepdims=True)
        qv = qv / np.where(qn == 0, 1.0, qn)
        qids = qs["id"].to_numpy()
        dids = ds["id"].to_numpy()
        dc = np.array(ds["codes"].tolist(), dtype=np.int64)
        out = []
        for lo in range(0, len(qids), 1024):
            q = qv[lo : lo + 1024]
            # LUT: T[q, j, c] = ||q_j - codebook[j, c]||^2
            diff = q.reshape(len(q), b.shape[0], 1, dsub) - b[None, :, :, :]
            lut = (diff**2).sum(-1)
            dist = np.zeros((len(q), len(dids)))
            for j in range(b.shape[0]):
                dist += lut[:, j, :][:, dc[:, j]]
            # mask self-pairs, take per-query smallest cand_k
            dist[qids[lo : lo + 1024, None] == dids[None, :]] = np.inf
            kk = min(cand_k, dist.shape[1])
            order = np.lexsort((np.broadcast_to(dids, dist.shape), dist), axis=1)[
                :, :kk
            ]
            ri = np.repeat(np.arange(len(q)), kk)
            ci = order.ravel()
            keep = np.isfinite(dist[ri, ci])
            out.append(
                pd.DataFrame(
                    {
                        "src": qids[lo + ri][keep],
                        "dst": dids[ci][keep],
                        "adist": dist[ri, ci][keep],
                    }
                )
            )
        return pd.concat(out, ignore_index=True)

    scored = fan.groupBy("qb", "db").applyInPandas(
        adc, "src long, dst long, adist double"
    )
    wc = Window.partitionBy("src").orderBy(F.col("adist").asc(), F.col("dst").asc())
    cands = (
        scored.withColumn("crank", F.row_number().over(wc))
        .where(F.col("crank") <= cand_k)
        .select("src", "dst")
    )
    # exact rescore: narrow candidate stream, two equi-joins, JVM-side
    # dot product — reported cosines are exact
    va = base.select(F.col("id").alias("src"), F.col("vec").alias("va"))
    vb = base.select(F.col("id").alias("dst"), F.col("vec").alias("vb"))
    dot = F.aggregate(
        F.zip_with("va", "vb", lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    nrm = lambda c: F.sqrt(  # noqa: E731
        F.aggregate(F.col(c), F.lit(0.0), lambda acc, x: acc + x * x)
    )
    ex = (
        cands.join(va, "src")
        .join(vb, "dst")
        .withColumn(
            "cos",
            F.when((nrm("va") == 0) | (nrm("vb") == 0), F.lit(0.0)).otherwise(
                dot / (nrm("va") * nrm("vb"))
            ),
        )
        .drop("va", "vb")
    )
    wr = Window.partitionBy("src").orderBy(F.col("cos").desc(), F.col("dst").asc())
    return (
        ex.withColumn("rank", F.row_number().over(wr))
        .where(F.col("rank") <= k)
        .select("src", "dst", F.round("cos", 6).alias("cos"), F.col("rank").cast("long"))
    )
