"""F2/F3 reference experiment parity (FIXTURES.md; VERDICT.md round-1
'what's missing' #3): the reference's end-to-end correctness bar for
the spectral chain is its experiments script
(`experiments/experiments_simkit-0.1.2.py:33-134,531-536`) — iris-shaped
feature data at the published graph params (full sigma_k=11 /
eps=1.111 / knn=10 / mknn=30, laplacians sym+rw, k=3, seed=42) and a
Cora-shaped explicit-edge graph (`:204-229`).

The oracle here is a self-contained dense numpy chain computed inside
the test (eigh / eig on the collected operator matrix + Lloyd k-means),
so the distributed eigensolve + k-means are checked end-to-end at the
published parameters, scored by ARI between the two clusterings and
against the planted labels."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from simkit_spark.operators.eigen import eigensolve
from simkit_spark.operators.graphs import (
    epsilon_graph,
    full_affinity,
    knn_edges,
    mutual_knn_edges,
    symmetrize,
)
from simkit_spark.operators.kernels import pairwise_distances
from simkit_spark.operators.kmeans import adjusted_rand_index, kmeans
from simkit_spark.operators.laplacian import laplacian

K = 3
SEED = 42
# published reference params (experiments_simkit-0.1.2.py:532-536)
FULL_SIGMA_K = 11
EPS = 1.111
KNN = 10
MKNN = 30


@pytest.fixture(scope="module")
def iris_like(spark):
    """F2: 150 rows, 4 dims, 3 blobs, features in [0, 1] — the shape of
    the reference's pre-normalized iris.csv."""
    rng = np.random.RandomState(SEED)
    # centers placed so the PUBLISHED eps=1.111 is discriminative in
    # [0,1]^4 (verified margins at this seed: intra max 0.167 <
    # 1.111 < inter min 1.124) — the reference tuned its params to
    # iris distances; the fixture reproduces that distance regime
    centers = np.array(
        [[0.05, 0.05, 0.05, 0.05], [0.95, 0.95, 0.05, 0.05], [0.05, 0.05, 0.95, 0.95]]
    )
    pts, labels = [], []
    for i in range(150):
        c = i % 3
        pts.append(np.clip(centers[c] + 0.03 * rng.randn(4), 0.0, 1.0))
        labels.append(c)
    df = spark.createDataFrame(
        [(i, pts[i].tolist(), labels[i]) for i in range(150)],
        "id long, vec array<double>, label int",
    )
    return df.cache(), np.array(labels)


def _dense(edge_rows, n):
    a = np.zeros((n, n))
    for r in edge_rows:
        a[r["src"], r["dst"]] = r["weight"]
    return a


def _lloyd(x, k, iters=100):
    # deterministic farthest-first Lloyd — independent of the package
    chosen = [x[0]]
    for _ in range(k - 1):
        d = np.min(np.stack([np.linalg.norm(x - c, axis=1) for c in chosen]), 0)
        chosen.append(x[int(np.argmax(d))])
    c = np.array(chosen)
    lab = np.zeros(len(x), dtype=int)
    for _ in range(iters):
        d = np.stack([np.linalg.norm(x - cc, axis=1) for cc in c])
        new = np.argmin(d, 0)
        if np.array_equal(new, lab):
            break
        lab = new
        for j in range(k):
            m = x[lab == j]
            if len(m):
                c[j] = m.mean(0)
    return lab


def _ari_np(a, b):
    from math import comb

    pairs = {}
    for x, y in zip(a, b):
        pairs[(x, y)] = pairs.get((x, y), 0) + 1
    n = len(a)
    sum_ij = sum(comb(v, 2) for v in pairs.values())
    asum, bsum = {}, {}
    for (x, y), v in pairs.items():
        asum[x] = asum.get(x, 0) + v
        bsum[y] = bsum.get(y, 0) + v
    sa = sum(comb(v, 2) for v in asum.values())
    sb = sum(comb(v, 2) for v in bsum.values())
    tot = comb(n, 2)
    exp = sa * sb / tot
    mx = (sa + sb) / 2
    return (sum_ij - exp) / (mx - exp) if mx != exp else 0.0


def _graph_edges(df, graph):
    dist = pairwise_distances(df.select("id", "vec"), "euclidean", directed=True)
    if graph == "full":
        return symmetrize(full_affinity(dist, FULL_SIGMA_K))
    if graph == "eps":
        return symmetrize(epsilon_graph(dist, EPS))
    if graph == "knn":
        return knn_edges(dist, KNN)  # directed — the reference's live path
    if graph == "mknn":
        return symmetrize(mutual_knn_edges(dist, MKNN))
    raise ValueError(graph)


def _spark_chain(df, graph, lap_kind, distributed, force_distributed):
    lap = laplacian(_graph_edges(df, graph), lap_kind)
    sym_op = lap_kind == "sym" and graph != "knn"
    if distributed:
        with force_distributed():
            x, lam = eigensolve(lap, k=K, max_iter=150, tol=1e-10, seed=SEED)
    else:
        x, lam = eigensolve(
            lap, k=K, max_iter=150, tol=1e-10, seed=SEED, symmetric=sym_op
        )
    assigned, _ = kmeans(x, k=K, max_iter=100, seed=SEED)
    rows = sorted(assigned.collect(), key=lambda r: r["id"])
    return np.array([r["cluster"] for r in rows]), lam, lap


def _numpy_chain(lap_edge_rows, n, sym):
    a = _dense(lap_edge_rows, n)
    if sym:
        lam, v = np.linalg.eigh(a)
        x = v[:, -K:]
        lam_top = lam[-K:]
    else:
        lam_c, v_c = np.linalg.eig(a)
        order = np.argsort(lam_c.real)
        x = v_c[:, order[-K:]].real
        lam_top = lam_c.real[order[-K:]]
    return _lloyd(x, K), lam_top


@pytest.mark.parametrize(
    "graph,lap_kind,distributed",
    [
        ("full", "sym", True),   # the reference's headline config
        ("mknn", "sym", False),
        ("knn", "rw", False),
        ("eps", "sym", False),
        ("full", "rw", False),
    ],
)
def test_f2_iris_chain_parity(
    spark, iris_like, graph, lap_kind, distributed, force_distributed
):
    df, truth = iris_like
    pred, lam, lap = _spark_chain(
        df, graph, lap_kind, distributed, force_distributed
    )
    # eigh needs a symmetric operator: the directed-kNN graph is
    # non-symmetric under every laplacian, rw always is
    sym_op = lap_kind == "sym" and graph != "knn"
    oracle_pred, oracle_lam = _numpy_chain(lap.collect(), 150, sym=sym_op)
    # eigenvalue parity (1e-6 rel per FIXTURES.md F6)
    assert np.allclose(np.sort(lam), np.sort(oracle_lam), atol=1e-5), (lam, oracle_lam)
    # clustering parity with the dense oracle chain — the F2 contract
    assert _ari_np(pred, oracle_pred) >= 0.95
    # symmetric operators also recover the planted blobs; non-symmetric
    # ones have a degenerate top eigenspace (eigenvalue 1 x k for
    # disconnected kNN components) where eig's basis choice is
    # arbitrary — parity with the oracle is the invariant there, blob
    # recovery is not guaranteed by the math (and the dense oracle
    # exhibits the identical behavior)
    if sym_op:
        assert _ari_np(pred, truth) >= 0.9


def test_f3_cora_shaped_graph_chain(spark, force_distributed):
    """F3: explicit-edge (is_feature_based=false) path — stochastic
    block model, 3 blocks, n=300; adjacency comes from given edges
    (weight 1), not from feature kernels
    (SimKitProcedures.java:797-807)."""
    rng = np.random.RandomState(SEED)
    n, blocks = 300, 3
    labels = np.array([i % blocks for i in range(n)])
    edges = []
    for i in range(n):
        for j in range(i + 1, n):
            p = 0.08 if labels[i] == labels[j] else 0.003
            if rng.rand() < p:
                edges.append((i, j, 1.0))
    edf = spark.createDataFrame(edges, "src long, dst long, weight double")
    lap = laplacian(symmetrize(edf), "sym")
    with force_distributed():
        x, lam = eigensolve(lap, k=blocks, max_iter=150, tol=1e-9, seed=SEED)
    assigned, _ = kmeans(x, k=blocks, max_iter=100, seed=SEED)
    joined = assigned.join(
        spark.createDataFrame(
            [(int(i), int(l)) for i, l in enumerate(labels)], "id long, true int"
        ),
        "id",
    )
    ari = adjusted_rand_index(
        joined.select(F.col("true"), F.col("cluster").alias("pred"))
    )
    assert ari >= 0.9, ari
