"""Distributed orthogonal iteration vs numpy eigh (the oracle pattern of
experiments/experiments_simkit-0.1.2.py:33-134)."""

from __future__ import annotations

import numpy as np
import pytest

from simkit_spark.operators.eigen import eigen_local, eigengap_k, eigensolve
from simkit_spark.operators.graphs import full_affinity, symmetrize
from simkit_spark.operators.kernels import pairwise_distances
from simkit_spark.operators.laplacian import laplacian


@pytest.fixture(scope="module")
def lap_edges(spark, tiny5):
    dist = pairwise_distances(tiny5, "euclidean", n_blocks=2, directed=True)
    return laplacian(symmetrize(full_affinity(dist, sigma_k=2)), "sym").cache()


def _dense(rows, n):
    a = np.zeros((n, n))
    for r in rows:
        a[r["src"], r["dst"]] = r["weight"]
    return a


def test_eigensolve_matches_numpy_tiny(spark, lap_edges, force_distributed):
    a = _dense(lap_edges.collect(), 5)
    lam_np = np.linalg.eigvalsh(a)  # ascending
    with force_distributed():
        x, lam = eigensolve(lap_edges, k=2, max_iter=200, tol=1e-12, seed=7)
    # dominant 2 eigenvalues, reported ascending
    assert lam == pytest.approx(lam_np[-2:], abs=1e-6)
    # eigenvector subspace parity: projector onto top-2 subspace matches
    xr = np.array([r["vec"] for r in sorted(x.collect(), key=lambda r: r["id"])])
    _, v_np = np.linalg.eigh(a)
    p_got = xr @ xr.T
    p_want = v_np[:, -2:] @ v_np[:, -2:].T
    assert np.abs(p_got - p_want).max() < 1e-5


def test_eigensolve_larger_graph(spark, force_distributed):
    rng = np.random.RandomState(42)
    n, k = 120, 3
    # 3-block stochastic-block-model-ish affinity
    centers = rng.rand(3, 4)
    pts = np.vstack([centers[i % 3] + 0.05 * rng.randn(4) for i in range(n)])
    df = spark.createDataFrame(
        [(i, pts[i].tolist()) for i in range(n)], "id long, vec array<double>"
    )
    dist = pairwise_distances(df, "euclidean", n_blocks=4, directed=True)
    lap = laplacian(symmetrize(full_affinity(dist, sigma_k=7)), "sym")
    a = _dense(lap.collect(), n)
    lam_np = np.linalg.eigvalsh(a)
    with force_distributed():
        _, lam = eigensolve(lap, k=k, max_iter=150, tol=1e-10, seed=1)
    assert lam == pytest.approx(lam_np[-k:], abs=1e-5)


def test_eigen_local_matches_numpy():
    rows = [(0, 1, 0.9), (1, 2, 0.8), (0, 2, 0.1)]
    lam, x, idx = eigen_local(rows, [0, 1, 2], k=2)
    a = np.array([[0, 0.9, 0.1], [0.9, 0, 0.8], [0.1, 0.8, 0]])
    lam_np = np.linalg.eigvalsh(a)
    assert lam == pytest.approx(lam_np[-2:], abs=1e-12)
    assert x.shape == (3, 2)


def test_eigengap():
    # gaps: [0.1, 0.1, 2.0, ...] -> argmax at index 2 -> k = 3
    e = np.array([0.0, 0.1, 0.2, 2.2, 2.3])
    assert eigengap_k(e) == 3
    assert eigengap_k(np.array([0.5, 0.6])) == 2  # floor at 2


def test_eigensolve_auto_nonsymmetric_distributed_raises(spark, force_distributed):
    # ADVICE r2 #2: the distributed solver assumes a symmetric operator;
    # symmetric=False past the local solve must fail loudly, not
    # silently diverge from the local path
    import pytest

    from simkit_spark.operators.eigen import eigensolve

    edges = spark.createDataFrame(
        [(i, (i + 1) % 8, 1.0) for i in range(8)], "src long, dst long, weight double"
    )
    with force_distributed(), pytest.raises(ValueError, match="symmetric"):
        eigensolve(edges, k=2, symmetric=False)


def test_eigensolve_auto_nonsymmetric_past_nodes_raises_before_checkpoint(spark, monkeypatch):
    """Past MAX_LOCAL_NODES the twin itself raises the symmetric-only
    ValueError, so size_dispatch never checkpoints (re-runs) the
    upstream for a distributed solve that cannot happen."""
    from simkit_spark.operators import eigen

    calls = []
    monkeypatch.setattr(eigen, "MAX_LOCAL_NODES", 4)
    monkeypatch.setattr("simkit_spark.util.materialize", lambda *a, **k: calls.append(a))
    edges = spark.createDataFrame(
        [(i, (i + 1) % 8, 1.0) for i in range(8)], "src long, dst long, weight double"
    )
    with pytest.raises(ValueError, match="symmetric"):
        eigen.eigensolve(edges, k=2, symmetric=False)
    assert calls == []


def test_eigensolve_auto_nonsymmetric_duplicate_edges_stays_local(spark, monkeypatch):
    """Duplicate edge rows can push the edge-row count past the dispatch
    budget while the de-duplicated graph fits; symmetric=False must
    dedupe and solve locally instead of raising (review r3 finding)."""
    import numpy as np
    from simkit_spark.operators.eigen import eigensolve

    base = [(i, (i + 1) % 4, 0.5) for i in range(4)] + [
        (i, i, 0.5) for i in range(4)
    ]
    dup = base * 30  # 240 rows > the 16-row budget; 8 distinct rows fit
    edges = spark.createDataFrame(dup, "src long, dst long, weight double")
    monkeypatch.setattr("simkit_spark.util.local_dispatch_rows", lambda *a, **k: 16)
    x, lam = eigensolve(
        edges, k=2, max_iter=50, tol=1e-8, seed=42, symmetric=False,
    )
    assert x.count() == 4
    # row-stochastic operator: top eigenvalue exactly 1
    assert abs(lam[-1] - 1.0) < 1e-8


def test_eigensolve_auto_local_path_one_job(spark):
    """The local path's size probe is its only Spark job: one bounded
    Arrow collect, then numpy eigh on the driver."""
    from simkit_spark.operators.eigen import eigensolve

    rows = [(i, j, 1.0 / (1 + i + j)) for i in range(6) for j in range(6) if i != j]
    edges = spark.createDataFrame(rows, "src long, dst long, weight double")
    sc = spark.sparkContext
    sc.setJobGroup("eigensolve-auto-local", "eigensolve-auto-local")
    try:
        x, lam = eigensolve(edges, k=2)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup("eigensolve-auto-local")) == 1
    want_lam, want_x, idx = eigen_local(rows, list(range(6)), 2)
    assert np.array_equal(lam, want_lam)
    got = {r["id"]: r["vec"] for r in x.collect()}
    assert all(np.array_equal(got[i], want_x[j]) for i, j in idx.items())
