"""operators/pca: distributed covariance PCA vs a numpy reference."""

from __future__ import annotations

import numpy as np
import pytest

from simkit_spark.operators.pca import embedding_pca, fit_pca, transform_pca


def _data(seed=7, n=400, d=12):
    rng = np.random.default_rng(seed)
    # anisotropic: two dominant directions
    base = rng.normal(size=(n, d))
    base[:, 0] *= 6.0
    base[:, 1] *= 3.0
    base += rng.normal(size=d)  # nonzero mean
    return base


def _np_pca(x, k):
    mu = x.mean(axis=0)
    cov = np.cov(x, rowvar=False, ddof=1)
    vals, vecs = np.linalg.eigh(cov)
    order = np.argsort(vals)[::-1][:k]
    w = vecs[:, order]
    for j in range(k):
        i = int(np.argmax(np.abs(w[:, j])))
        if w[i, j] < 0:
            w[:, j] = -w[:, j]
    return mu, w, vals[order]


def test_fit_matches_numpy(spark):
    x = _data()
    df = spark.createDataFrame(
        [(i, row.tolist()) for i, row in enumerate(x)], "id long, vec array<double>"
    ).repartition(5)
    m = fit_pca(df, k=4)
    mu, w, lam = _np_pca(x, 4)
    assert m["n"] == len(x)
    np.testing.assert_allclose(m["mean"], mu, atol=1e-9)
    np.testing.assert_allclose(m["explained_variance"], lam, rtol=1e-9)
    np.testing.assert_allclose(m["components"], w, atol=1e-8)


def test_transform_and_whiten(spark):
    x = _data(seed=11)
    df = spark.createDataFrame(
        [(i, row.tolist()) for i, row in enumerate(x)], "id long, vec array<double>"
    ).repartition(3)
    out = embedding_pca(df, k=3).orderBy("id").collect()
    proj = np.asarray([r["pca"] for r in out])
    mu, w, lam = _np_pca(x, 3)
    np.testing.assert_allclose(proj, (x - mu) @ w, atol=1e-7)
    # projected variance per direction equals the eigenvalue…
    np.testing.assert_allclose(proj.var(axis=0, ddof=1), lam, rtol=1e-6)
    # …and whitening makes it 1 (covariance ~ I)
    m = fit_pca(df, k=3)
    white = np.asarray(
        [r["pca"] for r in transform_pca(df, m, whiten=True).orderBy("id").collect()]
    )
    np.testing.assert_allclose(
        np.cov(white, rowvar=False, ddof=1), np.eye(3), atol=1e-6
    )


def test_pca_validation(spark):
    df = spark.createDataFrame([(0, [1.0, 2.0])], "id long, vec array<double>")
    with pytest.raises(ValueError):
        fit_pca(df, k=3)
    with pytest.raises(ValueError):
        fit_pca(df.where("id < 0"), k=1)


def test_whiten_near_degenerate_covariance(spark):
    # rank-1 data far from the origin: fit_pca's covariance
    # (g - n*mu*mu^T) / (n-1) cancels, and eigh returns eigenvalues
    # below -eps for the two null directions; the whitening sqrt must
    # clip them to zero instead of yielding NaN. The model is built in
    # numpy with fit_pca's formula so the negative eigenvalue does not
    # hinge on the partial-Gram fold order.
    a = np.random.default_rng(0).normal(size=200)
    x = np.stack([a, 2.0 * a, 3.0 * a], axis=1) + 1e6
    n, mu = len(x), x.mean(axis=0)
    cov = (x.T @ x - n * np.outer(mu, mu)) / (n - 1)
    vals, vecs = np.linalg.eigh(cov)
    order = np.argsort(vals)[::-1]
    m = {"mean": mu, "components": vecs[:, order], "explained_variance": vals[order]}
    assert vals.min() < -1e-9  # the case under test
    df = spark.createDataFrame(
        [(i, row.tolist()) for i, row in enumerate(x)], "id long, vec array<double>"
    )
    white = np.asarray(
        [r["pca"] for r in transform_pca(df, m, whiten=True).collect()],
        dtype=np.float64,
    )
    assert np.isfinite(white).all()
    # the one real direction still comes out with unit variance, up to
    # the cancellation error in its eigenvalue
    assert white[:, 0].var(ddof=1) == pytest.approx(1.0, rel=1e-3)
