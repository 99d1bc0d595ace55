"""Pivot-partitioned eps join: exactness vs the brute-force pairwise
filter, both inclusive and strict, plus the directed orientation and
pruning sanity."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from simkit_spark.operators.epsjoin import eps_neighbor_pairs
from simkit_spark.operators.kernels import pairwise_distances


@pytest.fixture(scope="module")
def cloud(spark):
    rng = np.random.RandomState(3)
    # three lobes + uniform noise, 6-dim — enough structure that the
    # pivot windows actually prune
    centers = rng.randn(3, 6) * 3
    rows = []
    i = 0
    for c in centers:
        for _ in range(60):
            rows.append((i, (c + 0.5 * rng.randn(6)).tolist()))
            i += 1
    for _ in range(40):
        rows.append((i, (4 * rng.randn(6)).tolist()))
        i += 1
    return spark.createDataFrame(rows, "id long, vec array<double>").cache()


def _brute(cloud, eps, strict):
    d = pairwise_distances(cloud, "euclidean", n_blocks=4)
    cond = F.col("dist") < eps if strict else F.col("dist") <= eps
    return {(r["src"], r["dst"]) for r in d.where(cond).select("src", "dst").collect()}


@pytest.mark.parametrize("strict", [False, True])
@pytest.mark.parametrize("eps", [0.8, 1.6])
def test_eps_join_matches_bruteforce(spark, cloud, eps, strict):
    got = {
        (r["src"], r["dst"])
        for r in eps_neighbor_pairs(cloud, eps, strict=strict, n_pivots=12).collect()
    }
    assert got == _brute(cloud, eps, strict)


def test_eps_join_directed_and_dist(spark, cloud):
    und = eps_neighbor_pairs(cloud, 1.0, with_dist=True).collect()
    dire = eps_neighbor_pairs(cloud, 1.0, directed=True, with_dist=True).collect()
    assert len(dire) == 2 * len(und)
    pairs = {(r["src"], r["dst"]) for r in dire}
    assert all((d, s) in pairs for s, d in pairs)
    # distances agree with the kernel to fp precision
    d = {(r["src"], r["dst"]): r["dist"] for r in und}
    ref = {
        (r["src"], r["dst"]): r["dist"]
        for r in pairwise_distances(cloud, "euclidean", n_blocks=4)
        .where(F.col("dist") <= 1.0)
        .collect()
    }
    assert d.keys() == ref.keys()
    assert all(abs(d[k] - ref[k]) < 1e-9 for k in d)


def test_eps_join_manhattan_and_rejects_nonmetric(spark, cloud):
    got = {
        (r["src"], r["dst"])
        for r in eps_neighbor_pairs(cloud, 2.0, kernel="manhattan", n_pivots=8).collect()
    }
    d = pairwise_distances(cloud, "manhattan", n_blocks=4)
    want = {(r["src"], r["dst"]) for r in d.where(F.col("dist") <= 2.0).collect()}
    assert got == want
    # non-metric kernels: explicit pivot is unsound -> raises; auto
    # silently falls back to the (always-sound) block path
    with pytest.raises(ValueError):
        eps_neighbor_pairs(cloud, 0.5, kernel="cosine", method="pivot")
    assert eps_neighbor_pairs(cloud, 0.5, kernel="cosine").count() >= 0


@pytest.mark.parametrize("method", ["pivot", "block"])
def test_eps_join_methods_agree(spark, cloud, method, force_distributed):
    # the cloud is driver-sized: force the distributed plan so the
    # named method runs
    with force_distributed():
        got = {
            (r["src"], r["dst"])
            for r in eps_neighbor_pairs(cloud, 1.2, method=method, n_pivots=10).collect()
        }
    assert got == _brute(cloud, 1.2, strict=False)


def test_auto_dispatch_picks_block_on_concentrated_data(spark, force_distributed):
    # isotropic high-dim blob with eps ~ diameter scale: no pruner helps
    rng = np.random.RandomState(1)
    rows = [(i, (0.2 * rng.randn(16)).tolist()) for i in range(300)]
    df = spark.createDataFrame(rows, "id long, vec array<double>")
    with force_distributed():
        got = {
            (r["src"], r["dst"]) for r in eps_neighbor_pairs(df, 1.0).collect()
        }
    want = {
        (r["src"], r["dst"])
        for r in pairwise_distances(df, "euclidean", n_blocks=2)
        .where(F.col("dist") <= 1.0)
        .select("src", "dst")
        .collect()
    }
    assert got == want


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.mark.parametrize(
    "kw",
    [
        dict(eps=1.0),
        dict(eps=1.0, strict=True, with_dist=True),
        dict(eps=1.2, directed=True),
        dict(eps=1.2, directed=True, with_dist=True),
        dict(eps=2.0, kernel="manhattan", with_dist=True),
    ],
    ids=["inclusive", "strict-dist", "directed", "directed-dist", "manhattan"],
)
def test_eps_join_local_matches_distributed(spark, cloud, force_distributed, kw):
    """The driver twin returns the distributed plan's rows bit for bit,
    distances included."""
    local = _rows(eps_neighbor_pairs(cloud, **kw))
    with force_distributed():
        dist = _rows(eps_neighbor_pairs(cloud, **kw))
    assert local and local == dist


def test_eps_join_boundary_and_empty_on_both_paths(spark, cloud, force_distributed):
    """eps equal to an existing pair distance: strict drops that pair,
    inclusive keeps it, on both paths; an empty input gives no rows."""
    d = sorted(r["dist"] for r in pairwise_distances(cloud, "euclidean", n_blocks=4).collect())
    eps = d[len(d) // 50]
    empty = cloud.limit(0)
    for strict in (False, True):
        local = _rows(eps_neighbor_pairs(cloud, eps, strict=strict, with_dist=True))
        with force_distributed():
            dist = _rows(eps_neighbor_pairs(cloud, eps, strict=strict, with_dist=True))
        assert local == dist
        assert any(r[2] == eps for r in local) != strict
        assert _rows(eps_neighbor_pairs(empty, eps, strict=strict)) == []
        with force_distributed():
            assert _rows(eps_neighbor_pairs(empty, eps, strict=strict)) == []


def test_eps_local_declines_past_output_budget(spark, cloud, monkeypatch):
    """Past the output schema's row budget the twin declines and the
    points take the distributed plan, which still answers exactly."""
    from simkit_spark import util
    from simkit_spark.operators import epsjoin

    real = util.local_dispatch_rows
    monkeypatch.setattr(
        util,
        "local_dispatch_rows",
        lambda schema, *a, **k: 10 if schema.names[0] == "src" else real(schema, *a, **k),
    )
    calls = []
    dist_body = epsjoin._eps_dist
    monkeypatch.setattr(
        epsjoin, "_eps_dist", lambda *a, **k: calls.append(1) or dist_body(*a, **k)
    )
    got = {(r["src"], r["dst"]) for r in eps_neighbor_pairs(cloud, 1.0).collect()}
    assert calls == [1]
    assert len(got) > 10 and got == _brute(cloud, 1.0, strict=False)
