from __future__ import annotations

import numpy as np
import pytest

from simkit_spark.operators.kmeans import (
    adjusted_rand_index,
    init_centroids,
    kmeans,
    silhouette,
)


@pytest.fixture(scope="module")
def blobs(spark):
    rng = np.random.RandomState(42)
    centers = np.array([[0.0, 0.0], [10.0, 0.0], [0.0, 10.0]])
    rows = []
    for i in range(90):
        c = i % 3
        p = centers[c] + 0.3 * rng.randn(2)
        rows.append((i, p.tolist(), c))
    return spark.createDataFrame(rows, "id long, vec array<double>, label int").cache()


def test_kmeans_recovers_blobs(spark, blobs, force_distributed):
    with force_distributed():
        assigned, centroids = kmeans(blobs, k=3, max_iter=50, seed=42)
    assert centroids.shape == (3, 2)
    joined = assigned.join(blobs.select("id", "label"), "id").select(
        assigned["cluster"].alias("pred"), "label"
    )
    ari = adjusted_rand_index(joined.selectExpr("label as true", "pred"))
    assert ari == pytest.approx(1.0, abs=1e-12)


def test_kmeans_deterministic(spark, blobs, force_distributed):
    with force_distributed():
        a1, c1 = kmeans(blobs, k=3, seed=42)
        a2, c2 = kmeans(blobs.repartition(7), k=3, seed=42)
    assert np.allclose(c1, c2)


def test_init_centroids_distinct(spark, blobs):
    c = init_centroids(blobs, 5, seed=1)
    assert c.shape == (5, 2)


def test_silhouette_separated(spark, blobs, force_distributed):
    with force_distributed():
        assigned, _ = kmeans(blobs, k=3, seed=42)
    s = silhouette(assigned)
    assert s > 0.8  # well-separated blobs


def test_ari_known_values(spark):
    # identical labelings -> 1; independent -> ~0
    df = spark.createDataFrame([(i % 3, i % 3) for i in range(30)], "true int, pred int")
    assert adjusted_rand_index(df) == pytest.approx(1.0)
    df2 = spark.createDataFrame([(i % 3, (i // 3) % 3) for i in range(90)], "true int, pred int")
    assert abs(adjusted_rand_index(df2)) < 0.05


def test_silhouette_plan_has_no_cartesian(spark, blobs, force_distributed):
    """The exact silhouette must generate pairs via the block kernel +
    equi-joins — a BroadcastNestedLoopJoin cartesian was round-1's
    scale killer (VERDICT.md 'what's wrong' #2)."""
    from simkit_spark.operators.kmeans import silhouette_points

    with force_distributed():
        assigned, _ = kmeans(blobs, k=3, seed=42)
    pts = silhouette_points(assigned)
    plan = pts._jdf.queryExecution().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_silhouette_approx_ranks_like_exact(spark, blobs, force_distributed):
    from simkit_spark.operators.kmeans import silhouette_points_approx

    with force_distributed():
        assigned, _ = kmeans(blobs, k=3, seed=42)
    s_approx = (
        silhouette_points_approx(assigned).agg({"s": "avg"}).collect()[0][0]
    )
    assert s_approx > 0.8  # same verdict as the exact form on separated blobs
    # forced-approx dispatch path returns a sane mean too
    assert silhouette(assigned, exact_threshold=0) == pytest.approx(s_approx, abs=1e-9)


def test_kmeans_auto_local_partition_invariant(spark):
    """The local twin's centroids do not depend on the input's
    partitioning: the collect order used to set the means' summation
    order (last-bit differences, up to ~7e-15, across repartitions)."""
    from simkit_spark.operators.kmeans import kmeans

    rng = np.random.RandomState(3)
    centers = 5.0 * rng.randn(8, 16)
    rows = [(i, (centers[i % 8] + rng.randn(16)).tolist()) for i in range(5000)]
    pts = spark.createDataFrame(rows, "id long, vec array<double>")
    _, want = kmeans(pts, k=8, seed=42)
    for n in (3, 7, 13):
        _, got = kmeans(pts.repartition(n), k=8, seed=42)
        assert np.array_equal(got, want), n


def test_kmeans_auto_local_matches_distributed(spark, blobs, force_distributed):
    from simkit_spark.operators.kmeans import kmeans

    loc_a, loc_c = kmeans(blobs, k=3, seed=42)
    with force_distributed():
        dist_a, dist_c = kmeans(blobs, k=3, seed=42)
    assert np.allclose(loc_c, dist_c, rtol=0.0, atol=1e-12)
    cluster = lambda a: {r["id"]: r["cluster"] for r in a.collect()}  # noqa: E731
    assert cluster(loc_a) == cluster(dist_a)


def test_kmeans_auto_local_path_one_job(spark, blobs):
    """The first centroid's hash rides the size probe, so the local
    path runs exactly one Spark job."""
    from simkit_spark.operators.kmeans import kmeans

    sc = spark.sparkContext
    sc.setJobGroup("kmeans-auto-local", "kmeans-auto-local")
    try:
        _, centroids = kmeans(blobs, k=3, seed=42)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup("kmeans-auto-local")) == 1
    assert centroids.shape == (3, 2)
