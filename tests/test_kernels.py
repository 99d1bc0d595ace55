"""Golden-matrix tests ported from the reference's only active test
(src/src/test/java/graph/DistanceMeasureNodesTest.java:32-112), rounded
to 2 dp exactly as the reference asserts (:115-121)."""

from __future__ import annotations

from pathlib import Path

import pytest

from simkit_spark.operators.kernels import pairwise_distances

GOLDEN = {
    "euclidean": [
        [0, 1, 7.07, 9.22, 10.30],
        [1, 0, 6.40, 8.60, 9.85],
        [7.07, 6.40, 0, 2.24, 4.00],
        [9.22, 8.60, 2.24, 0, 2.24],
        [10.30, 9.85, 4.00, 2.24, 0],
    ],
    "manhattan": [
        [0, 1, 10, 13, 14],
        [1, 0, 9, 12, 13],
        [10, 9, 0, 3, 4],
        [13, 12, 3, 0, 3],
        [14, 13, 4, 3, 0],
    ],
    "canberra": [
        [0, 0.08, 1.27, 1.53, 1.37],
        [0.08, 0, 1.21, 1.49, 1.32],
        [1.27, 1.21, 0, 0.48, 0.25],
        [1.53, 1.49, 0.48, 0, 0.44],
        [1.37, 1.32, 0.25, 0.44, 0],
    ],
    "cosine": [
        [0, 1.0, 0.45, 0.26, 0.33],
        [1.0, 0, 0.47, 0.29, 0.35],
        [0.45, 0.47, 0, 0.98, 0.99],
        [0.26, 0.29, 0.98, 0, 1.0],
        [0.33, 0.35, 0.99, 1.0, 0],
    ],
    "bray_curtis": [
        [0, 0.07, 0.63, 0.76, 0.70],
        [0.07, 0, 0.60, 0.75, 0.68],
        [0.63, 0.60, 0, 0.18, 0.20],
        [0.76, 0.75, 0.18, 0, 0.14],
        [0.70, 0.68, 0.20, 0.14, 0],
    ],
}


@pytest.mark.parametrize("kernel", sorted(GOLDEN))
def test_tiny5_golden(spark, tiny5, kernel):
    edges = pairwise_distances(tiny5, kernel=kernel, n_blocks=3).collect()
    got = {(r["src"], r["dst"]): r["dist"] for r in edges}
    assert len(got) == 10  # 5 choose 2, canonical src<dst
    for i in range(5):
        for j in range(i + 1, 5):
            # golden is rounded to 2 dp (half-up in Java) -> +-0.005
            assert abs(got[(i, j)] - GOLDEN[kernel][i][j]) <= 0.005 + 1e-9, (i, j)


def test_directed_doubles_pairs(spark, tiny5):
    e = pairwise_distances(tiny5, "euclidean", n_blocks=2, directed=True)
    assert e.count() == 20


def test_pairwise_topk_matches_windowed_ranking(spark):
    """The per-block top-k kernel must equal ranking the full directed
    pairwise edge list — including tie semantics (dist, then dst)."""
    import numpy as np
    from pyspark.sql import Window, functions as F

    from simkit_spark.operators.kernels import pairwise_distances, pairwise_topk

    rng = np.random.RandomState(11)
    # quantized coords force distance ties to exercise the dst-tiebreak
    rows = [(i, (np.round(rng.randn(4), 1)).tolist()) for i in range(120)]
    df = spark.createDataFrame(rows, "id long, vec array<double>")
    for kernel, largest in (("euclidean", False), ("cosine", True)):
        t = pairwise_topk(df, 7, kernel, n_blocks=5, largest=largest)
        got = {(r["src"], r["rank"]): (r["dst"], round(r["dist"], 9)) for r in t.collect()}
        d = pairwise_distances(df, kernel, n_blocks=5, directed=True)
        order = (
            [F.col("dist").desc(), F.col("dst").asc()]
            if largest
            else [F.col("dist").asc(), F.col("dst").asc()]
        )
        w = Window.partitionBy("src").orderBy(*order)
        want = {
            (r["src"], r["rank"]): (r["dst"], round(r["dist"], 9))
            for r in d.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= 7)
            .collect()
        }
        assert got == want, kernel


def test_from_points_graphs_match_edge_constructors(spark):
    import numpy as np
    from simkit_spark.operators.graphs import (
        full_affinity,
        full_affinity_from_points,
        knn_edges,
        knn_graph_from_points,
        mutual_knn_edges,
        mutual_knn_from_points,
    )
    from simkit_spark.operators.kernels import pairwise_distances

    rng = np.random.RandomState(13)
    rows = [(i, rng.randn(6).tolist()) for i in range(100)]
    df = spark.createDataFrame(rows, "id long, vec array<double>")
    d = pairwise_distances(df, "euclidean", n_blocks=4, directed=True)

    def s(res):
        return {(r["src"], r["dst"]) for r in res.select("src", "dst").collect()}

    assert s(knn_graph_from_points(df, 5)) == s(knn_edges(d, 5))
    assert s(mutual_knn_from_points(df, 8)) == s(mutual_knn_edges(d, 8))
    got = {(r["src"], r["dst"]): round(r["weight"], 9) for r in full_affinity_from_points(df, 4).collect()}
    want = {(r["src"], r["dst"]): round(r["weight"], 9) for r in full_affinity(d, 4).collect()}
    assert got == want


def test_auto_n_blocks_dim_aware():
    # the per-pair memory target scales with dim: chunk x block x dim x 8
    # bytes of explicit-difference temporaries (VERDICT r2 #5). dim<=64
    # (or unknown) must keep the dim-blind decision bit-identical.
    from simkit_spark.operators.kernels import auto_n_blocks

    n = 100_000
    base = auto_n_blocks(n, parallelism=32)
    assert auto_n_blocks(n, parallelism=32, dim=64) == base
    assert auto_n_blocks(n, parallelism=32, dim=32) == base
    assert auto_n_blocks(n, parallelism=32, dim=None) == base
    b512 = auto_n_blocks(n, parallelism=32, dim=512)
    # (dim/64)^2 = 64x smaller pair budget -> 8x more blocks, so the
    # ACTUAL task temporary chunk x (n/B) x dim stays constant (the
    # linear dim/64 rule only bought sqrt: multi-GB at dim 512)
    assert b512 >= base * 7
    assert (n / b512) * 512 <= (n / base) * 64 * 1.05
    # in-task belt-and-braces: the a-side chunk shrinks with dim even
    # when the block cap pins B; dim <= 64 (or degenerate input) is
    # bit-identical to the static chunk
    import numpy as np

    from simkit_spark.operators.kernels import _task_chunk

    assert _task_chunk(2048, np.zeros((10, 64))) == 2048
    assert _task_chunk(2048, np.zeros((10, 32))) == 2048
    assert _task_chunk(2048, np.zeros((10, 512))) == 256
    assert _task_chunk(2048, np.zeros((0,))) == 2048


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _emb(spark):
    from pyspark.sql import functions as F

    path = Path(__file__).parent.parent / "perfbench/testdata/sf0.01/embeddings.parquet"
    return spark.read.parquet(str(path)).select(
        F.col("vec_id").alias("id"), F.col("embedding").cast("array<double>").alias("vec")
    )


@pytest.mark.parametrize(
    "case", ["euclidean", "manhattan", "cosine", "k_ge_n", "ties", "empty"]
)
def test_pairwise_topk_local_matches_distributed(spark, force_distributed, case):
    """The driver twin returns the block plan's rows bit for bit:
    distances, the (dist, dst) tie order and the ranks."""
    import numpy as np

    from simkit_spark.operators.kernels import pairwise_topk

    rng = np.random.RandomState(7)
    ids = rng.permutation(1000)[:150] * 3  # sparse, unordered ids
    rows = [(int(i), rng.randn(8).tolist()) for i in ids]
    k, kernel, largest = 6, "euclidean", False
    if case == "manhattan":
        kernel = "manhattan"
    elif case == "cosine":
        kernel, largest = "cosine", True
    elif case == "k_ge_n":
        rows, k = rows[:9], 12
    elif case == "ties":  # integer grid: duplicate points, equal distances
        rows = [(int(i), np.round(rng.randn(3)).tolist()) for i in ids]
    elif case == "empty":
        rows = []
    df = spark.createDataFrame(rows, "id long, vec array<double>")
    local = _rows(pairwise_topk(df, k, kernel, largest=largest))
    with force_distributed():
        dist = _rows(pairwise_topk(df, k, kernel, largest=largest, n_blocks=3))
    assert local == dist
    assert len(local) == len(rows) * min(k, max(len(rows) - 1, 0))


def test_cosine_is_independent_of_blocking(spark, force_distributed):
    """Cosine distances must not depend on how the points are blocked
    (a BLAS matmul sums in a block-shape-dependent order), or the
    result would depend on the cluster's parallelism."""
    from simkit_spark.operators.kernels import pairwise_distances, pairwise_topk

    emb = _emb(spark).localCheckpoint()
    with force_distributed():
        tops = [
            _rows(pairwise_topk(emb, 10, "cosine", n_blocks=b, largest=True))
            for b in (1, 2, 3, 5)
        ]
    assert all(t == tops[0] for t in tops[1:])
    dists = [_rows(pairwise_distances(emb, "cosine", n_blocks=b)) for b in (1, 2, 3, 5)]
    assert all(d == dists[0] for d in dists[1:])


@pytest.mark.parametrize("op", ["topk", "eps"])
def test_driver_sized_similarity_graph_is_one_job(spark, op):
    """On the local path the bounded Arrow collect is the only Spark
    job: no row count, no checkpoint, no block plan."""
    from simkit_spark.operators.epsjoin import eps_neighbor_pairs
    from simkit_spark.operators.kernels import pairwise_topk

    emb = _emb(spark)
    sc = spark.sparkContext
    group = f"similarity-local-{op}"
    sc.setJobGroup(group, group)
    try:
        if op == "topk":
            out = pairwise_topk(emb, 5)
        else:
            out = eps_neighbor_pairs(emb, 1.15, strict=True)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1
    assert "LocalTableScan" in out._jdf.queryExecution().executedPlan().toString()
