"""Hypothesis property tests: kernel math invariants and the SQL-vs-
numpy implementation equivalence on random vectors (the two impls must
agree to float tolerance for EVERY kernel, not just the fixtures)."""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from simkit_spark.operators.kernels import KERNELS, SIMILARITY_KERNELS, np_kernel

vec = st.lists(
    st.floats(min_value=-50, max_value=50, allow_nan=False, width=32),
    min_size=4,
    max_size=4,
)


@settings(max_examples=200, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(a=vec, b=vec)
@pytest.mark.parametrize("kernel", KERNELS)
def test_kernel_math_properties(kernel, a, b):
    if kernel in ("jaccard", "bray_curtis"):
        # weighted Jaccard / Bray-Curtis are abundance measures: their
        # range invariants only hold on the non-negative domain (the
        # reference computes the identical formula and shares this
        # domain restriction — hypothesis found the counterexamples)
        a = [abs(x) for x in a]
        b = [abs(x) for x in b]
    a = np.array([a]); b = np.array([b])
    d_ab = float(np_kernel(a, b, kernel)[0, 0])
    d_ba = float(np_kernel(b, a, kernel)[0, 0])
    assert d_ab == pytest.approx(d_ba, rel=1e-12, abs=1e-12)  # symmetry
    assert np.isfinite(d_ab)
    d_aa = float(np_kernel(a, a, kernel)[0, 0])
    if kernel in SIMILARITY_KERNELS:
        assert d_ab <= 1.0 + 1e-12
        if np.linalg.norm(a) > 0:
            assert d_aa == pytest.approx(1.0, abs=1e-9)  # self-similarity
    else:
        assert d_ab >= -1e-12  # non-negativity
        assert abs(d_aa) < 1e-9  # identity


def test_sql_impl_matches_numpy_impl(spark):
    """impl='sql' (codegen fold) and impl='numpy' (block kernel) must
    agree on random data for every kernel."""
    from pyspark.sql import functions as F

    from simkit_spark.operators.kernels import pairwise_distances

    rng = np.random.RandomState(21)
    rows = [(i, np.round(rng.randn(6) * 3, 3).tolist()) for i in range(60)]
    df = spark.createDataFrame(rows, "id long, vec array<double>")
    for kernel in KERNELS:
        a = {
            (r["src"], r["dst"]): r["dist"]
            for r in pairwise_distances(df, kernel, n_blocks=3, impl="numpy").collect()
        }
        b = {
            (r["src"], r["dst"]): r["dist"]
            for r in pairwise_distances(df, kernel, n_blocks=3, impl="sql").collect()
        }
        assert a.keys() == b.keys(), kernel
        assert all(abs(a[k] - b[k]) < 1e-9 for k in a), kernel


def test_local_dispatch_rows_byte_budget():
    """*_auto dispatch must be byte-budgeted: narrow (long,long) edges
    keep the 500k default, adversarially wide rows (string IRIs +
    embedded vectors) shrink the threshold so the Arrow collect stays
    bounded in bytes."""
    from pyspark.sql import types as T

    from simkit_spark.util import LOCAL_DISPATCH_BYTE_BUDGET, local_dispatch_rows

    narrow = T.StructType(
        [T.StructField("src", T.LongType()), T.StructField("dst", T.LongType())]
    )
    assert local_dispatch_rows(narrow) == 500_000
    wide = T.StructType(
        [
            T.StructField("src", T.StringType()),
            T.StructField("dst", T.StringType()),
            T.StructField("vec", T.ArrayType(T.DoubleType())),
            T.StructField("payload", T.BinaryType()),
        ]
    )
    thr = local_dispatch_rows(wide)
    assert thr < 500_000
    # the implied collect stays within ~the budget at the estimate
    est = (48 * 2) + (16 + 16 * 8) + 256
    assert thr * est <= LOCAL_DISPATCH_BYTE_BUDGET
    # floors at a sane minimum and honors a custom budget
    assert local_dispatch_rows(wide, byte_budget=1) == 1_000


def test_size_dispatch_paths_and_empty_input(spark, force_distributed):
    """util.size_dispatch takes the local twin by default and dist_fn
    under the force_distributed seam; an empty input comes back as zero
    rows with the declared schema (``{id}`` filled from the input's
    first column) on both paths."""
    from simkit_spark.util import size_dispatch

    def run(df):
        paths = []

        def local(pdf):
            paths.append("local")
            return pdf.assign(twice=pdf["dst"] * 2)

        def dist(e):
            paths.append("dist")
            return e.selectExpr("src", "dst", "dst * 2 AS twice")

        out = size_dispatch(df, local, dist, "src {id}, dst long, twice long")
        return paths, out

    df = spark.createDataFrame([("a", 1), ("b", 2)], "src string, dst long")
    paths, out = run(df)
    assert paths == ["local"]
    assert sorted(map(tuple, out.collect())) == [("a", 1, 2), ("b", 2, 4)]
    with force_distributed():
        paths, out = run(df)
    assert paths == ["dist"]
    assert sorted(map(tuple, out.collect())) == [("a", 1, 2), ("b", 2, 4)]

    empty = spark.createDataFrame([], "src string, dst long")
    want = "struct<src:string,dst:bigint,twice:bigint>"
    paths, out = run(empty)
    assert paths == ["local"] and out.count() == 0
    assert out.schema.simpleString() == want
    with force_distributed():
        paths, out = run(empty)
    assert paths == ["dist"] and out.count() == 0
    assert out.schema.simpleString() == want


def test_size_dispatch_local_fn_none_declines_to_dist(spark):
    """A local twin that returns None declines: size_dispatch hands the
    same materialized input to dist_fn, and the answer is dist_fn's."""
    from simkit_spark.util import size_dispatch

    seen = []

    def local(pdf):
        seen.append(("local", len(pdf)))
        return None

    def dist(e):
        seen.append(("dist", e.count()))
        return e.selectExpr("src", "dst + 1 AS dst")

    df = spark.createDataFrame([("a", 1), ("b", 2), ("b", 2)], "src string, dst long")
    out = size_dispatch(df.distinct(), local, dist, "src {id}, dst long")
    assert seen == [("local", 2), ("dist", 2)]
    assert sorted(map(tuple, out.collect())) == [("a", 2), ("b", 3)]


@pytest.mark.parametrize("arrow", ["true", "false"])
def test_size_dispatch_probe_boundary(spark, monkeypatch, arrow):
    """The size probe is the collect: under a budget of N rows, N rows
    take local_fn and N + 1 take dist_fn (local_fn never called), with
    Arrow on or off. With Arrow on the local path is ONE Spark job (no
    checkpoint, no count); dist_fn gets a checkpointed leaf."""
    from simkit_spark.util import size_dispatch

    n = 37
    key = "spark.sql.execution.arrow.pyspark.enabled"
    monkeypatch.setattr("simkit_spark.util.local_dispatch_rows", lambda *a, **k: n)
    old = spark.conf.get(key)
    spark.conf.set(key, arrow)
    sc = spark.sparkContext
    tracker = sc.statusTracker()

    def run(rows, group):
        seen = []

        def local(pdf):
            seen.append(("local", len(pdf)))
            return pdf

        def dist(e):
            leaf = e._jdf.queryExecution().logical().getClass().getSimpleName()
            seen.append(("dist", leaf))
            return e

        df = spark.range(0, rows, 1, 4).selectExpr("id AS src", "id + 1 AS dst")
        sc.setJobGroup(group, group)
        try:
            out = size_dispatch(df, local, dist, "src {id}, dst long")
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert sorted(r.src for r in out.collect()) == list(range(rows))
        return seen, len(tracker.getJobIdsForGroup(group))

    try:
        seen, jobs = run(n, f"dispatch-local-{arrow}")
        assert seen == [("local", n)]
        if arrow == "true":
            assert jobs == 1
        seen, _ = run(n + 1, f"dispatch-dist-{arrow}")
        assert seen == [("dist", "LogicalRDD")]
    finally:
        spark.conf.set(key, old)


@pytest.mark.parametrize(
    "op", ["random_walks", "node2vec_walks", "neighborhood_function"]
)
def test_walks_and_anf_local_path_is_one_job(spark, op):
    """A driver-sized graph takes the twin with the size probe as its
    only Spark job (no checkpoint, no count), and the answer is a
    LocalTableScan. The input has one partition, as the cached kNN
    table the walk and ANF queries read: over a wider input AQE runs
    the probe's distinct shuffle as one more job."""
    from simkit_spark.operators import anf, walks

    fn = {
        "random_walks": lambda e: walks.random_walks(e, 4, 2),
        "node2vec_walks": lambda e: walks.node2vec_walks(e, 4, 2),
        "neighborhood_function": lambda e: anf.neighborhood_function(e, 4),
    }[op]
    edges = spark.createDataFrame(
        [(i, (i + 1) % 12) for i in range(12)] + [(0, 6), (3, 9)],
        "src long, dst long",
    ).coalesce(1)
    sc = spark.sparkContext
    group = f"local-path-{op}"
    sc.setJobGroup(group, group)
    try:
        out = fn(edges)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1
    assert "LocalTableScan" in out._jdf.queryExecution().executedPlan().toString()
    assert out.count() > 0


def test_materialize_resets_bloated_join_stats(spark):
    # Catalyst multiplies children's sizeInBytes at every join and
    # checkpoints inherit the product into the new leaf: in a fixpoint
    # loop the stat's bit-length doubles per sweep until the driver
    # spends minutes in BigInteger multiplication during join planning
    # (measured on temporal reachability: 0.2 s -> 120 s per sweep).
    # materialize() must cap the inherited stat once it turns
    # pathological (> _STATS_BITS_SANE bits) while leaving ordinary
    # multi-join products (hundreds of bits) untouched — resetting
    # those demotes static broadcasts (measured: kg_transe_rank
    # 1.1 -> 6.3 s under a 64-bit threshold).
    from pyspark.sql import functions as F

    from simkit_spark.util import _STATS_BITS_SANE, materialize

    def bits(df):
        return int(
            df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        ).bit_length()

    a = spark.range(50).select("id", F.lit(1).alias("x")).localCheckpoint()
    cur = a
    for _ in range(10):
        # self-join: stats square each sweep — bit-length doubles, the
        # geometric fixpoint-loop shape that drove merges to 120 s
        cur = materialize(
            cur.join(cur.withColumnRenamed("x", "y"), "id", "full").select(
                "id", F.coalesce("x", "y").alias("x")
            )
        )
    assert bits(cur) <= 2 * _STATS_BITS_SANE, (
        "stats bit-length must stay bounded across sweeps"
    )
    assert cur.count() == 50
    # and a plain three-table product (~hundreds of bits at most)
    # passes through with its inherited stats intact
    b = spark.range(50).select("id", F.lit(2).alias("y")).localCheckpoint()
    c = spark.range(50).select("id", F.lit(3).alias("z")).localCheckpoint()
    j = materialize(a.join(b, "id").join(c, "id"))
    assert 0 < bits(j) <= _STATS_BITS_SANE
