"""Stress the DISTRIBUTED eigensolve past the local dispatch (round-3
verdict #4: eigensolve solves graphs of at most
eigen.MAX_LOCAL_NODES (3000) nodes on the driver, so the distributed
path had unit tests + the refine stress but no committed large-graph
datapoint the way PPR/SSSP do). It forces the distributed path by
patching util.local_dispatch_rows.

Graph: n nodes, d pseudo-random out-edges each (multiply-shift over
node id — deterministic), symmetrized, unit weights -> sym normalized
Laplacian D^-1/2 A D^-1/2. Invariant: its dominant eigenvalue is
EXACTLY 1 (eigenvector D^1/2·1), so the solver's top Ritz value is a
built-in correctness check at any scale. Sweep count is instrumented
by counting _gram calls (one per orthogonal-iteration sweep).

Prints one JSON line; paste into BENCH/STRESS.md.
Env: STRESS_EIGEN_NODES (default 100_000), STRESS_EIGEN_DEG (10),
STRESS_EIGEN_K (4), SPARK_GRAFT_CPUS (32).
"""

from __future__ import annotations

import json
import os
import sys
import time
from unittest.mock import patch

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from simkit_spark.session import get_spark  # noqa: E402


def synth_edges(spark, n: int, deg: int):
    """Deterministic pseudo-random d-out graph over n nodes."""
    base = spark.range(n)
    parts = []
    for j in range(deg):
        a, b = 2 * j + 1, 7919 * (j + 1)
        parts.append(
            base.select(
                F.col("id").alias("src"),
                F.pmod(F.col("id") * a + b, F.lit(n)).alias("dst"),
                F.lit(1.0).alias("weight"),
            )
        )
    e = parts[0]
    for p in parts[1:]:
        e = e.unionByName(p)
    return e.where(F.col("src") != F.col("dst"))


def main() -> None:
    import simkit_spark.operators.eigen as eig
    from simkit_spark.operators.graphs import symmetrize
    from simkit_spark.operators.laplacian import laplacian

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    n = int(os.environ.get("STRESS_EIGEN_NODES", "100000"))
    deg = int(os.environ.get("STRESS_EIGEN_DEG", "10"))
    k = int(os.environ.get("STRESS_EIGEN_K", "4"))
    spark = get_spark("stress_eigen", master=f"local[{cpus}]", shuffle_partitions=int(cpus))

    lap = laplacian(symmetrize(synth_edges(spark, n, deg)), "sym").localCheckpoint()
    n_edges = lap.count()

    sweeps = {"n": 0}
    orig_gram = eig._gram

    def counting_gram(*a, **kw):
        sweeps["n"] += 1
        return orig_gram(*a, **kw)

    eig._gram = counting_gram
    t0 = time.time()
    with patch("simkit_spark.util.local_dispatch_rows", lambda *a, **k: -1):
        x, lam = eig.eigensolve(lap, k=k, max_iter=60, tol=1e-7, seed=42)
    n_rows = x.count()
    wall = round(time.time() - t0, 1)
    eig._gram = orig_gram

    print(
        json.dumps(
            {
                "nodes": n,
                "sym_edge_rows": n_edges,
                "k": k,
                "sweeps": sweeps["n"],
                "eigensolve_s": wall,
                "top_eig": float(lam[-1]),
                "top_eig_err": abs(float(lam[-1]) - 1.0),
                "x_rows": n_rows,
                "cpus": int(cpus),
            }
        )
    )
    assert abs(float(lam[-1]) - 1.0) < 1e-4, lam
    spark.stop()


if __name__ == "__main__":
    main()
