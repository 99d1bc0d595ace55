"""Near-tie stability fixtures (VERDICT r2 'what's wrong' #6).

Both the Spark operators and the DuckDB oracles cut on UNROUNDED
values (rounding is output-formatting only), so parity at thresholds
rests on the two engines computing the same double for the same pair.
The explicit-difference kernels (np_kernel / distance_expr) were built
for exactly this; these fixtures pin the behavior on data engineered
to sit ON the cut:

  * distances exactly equal to eps (exact small-integer grids — the
    float result is exactly representable, so `< eps` must exclude on
    every engine), and
  * irrational distances whose nearest double equals the eps literal
    (sqrt(2) via unit offsets).
  * duplicated vectors -> exact cosine ties at the top-k rank boundary
    (tie-break by dst asc must pick the same rows on both engines).
"""

from __future__ import annotations

import duckdb
import numpy as np
import pandas as pd
import pytest

DIST_SQL = (
    "sqrt(list_reduce(list_transform(list_zip(a.vec, b.vec),"
    " x -> (x[1]-x[2])*(x[1]-x[2])), (p,q) -> p+q))"
)


def _pairs_oracle(pdf: pd.DataFrame, where: str) -> set:
    con = duckdb.connect()
    con.register("pts", pdf)
    rows = con.sql(
        "SELECT a.id AS src, b.id AS dst FROM pts a JOIN pts b ON a.id < b.id "
        f"WHERE {DIST_SQL} {where}"
    ).fetchall()
    return set(map(tuple, rows))


@pytest.mark.parametrize("method", ["block", "pivot"])
def test_eps_cut_exact_and_sqrt_ties(spark, method, force_distributed):
    from simkit_spark.operators.epsjoin import eps_neighbor_pairs

    # integer grid: many dists exactly 1.0 and sqrt(2); eps below,
    # at an exact tie, and at the sqrt tie
    pts = [(i * 4 + j, [float(i), float(j)] + [0.0] * 6) for i in range(4) for j in range(4)]
    pdf = pd.DataFrame({"id": [p[0] for p in pts], "vec": [p[1] for p in pts]})
    df = spark.createDataFrame(pdf, "id long, vec array<double>")
    for eps, strict in [(1.0, True), (1.0, False), (float(np.sqrt(2.0)), True), (float(np.sqrt(2.0)), False)]:
        want = _pairs_oracle(pdf, f"< {eps!r}" if strict else f"<= {eps!r}")
        # the grid is driver-sized: the local twin answers by default,
        # and the forced distributed path runs the named method
        got = {
            (r["src"], r["dst"])
            for r in eps_neighbor_pairs(df, eps, strict=strict, method=method).collect()
        }
        assert got == want, (eps, strict, got ^ want)
        with force_distributed():
            got = {
                (r["src"], r["dst"])
                for r in eps_neighbor_pairs(df, eps, strict=strict, method=method).collect()
            }
        assert got == want, (eps, strict, got ^ want)


def test_cosine_topk_exact_tie_rank(spark):
    """Duplicated vectors make cos == 1.0 ties right at the k
    boundary; rank tie-break (cos desc, dst asc) must be engine-stable."""
    from simkit_spark.functions.similarity import cosine_topk

    base = np.eye(4, 8)
    vecs = np.vstack([base, base, base])  # each direction 3x duplicated
    pdf = pd.DataFrame({"id": np.arange(12, dtype=np.int64), "vec": [v.tolist() for v in vecs]})
    df = spark.createDataFrame(pdf, "id long, vec array<double>")
    got = {
        (r["src"], r["dst"], r["rank"])
        for r in cosine_topk(df, k=2).collect()
    }
    # oracle: brute force numpy with identical tie-break
    want = set()
    for i in range(12):
        cos = vecs @ vecs[i] / (np.linalg.norm(vecs, axis=1) * np.linalg.norm(vecs[i]))
        order = sorted((j for j in range(12) if j != i), key=lambda j: (-round(cos[j], 12), j))
        for rank, j in enumerate(order[:2], 1):
            want.add((i, j, rank))
    assert got == want
