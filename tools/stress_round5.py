"""Round-5 additions past test scale: distributed PCA at 2M x 64 and
per-group HLL at 50M skewed rows. Prints one JSON line; paste into
BENCH/STRESS.md."""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from simkit_spark.session import get_spark  # noqa: E402


def main() -> None:
    import numpy as np

    from simkit_spark.functions.sketch import hll_distinct_by
    from simkit_spark.operators.pca import fit_pca, transform_pca

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = get_spark("stress-r5", master=f"local[{cpus}]", shuffle_partitions=int(cpus))
    res: dict = {}

    # ---------------- PCA: 2M x 64 anisotropic vectors
    d = 64
    emb = (
        spark.range(2_000_000)
        .select(
            F.col("id"),
            F.array(
                *[
                    (
                        (F.pmod(F.xxhash64("id", F.lit(j)), F.lit(100_000)) / 50_000.0 - 1.0)
                        * float(8.0 / (1 + j))  # geometric variance spectrum
                    )
                    for j in range(d)
                ]
            ).alias("vec"),
        )
        .repartition(64)
        .localCheckpoint()
    )
    t0 = time.time()
    model = fit_pca(emb, k=8)
    res["pca_fit_sec"] = round(time.time() - t0, 1)
    lam = model["explained_variance"]
    assert all(a >= b for a, b in zip(lam, lam[1:])), "eigvals not sorted"
    # the geometric scale spectrum must be recovered in order: the
    # top principal direction aligns with dimension 0, next with 1, …
    comps = np.abs(np.asarray(model["components"]))
    assert list(np.argmax(comps, axis=0)[:4]) == [0, 1, 2, 3], comps.argmax(axis=0)[:8]
    t0 = time.time()
    n_out = transform_pca(emb, model, whiten=True).count()
    res["pca_transform_sec"] = round(time.time() - t0, 1)
    res["pca_rows"] = n_out
    res["pca_top_eigvals"] = [round(float(v), 2) for v in lam[:4]]

    # ---------------- grouped HLL: 50M rows, zipf-ish group skew
    # group g{k} holds ~2^k/2^10 of the corpus (hot group ~ half),
    # value space per row is ~5M distinct ids
    rows = (
        spark.range(50_000_000)
        .select(
            F.concat(
                F.lit("g"),
                F.floor(
                    F.log2(F.lit(1) + F.pmod(F.xxhash64("id", F.lit(1)), F.lit(1 << 10)))
                ).cast("int").cast("string"),
            ).alias("grp"),
            F.pmod(F.xxhash64("id", F.lit(2)), F.lit(5_000_000)).alias("val"),
        )
    )
    t0 = time.time()
    sk = hll_distinct_by(rows, "val", ["grp"], p=12).collect()
    res["hll_by_sec"] = round(time.time() - t0, 1)
    res["hll_groups"] = len(sk)
    # the hot group saw ~25M draws from 5M ids -> ~5M distinct; HLL at
    # p=12 has ~1.6% std error — accept 10%
    hot = max(sk, key=lambda r: r["est_distinct"])
    res["hll_hot_group"] = hot["grp"]
    res["hll_hot_est"] = hot["est_distinct"]
    assert abs(hot["est_distinct"] - 5_000_000) / 5_000_000 < 0.10, hot
    # every group's register table is bounded by 2^p
    assert all(r["n_filled"] <= (1 << 12) for r in sk)

    print(json.dumps(res))
    spark.stop()


if __name__ == "__main__":
    main()
