"""Stress the round-3 graph operators past their driver-local regimes:
distributed PageRank (above the 500k-edge dispatch threshold), LPA and
triangle counting on a ~1M-edge power-law-ish graph. Prints one JSON
line; paste the numbers into BENCH/STRESS.md.

Graph: n nodes, each with OUT_DEG pseudo-random out-edges from a seeded
xxhash64 expression — deterministic, partitioning-independent, heavy-
tailed in-degree (id 0..n*skew share extra mass) so the skew paths are
exercised.
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


def synth_edges(spark, n_nodes: int, out_deg: int, seed: int = 42):
    """Deterministic edge list: dst = xxhash64(src, j, seed) mod n,
    with a 10% hot-head bias (dst mod 32 == 0 -> rehash into the first
    1% of ids) to create realistic in-degree skew."""
    e = (
        spark.range(n_nodes)
        .select(
            F.col("id").alias("src"),
            F.explode(F.sequence(F.lit(0), F.lit(out_deg - 1))).alias("j"),
        )
        .select(
            "src",
            F.pmod(F.xxhash64("src", "j", F.lit(seed)), F.lit(n_nodes)).alias("d0"),
        )
        .select(
            "src",
            F.when(
                F.pmod(F.col("d0"), F.lit(32)) == 0,
                F.pmod(F.col("d0"), F.lit(max(n_nodes // 100, 1))),
            )
            .otherwise(F.col("d0"))
            .alias("dst"),
        )
        .where(F.col("src") != F.col("dst"))
    )
    return e


def main():
    n_nodes = int(os.environ.get("STRESS_NODES", "100000"))
    out_deg = int(os.environ.get("STRESS_DEG", "10"))
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = get_spark("stress_graph", master=f"local[{cpus}]", shuffle_partitions=int(cpus))
    edges = synth_edges(spark, n_nodes, out_deg).localCheckpoint()
    m = edges.count()
    res = {"nodes": n_nodes, "edges": m, "cpus": int(cpus)}

    from simkit_spark.operators.pagerank import pagerank
    t0 = time.time()
    with patch("simkit_spark.util.local_dispatch_rows", lambda *a, **k: -1):
        pr = pagerank(edges, n_iter=10)  # forced distributed
    total = pr.agg(F.sum("rank")).first()[0]
    res["pagerank_dist_secs"] = round(time.time() - t0, 2)
    res["pagerank_mass"] = round(float(total), 6)

    from simkit_spark.operators.labelprop import label_propagation
    t0 = time.time()
    with patch("simkit_spark.util.local_dispatch_rows", lambda *a, **k: -1):
        lp = label_propagation(edges, n_iter=5)  # forced distributed
    n_comm = lp.select(F.count_distinct("community")).first()[0]
    res["lpa_secs"] = round(time.time() - t0, 2)
    res["lpa_communities"] = int(n_comm)

    from simkit_spark.operators.triangles import triangle_counts
    t0 = time.time()
    tc = triangle_counts(edges)
    tri_total = tc.agg(F.sum("triangles")).first()[0]
    res["triangles_secs"] = round(time.time() - t0, 2)
    res["triangles_total_corner_sum"] = int(tri_total)

    # DOULION p=1/4: the corner sum above counts each triangle 3x, so
    # estimate * 3 should land near it (unbiased; variance ~ 1/(p^3 T))
    from simkit_spark.operators.triangles import sampled_triangle_total
    t0 = time.time()
    st = sampled_triangle_total(edges, num=1, den=4).first()
    res["doulion_secs"] = round(time.time() - t0, 2)
    res["doulion_edges"] = int(st["n_edges_sampled"])
    res["doulion_estimate_corner_sum"] = round(3.0 * st["tri_estimate"], 1)

    # HITS: distributed exact-integer sweeps (forced past the local
    # twin); hub/authority L1 masses must each be ~1
    from simkit_spark.operators.hits import hits
    t0 = time.time()
    with patch("simkit_spark.util.local_dispatch_rows", lambda *a, **k: -1):
        ha = hits(edges, n_iter=5)
    masses = ha.agg(F.sum("hub"), F.sum("authority")).first()
    res["hits_secs"] = round(time.time() - t0, 2)
    res["hits_hub_mass"] = round(float(masses[0]), 6)
    res["hits_auth_mass"] = round(float(masses[1]), 6)

    print(json.dumps(res))
    spark.stop()


if __name__ == "__main__":
    main()
