"""Stress the round-4h graph operators past driver-local scale:
k-truss peeling and Luby MIS on a ~1M-edge skewed graph (forced down
the distributed path), plus degree assortativity on the same graph.
Prints one JSON line; paste the numbers into BENCH/STRESS.md.

Invariants checked (cheap, scale-independent):
- ktruss: surviving edge count shrinks monotonically vs the input
  dedup'd count; every reported support >= 0.
- MIS: ZERO edges with both endpoints selected (independence, checked
  distributed via two semi-joins); undrained count reported (0 =
  converged => the set is maximal).
- assortativity: r in [-1, 1]; n_edges equals the dedup'd count.
"""

from __future__ import annotations

import json
import os
import sys
import time
from unittest.mock import patch

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from simkit_spark.operators.graphs import undirected  # noqa: E402
from simkit_spark.session import get_spark  # noqa: E402
from stress_graph_ops import synth_edges  # noqa: E402


def main():
    n_nodes = int(os.environ.get("STRESS_NODES", "100000"))
    out_deg = int(os.environ.get("STRESS_DEG", "10"))
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = get_spark(
        "stress_r4h", master=f"local[{cpus}]", shuffle_partitions=int(cpus)
    )
    edges = synth_edges(spark, n_nodes, out_deg).localCheckpoint()
    res = {"nodes": n_nodes, "edge_rows": edges.count(), "cpus": int(cpus)}
    und = undirected(edges)
    res["edges_undirected"] = und.count()

    from simkit_spark.operators.truss import ktruss

    # truss leg runs on a BANDED graph (dst = src+1..src+B mod n): a
    # uniform random graph at this density has ~no triangles (support
    # ~ deg^2/n ~ 0), so its truss is trivially empty after sweep 1;
    # the band makes support fall off with edge span (interior edge
    # (u, u+g) closes ~2*(B-g) triangles), so peeling progresses over
    # several sweeps and a non-trivial nucleus survives — plus 5% of
    # edges rewired to xxhash destinations for shuffle-pattern realism
    band = int(os.environ.get("STRESS_BAND", "10"))
    banded = (
        spark.range(n_nodes)
        .select(
            F.col("id").alias("src"),
            F.explode(F.sequence(F.lit(1), F.lit(band))).alias("j"),
        )
        .select(
            "src",
            F.when(
                F.pmod(F.xxhash64("src", "j", F.lit(7)), F.lit(20)) == 0,
                F.pmod(F.xxhash64("src", "j", F.lit(8)), F.lit(n_nodes)),
            )
            .otherwise(F.pmod(F.col("src") + F.col("j"), F.lit(n_nodes)))
            .alias("dst"),
        )
        .where(F.col("src") != F.col("dst"))
        .localCheckpoint()
    )
    res["banded_edge_rows"] = banded.count()
    t0 = time.time()
    with patch("simkit_spark.util.local_dispatch_rows", lambda *a, **k: -1):
        kt = ktruss(banded, k=2 * band // 3, n_iter=6).persist()
    res["ktruss_rows"] = kt.count()
    res["ktruss_secs"] = round(time.time() - t0, 2)
    res["ktruss_min_sup"] = kt.agg(F.min("sup")).collect()[0][0]
    assert 0 < res["ktruss_rows"] < res["banded_edge_rows"]
    assert kt.where(F.col("sup") < 0).count() == 0

    from simkit_spark.operators.mis import maximal_independent_set

    t0 = time.time()
    with patch("simkit_spark.util.local_dispatch_rows", lambda *a, **k: -1):
        mis = maximal_independent_set(edges, n_iter=8, seed=42).persist()
    res["mis_rows"] = mis.count()
    res["mis_secs"] = round(time.time() - t0, 2)
    res["mis_max_sweep"] = mis.agg(F.max("sweep")).collect()[0][0]
    # independence, checked distributed: no undirected edge may have
    # BOTH endpoints in the set
    viol = (
        und.join(mis.select(F.col("id").alias("u")), "u", "leftsemi")
        .join(mis.select(F.col("id").alias("v")), "v", "leftsemi")
        .count()
    )
    assert viol == 0, f"{viol} MIS-internal edges"
    # undrained nodes (0 = converged = maximal): alive universe minus
    # selected minus neighbors-of-selected
    nodes = und.select(F.col("u").alias("id")).union(
        und.select(F.col("v").alias("id"))
    ).distinct()
    nbrs = (
        und.join(mis.select(F.col("id").alias("u")), "u", "leftsemi")
        .select(F.col("v").alias("id"))
        .union(
            und.join(mis.select(F.col("id").alias("v")), "v", "leftsemi").select(
                F.col("u").alias("id")
            )
        )
    )
    res["mis_undrained"] = (
        nodes.join(mis.select("id"), "id", "left_anti")
        .join(nbrs, "id", "left_anti")
        .count()
    )

    from simkit_spark.operators.graphstats import degree_assortativity

    t0 = time.time()
    row = degree_assortativity(edges).collect()[0]
    res["assort_secs"] = round(time.time() - t0, 2)
    res["assortativity"] = row.assortativity
    assert row.n_edges == res["edges_undirected"]
    assert row.assortativity is None or -1.0 <= row.assortativity <= 1.0

    print(json.dumps(res))
    spark.stop()


if __name__ == "__main__":
    main()
