"""Stress the round-4j operators past driver-local scale: Borůvka MSF
(forced distributed, parity vs the Kruskal twin on the same ~1M-edge
graph), densest-subgraph peeling at 1M edges, and temporal
reachability over ~5M synthetic contacts. Prints one JSON line; paste
into BENCH/STRESS.md.

Invariants:
- msf: edge count == nodes - components (forest identity); bit parity
  vs the local Kruskal twin.
- densest: round trajectory non-empty, density positive, n_nodes
  strictly decreasing.
- temporal: every arrival >= 0; reached set grows monotonically with
  a later seed set removed (spot check: seed-0 reach is a subset of
  seed-{0,1} reach).
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
from stress_graph_ops import synth_edges  # noqa: E402


def main():
    n_nodes = int(os.environ.get("STRESS_NODES", "100000"))
    out_deg = int(os.environ.get("STRESS_DEG", "10"))
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = get_spark(
        "stress_r4j", master=f"local[{cpus}]", shuffle_partitions=int(cpus)
    )
    edges = synth_edges(spark, n_nodes, out_deg).localCheckpoint()
    weighted = edges.select(
        "src",
        "dst",
        (F.pmod(F.xxhash64("src", "dst", F.lit(9)), F.lit(100000)) / 100.0).alias(
            "weight"
        ),
    ).localCheckpoint()
    res = {"nodes": n_nodes, "edge_rows": edges.count(), "cpus": int(cpus)}

    # ---------------- Borůvka MSF, forced distributed + twin parity
    from simkit_spark.operators.components import connected_components
    from simkit_spark.operators.mst import minimum_spanning_forest

    t0 = time.time()
    with patch("simkit_spark.util.local_dispatch_rows", lambda *a, **k: -1):
        msf = minimum_spanning_forest(weighted).localCheckpoint()
    res["msf_sec"] = round(time.time() - t0, 1)
    res["msf_edges"] = msf.count()
    nodes = (
        edges.select(F.col("src").alias("id"))
        .union(edges.select(F.col("dst").alias("id")))
        .distinct()
        .count()
    )
    comps = (
        connected_components(edges.select("src", "dst"))
        .select("component")
        .distinct()
        .count()
    )
    assert res["msf_edges"] == nodes - comps, (res["msf_edges"], nodes, comps)
    t0 = time.time()
    with patch("simkit_spark.util.local_dispatch_rows", lambda *a, **k: 10_000_000):
        loc = minimum_spanning_forest(weighted)
    assert msf.exceptAll(loc).count() == 0 and loc.exceptAll(msf).count() == 0
    res["msf_parity"] = "exact"
    res["msf_local_sec"] = round(time.time() - t0, 1)

    # ---------------- densest-subgraph peel at 1M edges
    from simkit_spark.operators.densest import densest_subgraph_rounds

    t0 = time.time()
    rounds = densest_subgraph_rounds(edges, max_rounds=40).collect()
    res["densest_sec"] = round(time.time() - t0, 1)
    traj = sorted((r["round"], r["n_nodes"], r["density"]) for r in rounds)
    res["densest_rounds"] = len(traj)
    res["densest_best"] = max(r["density"] for r in rounds)
    assert all(a[1] > b[1] for a, b in zip(traj, traj[1:])), traj
    assert all(r["density"] > 0 for r in rounds)

    # ---------------- temporal reachability over ~5M contacts
    from simkit_spark.functions.events import temporal_reachability

    n_contacts = int(os.environ.get("STRESS_CONTACTS", "5000000"))
    contacts = (
        spark.range(n_contacts)
        .select(
            F.pmod(F.xxhash64("id", F.lit(1)), F.lit(n_nodes)).alias("src"),
            F.pmod(F.xxhash64("id", F.lit(2)), F.lit(n_nodes)).alias("dst"),
            F.pmod(F.xxhash64("id", F.lit(3)), F.lit(1_000_000)).alias("t"),
        )
        .where(F.col("src") != F.col("dst"))
        .localCheckpoint()
    )
    t0 = time.time()
    reach0 = temporal_reachability(contacts, seeds=[0]).localCheckpoint()
    res["temporal_sec"] = round(time.time() - t0, 1)
    res["temporal_reached"] = reach0.count()
    assert reach0.where(F.col("arrival") < 0).count() == 0
    both = temporal_reachability(contacts, seeds=[0, 1])
    assert (
        reach0.select("id").exceptAll(both.select("id")).count() == 0
    ), "seed-0 reach must be a subset of seed-{0,1} reach"
    res["temporal_reached_2seeds"] = both.count()

    print(json.dumps(res))
    spark.stop()


if __name__ == "__main__":
    main()
