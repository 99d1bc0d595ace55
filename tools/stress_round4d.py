"""Stress the round-4d operators past driver-local scale: node2vec
second-order walks and sampled-source harmonic centrality on a ~1M-edge
skewed graph, and BM25 over a 1M-doc synthetic corpus. Prints one JSON
line; paste the numbers into BENCH/STRESS.md.

Invariants checked (cheap, scale-independent):
- node2vec: row count = (#non-isolated nodes) * walks_per_node *
  (walk_len + 1) — no walk dies on a symmetrized graph.
- harmonic: every harmonic value is in (0, n_sources]; n_reached <=
  n_sources.
- bm25: every query term returns <= k rows with dense ranks.
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
    n_docs = int(os.environ.get("STRESS_DOCS", "1000000"))
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = get_spark(
        "stress_r4d", master=f"local[{cpus}]", shuffle_partitions=int(cpus)
    )
    edges = synth_edges(spark, n_nodes, out_deg).localCheckpoint()
    res = {"nodes": n_nodes, "edges": edges.count(), "cpus": int(cpus)}

    from simkit_spark.operators.walks import node2vec_walks

    t0 = time.time()
    with patch("simkit_spark.util.local_dispatch_rows", lambda *a, **k: -1):
        w = node2vec_walks(edges, walk_len=4, walks_per_node=2)
    n_rows = w.count()
    res["node2vec_secs"] = round(time.time() - t0, 2)
    res["node2vec_rows"] = n_rows
    n_started = w.where(F.col("step") == 0).count()
    assert n_rows == n_started * 5, (n_rows, n_started)

    from simkit_spark.operators.centrality import harmonic_centrality

    t0 = time.time()
    hc = harmonic_centrality(edges, max_hops=4, n_sources=256)
    stats = hc.agg(
        F.count(F.lit(1)).alias("n"),
        F.max("harmonic").alias("mx"),
        F.min("harmonic").alias("mn"),
        F.max("n_reached").alias("mr"),
    ).first()
    res["harmonic_secs"] = round(time.time() - t0, 2)
    res["harmonic_nodes_touched"] = stats["n"]
    res["harmonic_max"] = float(stats["mx"])
    assert 0 < stats["mn"] and stats["mx"] <= 256 and stats["mr"] <= 256

    # synthetic corpus: ~30 tokens/doc from a 50k-word Zipf-ish vocab
    from simkit_spark.functions.text import bm25_topk

    docs = (
        spark.range(n_docs)
        .select(
            F.col("id").cast("string").alias("doc_id"),
            F.concat_ws(
                " ",
                F.transform(
                    F.sequence(F.lit(0), F.pmod(F.xxhash64("id"), F.lit(40)) + 10),
                    lambda j: F.concat(
                        F.lit("w"),
                        F.pmod(
                            F.pmod(F.xxhash64(F.col("id"), j, F.lit(7)), F.lit(50000))
                            * F.pmod(F.xxhash64(j, F.lit(9)), F.lit(223)),
                            F.lit(50000),
                        ),
                    ),
                ),
            ).alias("text"),
        )
        .localCheckpoint()
    )
    res["docs"] = docs.count()
    t0 = time.time()
    bm = bm25_topk(docs, n_queries=20, k=10).localCheckpoint()
    res["bm25_secs"] = round(time.time() - t0, 2)
    res["bm25_rows"] = bm.count()
    per_term = bm.groupBy("term").agg(F.count(F.lit(1)).alias("c"), F.max("rank").alias("r"))
    bad = per_term.where((F.col("c") > 10) | (F.col("c") != F.col("r"))).count()
    assert bad == 0

    print(json.dumps(res))
    spark.stop()


if __name__ == "__main__":
    main()
