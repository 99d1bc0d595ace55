"""Stress the late-round-3 additions past their test-scale regimes:

1. kcore on the ~1M-edge skewed graph (stress_graph_ops generator),
   distributed path FORCED (dispatch budget patched) vs the numpy local twin
   on the same edges — wall for both + identical survivor sets
   (xor-hash) proving the dispatch is invisible at scale-boundary.
2. random_walks on the same graph: walk corpus wall + row count
   (n_nodes x walks x (len+1) contract) on the fixed-partitioning
   frontier-join plan.
3. lm_score over 1M synthetic ~120-token docs (10k-word vocabulary,
   seeded xxhash picks — deterministic, partitioning-independent):
   wall for the count-tables + per-doc-mean plan at a corpus size
   where the bigram stream is ~10^8 rows.

Prints one JSON line; paste numbers into BENCH/STRESS.md.
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
from tools.stress_graph_ops import synth_edges  # noqa: E402


def _xor_hash(df, cols):
    r = (
        df.select(
            F.xxhash64(
                *[F.coalesce(F.col(c).cast("string"), F.lit("<null>")) for c in cols]
            ).alias("h")
        )
        .agg(F.expr("bit_xor(h)").alias("s"))
        .collect()[0]
    )
    return int(r["s"] or 0)


def synth_docs(spark, n_docs: int, doc_toks: int = 120, vocab: int = 10_000):
    """Deterministic word-salad corpus: token j of doc i is
    w<xxhash64(i, j) mod vocab> — partitioning-independent."""
    return spark.range(n_docs).select(
        F.col("id").cast("string").alias("doc_id"),
        F.array_join(
            F.transform(
                F.sequence(F.lit(0), F.lit(doc_toks - 1)),
                lambda j: F.concat(
                    F.lit("w"),
                    F.pmod(F.xxhash64(F.col("id"), j), F.lit(vocab)).cast("string"),
                ),
            ),
            " ",
        ).alias("text"),
    )


def main():
    n_nodes = int(os.environ.get("STRESS_NODES", "100000"))
    out_deg = int(os.environ.get("STRESS_DEG", "10"))
    n_docs = int(os.environ.get("STRESS_DOCS", "1000000"))
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = get_spark(
        "stress_r3b", master=f"local[{cpus}]", shuffle_partitions=int(cpus)
    )
    edges = synth_edges(spark, n_nodes, out_deg).localCheckpoint()
    m = edges.count()
    res = {"nodes": n_nodes, "edges": m, "cpus": int(cpus)}

    from simkit_spark.operators.kcore import kcore

    t0 = time.time()
    with patch("simkit_spark.util.local_dispatch_rows", lambda *a, **k: -1):
        kd = kcore(edges, k=8, n_iter=10)
    res["kcore_dist_secs"] = round(time.time() - t0, 2)
    res["kcore_survivors"] = kd.count()

    # dispatch parity at the size boundary: ~400k edges (just under the
    # 500k local threshold) — distributed FORCED vs the numpy local twin
    # must be identical. (The local twin is never asked to collect a
    # >500k-edge table at scale; that's exactly what the dispatch is for.)
    bedges = synth_edges(spark, n_nodes // 2, 8).localCheckpoint()
    res["boundary_edges"] = bedges.count()
    t0 = time.time()
    with patch("simkit_spark.util.local_dispatch_rows", lambda *a, **k: -1):
        hb_d = _xor_hash(kcore(bedges, k=8, n_iter=10), ["id", "core_deg"])
    res["kcore_boundary_dist_secs"] = round(time.time() - t0, 2)
    t0 = time.time()
    with patch("simkit_spark.util.local_dispatch_rows", lambda *a, **k: 10_000_000):
        hb_l = _xor_hash(kcore(bedges, k=8, n_iter=10), ["id", "core_deg"])
    res["kcore_boundary_local_secs"] = round(time.time() - t0, 2)
    res["kcore_paths_identical"] = hb_d == hb_l

    from simkit_spark.operators.walks import random_walks

    t0 = time.time()
    with patch("simkit_spark.util.local_dispatch_rows", lambda *a, **k: -1):
        w = random_walks(edges, walk_len=4, walks_per_node=1)
    res["walk_rows"] = w.count()
    res["walks_secs"] = round(time.time() - t0, 2)

    from simkit_spark.functions.text import lm_score

    docs = synth_docs(spark, n_docs).localCheckpoint()
    t0 = time.time()
    s = lm_score(docs)
    agg = s.agg(
        F.count(F.lit(1)).alias("n"), F.avg("lm_logprob").alias("mean")
    ).collect()[0]
    res["lm_docs"] = int(agg["n"])
    res["lm_mean_logprob"] = round(float(agg["mean"]), 4)
    res["lm_secs"] = round(time.time() - t0, 2)

    print(json.dumps(res))
    spark.stop()


if __name__ == "__main__":
    main()
