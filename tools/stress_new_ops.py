"""Stress the round-3 additions past their test-scale regimes:

1. asof_join at 10M left x 2M right rows over 50k keys with ONE hot
   key holding ~20% of all rows — the case that serializes the naive
   single-window plan; measures single-pass vs bucketed two-pass wall
   and checks bit-identical outputs (xor-hash).
2. link_prediction on the ~1M-edge skewed graph (stress_graph_ops
   generator) with and without the hub cap — candidate counts + wall.
3. pq_topk at 100k clustered 64-dim vectors: train/encode/search wall
   and recall@10 vs a numpy exact baseline over 500 sampled queries.

Prints one JSON line; paste numbers into BENCH/STRESS.md.
"""

from __future__ import annotations

import json
import os
import sys
import time

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from simkit_spark.session import get_spark  # noqa: E402
from tools.stress_graph_ops import synth_edges  # noqa: E402


def _xor_hash(df, cols):
    r = df.select(
        F.xxhash64(*[F.coalesce(F.col(c).cast("string"), F.lit("<null>")) for c in cols]).alias("h")
    ).agg(F.expr("bit_xor(h)").alias("s")).collect()[0]
    return int(r["s"] or 0)


def stress_asof(spark, n_left=10_000_000, n_right=2_000_000, n_keys=50_000):
    # hot key 0 takes ~20% of rows on both sides
    def keyed(n, seed):
        return (
            spark.range(n)
            .select(
                F.col("id"),
                F.when(
                    F.pmod(F.xxhash64("id", F.lit(seed)), F.lit(5)) == 0, F.lit(0)
                )
                .otherwise(F.pmod(F.xxhash64("id", F.lit(seed + 1)), F.lit(n_keys)))
                .alias("key"),
                F.timestamp_seconds(
                    F.lit(1700000000)
                    + F.pmod(F.xxhash64("id", F.lit(seed + 2)), F.lit(30 * 86400))
                ).alias("ts"),
            )
        )

    from simkit_spark.operators.asof import asof_join

    left = keyed(n_left, 1).localCheckpoint()
    right = keyed(n_right, 7).select(
        "key", F.col("ts").alias("rts"), F.col("id").alias("rid")
    ).localCheckpoint()
    out = {}
    for label, kw in [
        ("single_pass", {}),
        ("bucketed_1d", {"bucket_secs": 86400}),
    ]:
        t0 = time.time()
        res = asof_join(
            left, right, on="key", left_ts="ts", right_ts="rts",
            payload="rid", tiebreak="rid", **kw,
        )
        h = _xor_hash(res, ["id", "key", "rid"])
        out[label] = {"secs": round(time.time() - t0, 1), "hash": h}
    out["identical"] = out["single_pass"]["hash"] == out["bucketed_1d"]["hash"]
    return out


def stress_linkpred(spark, n_nodes=100_000, out_deg=10):
    from simkit_spark.operators.linkpred import link_prediction

    edges = synth_edges(spark, n_nodes, out_deg).localCheckpoint()
    m = edges.count()
    out = {"edges": m}
    for label, kw in [("uncapped", {}), ("hub_cap_256", {"max_degree": 256})]:
        t0 = time.time()
        n = link_prediction(edges, min_cn=2, **kw).count()
        out[label] = {"secs": round(time.time() - t0, 1), "candidates": n}
    return out


def stress_pq(spark, n=100_000, dim=64, n_query_sample=500):
    import pandas as pd

    from simkit_spark.functions.pq import pq_topk

    # clustered vectors: 5000 seeded centers + per-id jitter, built
    # distributed from hash expressions (deterministic)
    rng = np.random.default_rng(7)
    centers = rng.normal(size=(5000, dim))
    bcent = spark.sparkContext.broadcast(centers)

    def gen(it):
        for pdf in it:
            ids = pdf["id"].to_numpy()
            # jitter re-derived from ids, so output is partitioning-free
            c = bcent.value[ids % 5000]
            jit = np.stack(
                [np.random.default_rng(int(i)).normal(scale=0.15, size=dim) for i in ids]
            )
            yield pd.DataFrame({"id": ids, "vec": list(c + jit)})

    emb = (
        spark.range(n)
        .repartition(64)
        .mapInPandas(gen, "id long, vec array<double>")
        .localCheckpoint()
    )
    t0 = time.time()
    res = pq_topk(emb, k=10, m=16, n_centroids=256, rescore=8, seed=42)
    got = (
        res.groupBy("src").agg(F.collect_list("dst").alias("dsts"))
        .where(F.pmod(F.xxhash64("src"), F.lit(n // n_query_sample)) == 0)
        .toPandas()
    )
    secs = round(time.time() - t0, 1)
    # exact baseline for the sampled queries, numpy driver-side
    allv = emb.orderBy("id").toPandas()
    mat = np.array(allv["vec"].tolist())
    mat = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    ids = allv["id"].to_numpy()
    hits = tot = 0
    for _, row in got.iterrows():
        q = mat[np.searchsorted(ids, row["src"])]
        cos = mat @ q
        cos[np.searchsorted(ids, row["src"])] = -np.inf
        order = np.lexsort((ids, -cos))[:10]
        exact = set(ids[order])
        hits += len(exact & set(row["dsts"]))
        tot += 10
    return {"n": n, "secs": secs, "recall_at_10": round(hits / tot, 4),
            "queries_sampled": len(got)}


def main():
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = get_spark("stress_new_ops", master=f"local[{cpus}]", shuffle_partitions=int(cpus))
    res = {
        "asof": stress_asof(spark),
        "linkpred": stress_linkpred(spark),
        "pq": stress_pq(spark),
    }
    print(json.dumps(res))


if __name__ == "__main__":
    main()
