"""Stress registry: each entry drives simkit_spark operators past their
test-scale regimes on deterministic synthetic data, checks its
invariants, and returns one dict of sizes, results and walls.

    python tools/stress.py [--scale F] [--list] ENTRY...

One session on local[SPARK_GRAFT_CPUS, else os.cpu_count()] with that
many shuffle partitions runs every named entry in turn and prints one
JSON line per entry; BENCH/STRESS.md records the runs. ``--scale``
multiplies every row, node, doc and triple count of an entry (1 = the
sizes BENCH/STRESS.md reports); degrees, k, band widths, sample strides
and probe/build ratios are entry constants. Every input is an md5 /
xxhash / seeded-numpy expression, so a run is reproducible at any
partitioning. tests/test_stress.py runs each entry at its ``small``
scale, the least at which its assertions still hold.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import math
import os
import sys
import time
from unittest.mock import patch

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np  # noqa: E402
import pandas as pd  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from simkit_spark import kg  # noqa: E402
from simkit_spark.corpus import synthesize  # noqa: E402
from simkit_spark.functions.blocking import sorted_neighborhood_pairs  # noqa: E402
from simkit_spark.functions.bloomjoin import bloom_build, bloom_semijoin  # noqa: E402
from simkit_spark.functions.curation import kcenter_sample, priority_sample  # noqa: E402
from simkit_spark.functions.events import temporal_reachability  # noqa: E402
from simkit_spark.functions.hybrid import hybrid_rrf_topk  # noqa: E402
from simkit_spark.functions.pq import pq_topk  # noqa: E402
from simkit_spark.functions.sketch import (  # noqa: E402
    cms_build,
    cms_estimate,
    hll_distinct_by,
)
from simkit_spark.functions.text import bm25_topk, bpe_train, lm_score  # noqa: E402
from simkit_spark.operators import centrality, eigen, nndescent  # noqa: E402
from simkit_spark.operators.anf import neighborhood_function  # noqa: E402
from simkit_spark.operators.asof import asof_join  # noqa: E402
from simkit_spark.operators.components import connected_components  # noqa: E402
from simkit_spark.operators.densest import densest_subgraph_rounds  # noqa: E402
from simkit_spark.operators.graphs import symmetrize, undirected  # noqa: E402
from simkit_spark.operators.graphstats import degree_assortativity  # noqa: E402
from simkit_spark.operators.hits import hits  # noqa: E402
from simkit_spark.operators.intervaljoin import self_overlap_pairs  # noqa: E402
from simkit_spark.operators.kcore import kcore  # noqa: E402
from simkit_spark.operators.kernels import pairwise_topk  # noqa: E402
from simkit_spark.operators.labelprop import label_propagation  # noqa: E402
from simkit_spark.operators.laplacian import laplacian  # noqa: E402
from simkit_spark.operators.linkpred import link_prediction  # noqa: E402
from simkit_spark.operators.mis import maximal_independent_set  # noqa: E402
from simkit_spark.operators.mst import minimum_spanning_forest  # noqa: E402
from simkit_spark.operators.pagerank import pagerank  # noqa: E402
from simkit_spark.operators.pca import fit_pca, transform_pca  # noqa: E402
from simkit_spark.operators.scc import strongly_connected_components  # noqa: E402
from simkit_spark.operators.triangles import (  # noqa: E402
    sampled_triangle_total,
    triangle_counts,
)
from simkit_spark.operators.truss import ktruss  # noqa: E402
from simkit_spark.operators.walks import node2vec_walks, random_walks  # noqa: E402
from simkit_spark.pipeline import link as link_stage  # noqa: E402
from simkit_spark.pipeline.embed import auto_dim, embed_distinct_surfaces  # noqa: E402
from simkit_spark.pipeline.extract import detect_mentions, explode_spans  # noqa: E402
from simkit_spark.session import get_spark  # noqa: E402
from simkit_spark.util import materialize  # noqa: E402

ENTRIES: dict = {}

# dispatch budgets for ``forced``: -1 rows sends every size-dispatched
# operator down its distributed path; LOCAL keeps a ~1M-edge graph on
# its driver twin
DIST, LOCAL = -1, 10_000_000


def entry(small: float):
    """Register ``fn(spark, scale) -> dict`` under its name, with the
    least scale at which its assertions still hold."""

    def register(fn):
        fn.small = small
        ENTRIES[fn.__name__] = fn
        return fn

    return register


def _n(count: int, scale: float) -> int:
    return max(1, round(count * scale))


@contextlib.contextmanager
def forced(rows: int):
    """Inside, every size-dispatched operator sees a local budget of
    ``rows`` (``simkit_spark.util.local_dispatch_rows`` patched)."""
    with patch("simkit_spark.util.local_dispatch_rows", lambda *a, **k: rows):
        yield


@contextlib.contextmanager
def timed(res: dict, key: str, digits: int = 2):
    """Store the block's wall seconds in ``res[key]``."""
    t0 = time.time()
    yield
    res[key] = round(time.time() - t0, digits)


def _xor_hash(df, cols) -> int:
    """Order-free content hash of ``df[cols]``: bit_xor of row xxhashes."""
    r = df.select(
        F.xxhash64(
            *[F.coalesce(F.col(c).cast("string"), F.lit("<null>")) for c in cols]
        ).alias("h")
    ).agg(F.expr("bit_xor(h)").alias("s")).collect()[0]
    return int(r["s"] or 0)


# ---------------------------------------------------------------- data


def hub_edges(spark, n_nodes: int, out_deg: int = 10, seed: int = 42):
    """``out_deg`` out-edges per node, dst = xxhash64(src, j, seed) mod
    n, with a hot head: a dst that is 0 mod 32 is folded into the first
    1% of ids, so in-degree is skewed (hubs ~1k at 100k nodes)."""
    return (
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


def dout_edges(spark, n: int, deg: int):
    """``deg`` multiply-shift out-edges per node (id * (2j+1) + 7919(j+1)
    mod n), unit weights."""
    parts = [
        spark.range(n).select(
            F.col("id").alias("src"),
            F.pmod(F.col("id") * (2 * j + 1) + 7919 * (j + 1), F.lit(n)).alias("dst"),
            F.lit(1.0).alias("weight"),
        )
        for j in range(deg)
    ]
    e = parts[0]
    for p in parts[1:]:
        e = e.unionByName(p)
    return e.where(F.col("src") != F.col("dst"))


def kg_triples(spark, n: int, n_ent: int, chain: bool = False, mega: int = 4,
               mega_deg: int = 50_000):
    """n hub-skewed triples plus ``mega`` subjects of out-degree
    ``mega_deg``, the degenerate case the degree caps exist for.

    Default: subject s:<i mod n_ent>, predicate p<i mod 5>; 10% of
    objects hit 1k hot o:<..>, the rest spread over n_ent/2 cold ones —
    subjects and objects never meet, so there are no chains.
    ``chain``: both roles drawn from one e:<..> space of n_ent, predicate
    p<floor(log2(1 + h mod 2^20))> (p19 carries ~half the triples, p0 a
    handful), plus dup_p18 / inv_p18 copying / reversing 2% of p18 each,
    so same, inverse and chain rules all exist."""
    if chain:
        def ent(salt):
            return F.concat(
                F.lit("e:"),
                F.pmod(F.xxhash64("id", F.lit(salt)), F.lit(n_ent)).cast("string"),
            )

        base = spark.range(n).select(
            ent(1).alias("subj"),
            F.concat(
                F.lit("p"),
                F.floor(
                    F.log2(F.lit(1) + F.pmod(F.xxhash64("id", F.lit(3)), F.lit(1 << 20)))
                ).cast("int").cast("string"),
            ).alias("pred"),
            ent(2).alias("obj"),
        )
        p18 = base.where(F.col("pred") == "p18")
        pick = F.pmod(F.xxhash64("subj", "obj"), F.lit(50))
        dup = p18.where(pick == 0).select("subj", F.lit("dup_p18").alias("pred"), "obj")
        inv = p18.where(pick == 1).select(
            F.col("obj").alias("subj"), F.lit("inv_p18").alias("pred"),
            F.col("subj").alias("obj"),
        )
        base = base.unionByName(dup).unionByName(inv)
        hub_pred = "p19"
        hub_obj = F.concat(F.lit("e:"), F.pmod(F.col("id"), F.lit(1_000_000)).cast("string"))
    else:
        def obj(salt, space):
            return F.concat(
                F.lit("o:"),
                F.pmod(F.xxhash64("id", F.lit(salt)), F.lit(space)).cast("string"),
            )

        base = spark.range(n).select(
            F.concat(F.lit("s:"), (F.col("id") % n_ent).cast("string")).alias("subj"),
            F.concat(F.lit("p"), (F.col("id") % 5).cast("string")).alias("pred"),
            F.when(F.xxhash64("id") % 10 == 0, obj(1, 1000))
            .otherwise(obj(2, n_ent // 2))
            .alias("obj"),
        )
        hub_pred = "p0"
        hub_obj = F.concat(F.lit("o:"), F.col("id").cast("string"))
    hubs = spark.range(mega * mega_deg).select(
        F.concat(F.lit("mega:"), (F.col("id") % mega).cast("string")).alias("subj"),
        F.lit(hub_pred).alias("pred"),
        hub_obj.alias("obj"),
    )
    return base.unionByName(hubs)


def blobs(spark, n: int, dim: int = 64, n_blobs: int = 100, seed: int = 7,
          parts: int = 32):
    """(id, vec): n points around ``n_blobs`` seeded N(0, 10) centers."""
    rng = np.random.default_rng(seed)
    centers = rng.normal(0, 10, (n_blobs, dim))
    ids = np.arange(n)
    vecs = centers[ids % n_blobs] + rng.normal(0, 1, (n, dim))
    rows = [(int(i), v.tolist()) for i, v in zip(ids, vecs)]
    return spark.createDataFrame(rows, "id long, vec array<double>").repartition(
        parts
    ).localCheckpoint()


def docs(spark, n_docs: int, n_tok, word):
    """(id, text): doc i is the words w<word(i, j)> for j < ``n_tok``
    (an int, or a Column for per-doc lengths), space-joined."""
    return spark.range(n_docs).select(
        "id",
        F.concat_ws(
            " ",
            F.transform(
                F.sequence(F.lit(0), F.lit(n_tok) - 1),
                lambda j: F.concat(F.lit("w"), word(F.col("id"), j)),
            ),
        ).alias("text"),
    )


# ---------------------------------------------------------------- entries


@entry(small=0.01)
def eigensolve(spark, scale):
    """Distributed eigensolve past eigen.MAX_LOCAL_NODES on a
    symmetrized d-out graph: the top eigenvalue of D^-1/2 A D^-1/2 is
    exactly 1, a built-in check at any scale; sweeps count _gram calls."""
    n, deg, k = _n(100_000, scale), 10, 4
    lap = laplacian(symmetrize(dout_edges(spark, n, deg)), "sym").localCheckpoint()
    res = {"nodes": n, "sym_edge_rows": lap.count(), "k": k}
    sweeps = []
    gram = eigen._gram

    def counting_gram(*a, **kw):
        sweeps.append(1)
        return gram(*a, **kw)

    with patch.object(eigen, "_gram", counting_gram), timed(res, "eigensolve_s", 1):
        with forced(DIST):
            x, lam = eigen.eigensolve(lap, k=k, max_iter=60, tol=1e-7, seed=42)
        res["x_rows"] = x.count()
    res["sweeps"] = len(sweeps)
    res["top_eig"] = float(lam[-1])
    res["top_eig_err"] = abs(float(lam[-1]) - 1.0)
    assert res["top_eig_err"] < 1e-4, lam
    return res


@entry(small=0.01)
def pagerank_lpa_triangles_hits(spark, scale):
    """Distributed PageRank, label propagation and HITS (forced past
    their twins), exact triangle counts and the DOULION p=1/4 estimate
    on the hub-skewed graph."""
    n_nodes = _n(100_000, scale)
    edges = hub_edges(spark, n_nodes, 10).localCheckpoint()
    res = {"nodes": n_nodes, "edges": edges.count()}

    with timed(res, "pagerank_dist_secs"):
        with forced(DIST):
            pr = pagerank(edges, n_iter=10)
        res["pagerank_mass"] = round(float(pr.agg(F.sum("rank")).first()[0]), 6)

    with timed(res, "lpa_secs"):
        with forced(DIST):
            lp = label_propagation(edges, n_iter=5)
        res["lpa_communities"] = int(
            lp.select(F.count_distinct("community")).first()[0]
        )

    with timed(res, "triangles_secs"):
        tc = triangle_counts(edges)
        res["triangles_total_corner_sum"] = int(tc.agg(F.sum("triangles")).first()[0])

    # the corner sum counts each triangle 3x, so 3 * the DOULION
    # estimate should land near it (unbiased; variance ~ 1/(p^3 T))
    with timed(res, "doulion_secs"):
        st = sampled_triangle_total(edges, num=1, den=4).first()
    res["doulion_edges"] = int(st["n_edges_sampled"])
    res["doulion_estimate_corner_sum"] = round(3.0 * st["tri_estimate"], 1)

    # exact-integer sweeps; hub and authority L1 masses are each ~1
    with timed(res, "hits_secs"):
        with forced(DIST):
            ha = hits(edges, n_iter=5)
        masses = ha.agg(F.sum("hub"), F.sum("authority")).first()
    res["hits_hub_mass"] = round(float(masses[0]), 6)
    res["hits_auth_mass"] = round(float(masses[1]), 6)
    return res


@entry(small=0.001)
def kg_operators(spark, scale):
    """kg.py on hub-skewed triples (10M at scale 1): top_hubs, 2-hop
    reach from a hub, degree-capped entity cards, co-occurrence with the
    mega subjects capped away, negative samples, blocked TransE ranking
    over a 10k-candidate space, and RDFS entailment of every triple."""
    n_ent = _n(2_000_000, scale)
    tri = kg_triples(spark, _n(10_000_000, scale), n_ent).localCheckpoint()
    res = {"n_triples": tri.count()}

    with timed(res, "top_hubs_s"):
        hubs = kg.top_hubs(tri, n=20).collect()
    res["top_hub_degree"] = hubs[0]["degree"]

    seed = hubs[0]["entity"] if hubs[0]["entity"].startswith("o:") else "o:0"
    with timed(res, "khop2_s"):
        res["khop2_rows"] = kg.khop_reachability(tri, [seed], k=2).count()

    with timed(res, "cards_s"):
        res["cards_rows"] = kg.entity_cards(tri, max_degree=2000).count()

    # the 50k-degree mega subjects are dropped before the self-join, so
    # the pair count stays at the base graph's level (not +4 * C(50k, 2))
    with timed(res, "cooc_s"):
        res["cooc_pairs"] = kg.cooccurrence_edges(
            tri, "p0", max_per_subject=1000, min_count=2
        ).count()

    with timed(res, "neg_s"):
        res["neg_rows"] = kg.negative_samples(
            tri, "p0", "o", n_objects=n_ent // 2, n_neg=1
        ).count()

    # scored stream = |distinct p1 triples| x 10k candidates, blocked 4
    # ways: the candidates-broadcast regime
    with timed(res, "transe_s"):
        res["transe_rows"] = kg.transe_rank(
            tri.where(F.col("subj").startswith("s:")).limit(_n(200_000, scale)),
            "p1", "o", n_objects=10_000, dim=8, candidate_blocks=4,
        ).count()

    # 5-property hierarchy + domain/range typing: every triple is
    # re-derived under a superproperty, plus 2-level type rows
    schema = [
        ("p0", "subPropertyOf", "rel"), ("p1", "subPropertyOf", "rel"),
        ("rel", "subPropertyOf", "any"),
        ("p0", "domain", "class:S"), ("p0", "range", "class:O"),
        ("class:S", "subClassOf", "class:E"), ("class:O", "subClassOf", "class:E"),
    ]
    with timed(res, "rdfs_s"):
        res["rdfs_rows"] = kg.rdfs_entail(tri, schema).count()
    return res


def _asof(spark, scale):
    n_keys = _n(50_000, scale)

    def keyed(n, seed):
        # hot key 0 takes ~20% of rows on both sides
        return spark.range(n).select(
            "id",
            F.when(F.pmod(F.xxhash64("id", F.lit(seed)), F.lit(5)) == 0, F.lit(0))
            .otherwise(F.pmod(F.xxhash64("id", F.lit(seed + 1)), F.lit(n_keys)))
            .alias("key"),
            F.timestamp_seconds(
                F.lit(1700000000)
                + F.pmod(F.xxhash64("id", F.lit(seed + 2)), F.lit(30 * 86400))
            ).alias("ts"),
        )

    left = keyed(_n(10_000_000, scale), 1).localCheckpoint()
    right = keyed(_n(2_000_000, scale), 7).select(
        "key", F.col("ts").alias("rts"), F.col("id").alias("rid")
    ).localCheckpoint()
    out = {}
    for label, kw in [("single_pass", {}), ("bucketed_1d", {"bucket_secs": 86400})]:
        out[label] = {}
        with timed(out[label], "secs", 1):
            joined = asof_join(
                left, right, on="key", left_ts="ts", right_ts="rts",
                payload="rid", tiebreak="rid", **kw,
            )
            out[label]["hash"] = _xor_hash(joined, ["id", "key", "rid"])
    out["identical"] = out["single_pass"]["hash"] == out["bucketed_1d"]["hash"]
    assert out["identical"], out
    return out


def _linkpred(spark, scale):
    edges = hub_edges(spark, _n(100_000, scale), 10).localCheckpoint()
    out = {"edges": edges.count()}
    for label, kw in [("uncapped", {}), ("hub_cap_256", {"max_degree": 256})]:
        out[label] = {}
        with timed(out[label], "secs", 1):
            out[label]["candidates"] = link_prediction(edges, min_cn=2, **kw).count()
    return out


def _pq(spark, scale, dim=64, stride=200):
    n = _n(100_000, scale)
    # 5000 seeded centers + per-id jitter re-derived from the id, so the
    # vectors are partitioning-free
    centers = np.random.default_rng(7).normal(size=(5000, dim))
    bcent = spark.sparkContext.broadcast(centers)

    def gen(it):
        for pdf in it:
            ids = pdf["id"].to_numpy()
            jit = np.stack(
                [np.random.default_rng(int(i)).normal(scale=0.15, size=dim) for i in ids]
            )
            yield pd.DataFrame({"id": ids, "vec": list(bcent.value[ids % 5000] + jit)})

    emb = (
        spark.range(n).repartition(64)
        .mapInPandas(gen, "id long, vec array<double>")
        .localCheckpoint()
    )
    out = {"n": n}
    with timed(out, "secs", 1):
        got = (
            pq_topk(emb, k=10, m=16, n_centroids=256, rescore=8, seed=42)
            .groupBy("src").agg(F.collect_list("dst").alias("dsts"))
            .where(F.pmod(F.xxhash64("src"), F.lit(stride)) == 0)
            .toPandas()
        )
    # exact top-10 of the sampled queries, numpy on the driver
    allv = emb.orderBy("id").toPandas()
    mat = np.array(allv["vec"].tolist())
    mat = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    ids = allv["id"].to_numpy()
    hits_ = tot = 0
    for _, row in got.iterrows():
        qi = np.searchsorted(ids, row["src"])
        cos = mat @ mat[qi]
        cos[qi] = -np.inf
        exact = set(ids[np.lexsort((ids, -cos))[:10]])
        hits_ += len(exact & set(row["dsts"]))
        tot += 10
    out["recall_at_10"] = round(hits_ / tot, 4)
    out["queries_sampled"] = len(got)
    return out


@entry(small=0.01)
def asof_linkpred_pq(spark, scale):
    """asof_join with one hot key holding ~20% of rows (single pass vs
    1-day buckets, outputs bit-identical), link_prediction with and
    without the hub cap, and pq_topk recall@10 against exact cosine."""
    return {
        "asof": _asof(spark, scale),
        "linkpred": _linkpred(spark, scale),
        "pq": _pq(spark, scale),
    }


@entry(small=0.01)
def nn_descent(spark, scale):
    """NN-descent against the exact block kernel: both at 10k blob
    points (recall), NN-descent alone at 50k (the exact kernel's 1.25e9
    pairs is the job it replaces), recall sampled over 200 probes."""
    res = {}
    n1 = _n(10_000, scale)
    df = blobs(spark, n1)
    with timed(res, "exact_10k_secs"):
        exact = pairwise_topk(df, 10, "euclidean").select("src", "dst")
        ex = {(r.src, r.dst) for r in exact.collect()}
    with timed(res, "nnd_10k_secs"):
        nnd = nndescent.nn_descent(df, k=10, id_space=n1, n_iter=5, cap=25, seed=42)
        got = {(r.src, r.dst) for r in nnd.select("src", "dst").collect()}
    res["nnd_10k_recall"] = round(len(got & ex) / len(ex), 4)

    n2 = _n(50_000, scale)
    df2 = blobs(spark, n2)
    with timed(res, "nnd_50k_secs"):
        nnd2 = nndescent.nn_descent(df2, k=10, id_space=n2, n_iter=5, cap=25, seed=42)
        res["nnd_50k_rows"] = nnd2.count()
    # exact top-10 of 200 probes by a driver scan, against the graph rows
    probes = [int(x) for x in np.random.default_rng(1).choice(n2, 200, False)]
    pv = {r.id: np.array(r.vec) for r in df2.where(F.col("id").isin(probes)).collect()}
    allv = df2.collect()
    mat = np.array([r.vec for r in allv])
    ids = np.array([r.id for r in allv])
    gset = {
        (r.src, r.dst)
        for r in nnd2.where(F.col("src").isin(probes)).select("src", "dst").collect()
    }
    hits_ = tot = 0
    for p, v in pv.items():
        order = np.lexsort((ids, np.sqrt(((mat - v) ** 2).sum(axis=1))))
        top = [int(ids[i]) for i in order if int(ids[i]) != p][:10]
        hits_ += sum((p, t) in gset for t in top)
        tot += len(top)
    res["nnd_50k_sampled_recall"] = round(hits_ / tot, 4)
    return res


@entry(small=0.01)
def kcore_walks_lm(spark, scale):
    """Distributed kcore on the hub-skewed graph, kcore dispatch parity
    (forced distributed vs the numpy twin, xor-hash) on a half-size
    graph, random walks, and lm_score over a 120-token word-salad
    corpus (10k-word vocabulary)."""
    n_nodes = _n(100_000, scale)
    edges = hub_edges(spark, n_nodes, 10).localCheckpoint()
    res = {"nodes": n_nodes, "edges": edges.count()}

    with timed(res, "kcore_dist_secs"), forced(DIST):
        kd = kcore(edges, k=8, n_iter=10)
    res["kcore_survivors"] = kd.count()

    bedges = hub_edges(spark, n_nodes // 2, 8).localCheckpoint()
    res["boundary_edges"] = bedges.count()
    with timed(res, "kcore_boundary_dist_secs"), forced(DIST):
        hb_d = _xor_hash(kcore(bedges, k=8, n_iter=10), ["id", "core_deg"])
    with timed(res, "kcore_boundary_local_secs"), forced(LOCAL):
        hb_l = _xor_hash(kcore(bedges, k=8, n_iter=10), ["id", "core_deg"])
    res["kcore_paths_identical"] = hb_d == hb_l
    assert res["kcore_paths_identical"], (hb_d, hb_l)

    with timed(res, "walks_secs"):
        with forced(DIST):
            w = random_walks(edges, walk_len=4, walks_per_node=1)
        res["walk_rows"] = w.count()

    corpus = docs(
        spark, _n(1_000_000, scale), 120,
        lambda i, j: F.pmod(F.xxhash64(i, j), F.lit(10_000)).cast("string"),
    ).select(F.col("id").cast("string").alias("doc_id"), "text").localCheckpoint()
    with timed(res, "lm_secs"):
        agg = lm_score(corpus).agg(
            F.count(F.lit(1)).alias("n"), F.avg("lm_logprob").alias("mean")
        ).collect()[0]
    res["lm_docs"] = int(agg["n"])
    res["lm_mean_logprob"] = round(float(agg["mean"]), 4)
    return res


@entry(small=0.001)
def interval_blocking_sampling(spark, scale):
    """Interval self-overlap join with one hub user owning 2% of the
    intervals, sorted-neighborhood blocking (window 6), and priority
    sampling of 10k rows by weight."""
    n = _n(5_000_000, scale)
    res = {"rows": n}

    # starts over 30 days, durations 0..2h, 1h buckets
    base = spark.range(n).select(
        "id",
        F.when(F.pmod(F.xxhash64("id", F.lit(1)), F.lit(50)) == 0, F.lit(0))
        .otherwise(F.pmod(F.xxhash64("id", F.lit(2)), F.lit(_n(100_000, scale))))
        .alias("user_id"),
        F.pmod(F.xxhash64("id", F.lit(3)), F.lit(30 * 86400)).alias("start0"),
    )
    iv = base.select(
        "user_id", "id", F.col("start0").alias("start"),
        (F.col("start0") + F.pmod(F.xxhash64("id", F.lit(4)), F.lit(7200))).alias("end"),
    ).localCheckpoint()
    with timed(res, "interval_s"):
        res["interval_pairs"] = self_overlap_pairs(
            iv, ["user_id"], bucket_width=3600
        ).count()

    recs = spark.range(n).select(
        "id",
        F.md5(F.concat_ws(":", F.col("id").cast("string"), F.lit("key"))).alias("key"),
    ).localCheckpoint()
    with timed(res, "sn_s"):
        res["sn_pairs"] = sorted_neighborhood_pairs(recs, "key", "id", window=6).count()

    weighted = spark.range(n).select(
        F.col("id").alias("doc_id"),
        (F.lit(100) + F.pmod(F.xxhash64("id", F.lit(5)), F.lit(10_000))).alias("n_chars"),
    ).localCheckpoint()
    with timed(res, "ps_s"):
        agg = priority_sample(weighted, "n_chars", k=10_000).agg(
            F.sum("w_est"), F.count(F.lit(1))
        ).first()
        res["ps_rows"] = int(agg[1])
        res["ps_est_total"] = int(agg[0])
        res["ps_true_total"] = int(weighted.agg(F.sum("n_chars")).first()[0])
    return res


@entry(small=0.01)
def node2vec_harmonic_bm25(spark, scale):
    """Distributed node2vec walks (rows = walkers x 5: no walk dies on a
    symmetrized graph), sampled-source harmonic centrality (every value
    in (0, 256]), and BM25 top-10 over a Zipf-ish corpus (each query term
    has <= 10 rows, densely ranked)."""
    n_nodes = _n(100_000, scale)
    edges = hub_edges(spark, n_nodes, 10).localCheckpoint()
    res = {"nodes": n_nodes, "edges": edges.count()}

    with timed(res, "node2vec_secs"):
        with forced(DIST):
            w = node2vec_walks(edges, walk_len=4, walks_per_node=2)
        res["node2vec_rows"] = w.count()
    n_started = w.where(F.col("step") == 0).count()
    assert res["node2vec_rows"] == n_started * 5, (res["node2vec_rows"], n_started)

    with timed(res, "harmonic_secs"):
        stats = centrality.harmonic_centrality(edges, max_hops=4, n_sources=256).agg(
            F.count(F.lit(1)).alias("n"),
            F.max("harmonic").alias("mx"),
            F.min("harmonic").alias("mn"),
            F.max("n_reached").alias("mr"),
        ).first()
    res["harmonic_nodes_touched"] = stats["n"]
    res["harmonic_max"] = float(stats["mx"])
    assert 0 < stats["mn"] and stats["mx"] <= 256 and stats["mr"] <= 256

    # 11-50 tokens per doc from a 50k-word vocabulary, Zipf-ish
    corpus = docs(
        spark, _n(1_000_000, scale), F.pmod(F.xxhash64("id"), F.lit(40)) + 11,
        lambda i, j: F.pmod(
            F.pmod(F.xxhash64(i, j, F.lit(7)), F.lit(50000))
            * F.pmod(F.xxhash64(j, F.lit(9)), F.lit(223)),
            F.lit(50000),
        ),
    ).select(F.col("id").cast("string").alias("doc_id"), "text").localCheckpoint()
    res["docs"] = corpus.count()
    with timed(res, "bm25_secs"):
        bm = bm25_topk(corpus, n_queries=20, k=10).localCheckpoint()
    res["bm25_rows"] = bm.count()
    per_term = bm.groupBy("term").agg(F.count(F.lit(1)).alias("c"), F.max("rank").alias("r"))
    assert per_term.where((F.col("c") > 10) | (F.col("c") != F.col("r"))).count() == 0
    return res


@entry(small=0.001)
def cms_bloom_hybrid(spark, scale):
    """Count-Min over ~50 tokens a doc (every row holds every occurrence;
    no under-count), a Bloomjoin of a 20x probe side against the build
    keys (no false negatives; false-positive rate within 3x of
    (1 - e^(-kn/m))^k), and hybrid RRF over docs with 64-dim embeddings
    (dense ranks 1..k per query, self never retrieved)."""
    n_docs, n_build = _n(1_000_000, scale), _n(1_000_000, scale)
    n_probe = 20 * n_build
    res = {"n_docs": n_docs, "n_probe": n_probe, "n_build": n_build}

    # term id = (id*50+i) mod a rank-skewed bucket: heavy head
    toks = spark.range(n_docs).select(
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(49)),
                lambda i: F.concat(
                    F.lit("t"),
                    (
                        F.pmod(F.col("id") * 50 + i, F.lit(997))
                        * F.pmod(F.col("id") + i, F.lit(7))
                        / F.lit(6)
                    ).cast("long"),
                ),
            )
        ).alias("term")
    )
    with timed(res, "cms_build_secs"):
        sketch = cms_build(toks, "term", depth=4, width=8192).localCheckpoint()
    mass = sketch.groupBy("row").agg(F.sum("cnt").alias("m")).collect()
    assert len({r.m for r in mass}) == 1, mass
    res["cms_occurrences"] = int(mass[0].m)
    exact = (
        toks.groupBy("term").agg(F.count(F.lit(1)).alias("exact"))
        .orderBy(F.desc("exact"), F.asc("term")).limit(50).localCheckpoint()
    )
    with timed(res, "cms_probe_secs"):
        est = cms_estimate(sketch, exact, "term", depth=4, width=8192)
        over = exact.join(est, "term").select(
            F.min(F.col("est") - F.col("exact")).alias("mn"),
            F.max(F.col("est") - F.col("exact")).alias("mx"),
        ).first()
    assert over.mn >= 0, over
    res["cms_max_overshoot"] = int(over.mx)

    m_bits, k_hashes = 1 << 24, 4
    build = spark.range(n_build).select((F.col("id") * 7).alias("k"))
    probe = spark.range(n_probe).select(
        F.pmod(F.col("id") * 13, F.lit(n_build * 14)).alias("k")
    )
    with timed(res, "bloom_build_secs"):
        bloom = bloom_build(build, "k", m_bits=m_bits, k_hashes=k_hashes).localCheckpoint()
    res["bloom_bits_set"] = bloom.count()
    with timed(res, "bloom_probe_secs"):
        n_pass = bloom_semijoin(probe, bloom, "k", k_hashes=k_hashes, m_bits=m_bits).count()
    res["bloom_pass_rows"] = n_pass
    n_member = probe.join(build.hint("shuffle_hash"), "k", "left_semi").count()
    res["bloom_member_rows"] = n_member
    assert n_pass >= n_member
    fp_rate = (n_pass - n_member) / max(1, n_probe - n_member)
    bound = (1.0 - math.exp(-k_hashes * n_build / m_bits)) ** k_hashes
    res["bloom_fp_rate"] = round(fp_rate, 6)
    res["bloom_fp_bound"] = round(bound, 6)
    assert fp_rate <= 3 * bound + 1e-6, (fp_rate, bound)

    text = docs(
        spark, n_docs, 20, lambda i, j: F.pmod(i * 31 + j * 97, F.lit(5000))
    ).select(F.col("id").alias("doc_id"), "text")
    emb = spark.range(n_docs).select(
        F.col("id").alias("vec_id"),
        F.transform(
            F.sequence(F.lit(0), F.lit(63)),
            lambda i: (F.pmod(F.col("id") * 131 + i * 17, F.lit(1000)) / F.lit(500.0))
            - F.lit(1.0),
        ).alias("embedding"),
    )
    with timed(res, "hybrid_secs"):
        rows = hybrid_rrf_topk(text, emb, n_queries=8, k_lex=50, k_dense=50, k=10).collect()
    res["hybrid_rows"] = len(rows)
    by_q = {}
    for r in rows:
        by_q.setdefault(r.q, []).append(r)
    assert len(by_q) == 8
    for q, rs in by_q.items():
        assert sorted(r.rank for r in rs) == list(range(1, len(rs) + 1))
        assert all(r.doc_id != q for r in rs)
    return res


@entry(small=0.01)
def ktruss_mis_assortativity(spark, scale):
    """Distributed k-truss peeling on a banded graph (a non-trivial
    nucleus survives), distributed Luby MIS on the hub-skewed graph (no
    edge inside the set; undrained count 0 = maximal), and degree
    assortativity (r in [-1, 1] over the deduplicated edges)."""
    n_nodes, band = _n(100_000, scale), 10
    edges = hub_edges(spark, n_nodes, 10).localCheckpoint()
    res = {"nodes": n_nodes, "edge_rows": edges.count()}
    und = undirected(edges)
    res["edges_undirected"] = und.count()

    # a uniform graph this sparse has ~no triangles, so its truss is
    # empty after one sweep; on the band dst = src+1..src+B an edge of
    # span g closes ~2(B-g) triangles and peeling takes several sweeps.
    # 5% of the band is rewired to hashed destinations.
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
    with timed(res, "ktruss_secs"):
        with forced(DIST):
            kt = ktruss(banded, k=2 * band // 3, n_iter=6).persist()
        res["ktruss_rows"] = kt.count()
    res["ktruss_min_sup"] = kt.agg(F.min("sup")).collect()[0][0]
    assert 0 < res["ktruss_rows"] < res["banded_edge_rows"]
    assert kt.where(F.col("sup") < 0).count() == 0

    with timed(res, "mis_secs"):
        with forced(DIST):
            mis = maximal_independent_set(edges, n_iter=8, seed=42).persist()
        res["mis_rows"] = mis.count()
    res["mis_max_sweep"] = mis.agg(F.max("sweep")).collect()[0][0]
    in_u = und.join(mis.select(F.col("id").alias("u")), "u", "leftsemi")
    in_v = und.join(mis.select(F.col("id").alias("v")), "v", "leftsemi")
    viol = in_u.join(mis.select(F.col("id").alias("v")), "v", "leftsemi").count()
    assert viol == 0, f"{viol} MIS-internal edges"
    # undrained: nodes neither selected nor next to a selected node
    nodes = und.select(F.col("u").alias("id")).union(
        und.select(F.col("v").alias("id"))
    ).distinct()
    nbrs = in_u.select(F.col("v").alias("id")).union(in_v.select(F.col("u").alias("id")))
    res["mis_undrained"] = (
        nodes.join(mis.select("id"), "id", "left_anti")
        .join(nbrs, "id", "left_anti")
        .count()
    )

    with timed(res, "assort_secs"):
        row = degree_assortativity(edges).collect()[0]
    res["assortativity"] = row.assortativity
    assert row.n_edges == res["edges_undirected"]
    assert row.assortativity is None or -1.0 <= row.assortativity <= 1.0
    return res


@entry(small=0.01)
def anf_scc_rules_kcenter_bpe(spark, scale):
    """Distributed HyperANF (N(0) = n exactly, N(h) nondecreasing) and
    FW-BW SCC (each endpoint labeled once by its least member; equal to
    the Tarjan twin) on the hub-skewed graph, rule mining over it as
    triples (scores in [0, 1]), k-center over 16-dim vectors (radii
    non-increasing), and BPE training (merge counts positive)."""
    n_nodes = _n(100_000, scale)
    edges = hub_edges(spark, n_nodes, 10).localCheckpoint()
    res = {"nodes": n_nodes, "edge_rows": edges.count()}

    with timed(res, "hyperanf_sec", 1), forced(DIST):
        nf = neighborhood_function(edges, max_h=3, p=6).collect()
    curve = sorted((r["h"], r["n_pairs"]) for r in nf)
    res["hyperanf_curve"] = [c for _, c in curve]
    assert curve[0][1] == n_nodes, curve
    assert all(a[1] <= b[1] for a, b in zip(curve, curve[1:])), curve
    assert all(r["frac"] <= 1.0 for r in nf)

    with timed(res, "scc_sec", 1), forced(DIST):
        scc = strongly_connected_components(edges).localCheckpoint()
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
    with forced(LOCAL):
        loc = strongly_connected_components(edges)
    assert (
        scc.exceptAll(loc).count() == 0 and loc.exceptAll(scc).count() == 0
    ), "FW-BW vs Tarjan mismatch"
    res["scc_parity"] = "exact"

    triples = edges.select(
        F.concat(F.lit("e"), F.col("src").cast("string")).alias("subj"),
        F.concat(
            F.lit("p"), F.pmod(F.xxhash64("src", F.lit(7)), F.lit(5)).cast("string")
        ).alias("pred"),
        F.concat(F.lit("e"), F.col("dst").cast("string")).alias("obj"),
    ).localCheckpoint()
    with timed(res, "rules_sec", 1):
        rules = kg.rule_mining(
            triples, min_support=50, min_confidence=0.01, max_join_degree=500
        ).collect()
    res["rules_found"] = len(rules)
    for r in rules:
        assert 0.0 <= r["confidence"] <= 1.0 and 0.0 <= r["head_coverage"] <= 1.0
        assert r["support"] <= r["body_size"] and r["support"] <= r["head_size"]

    emb = spark.range(_n(500_000, scale)).select(
        "id",
        F.transform(
            F.sequence(F.lit(0), F.lit(15)),
            lambda j: F.pmod(F.xxhash64("id", j, F.lit(1)), F.lit(1000)) / 1000.0,
        ).alias("vec"),
    ).localCheckpoint()
    with timed(res, "kcenter_sec", 1):
        ks = kcenter_sample(emb, k=8).collect()
    radii = [r["radius"] for r in sorted(ks, key=lambda r: r["step"])][1:]
    assert all(a >= b for a, b in zip(radii, radii[1:])), radii
    assert len({r["id"] for r in ks}) == 8
    res["kcenter_radius_final"] = round(radii[-1], 4)

    corpus = docs(
        spark, _n(200_000, scale), 30,
        lambda i, j: F.pmod(F.xxhash64(i, j, F.lit(3)), F.lit(5000)).cast("string"),
    ).select("text").localCheckpoint()
    with timed(res, "bpe_sec", 1):
        merges = sorted(bpe_train(corpus, n_merges=6).collect(), key=lambda r: r["step"])
    res["bpe_merges"] = [(r["lhs"], r["rhs"], r["n"]) for r in merges]
    assert all(r["n"] > 0 for r in merges)
    return res


@entry(small=0.01)
def components_mst_densest_temporal(spark, scale):
    """Distributed Borůvka MSF (edges = nodes - components; equal to
    the Kruskal twin), densest-subgraph peeling (node count strictly
    falls, density positive), and temporal reachability over hashed
    contacts (arrivals >= 0; seed {0}'s reach within seeds {0, 1}'s)."""
    n_nodes = _n(100_000, scale)
    edges = hub_edges(spark, n_nodes, 10).localCheckpoint()
    weighted = edges.select(
        "src", "dst",
        (F.pmod(F.xxhash64("src", "dst", F.lit(9)), F.lit(100000)) / 100.0).alias("weight"),
    ).localCheckpoint()
    res = {"nodes": n_nodes, "edge_rows": edges.count()}

    with timed(res, "msf_sec", 1), forced(DIST):
        msf = minimum_spanning_forest(weighted).localCheckpoint()
    res["msf_edges"] = msf.count()
    nodes = (
        edges.select(F.col("src").alias("id"))
        .union(edges.select(F.col("dst").alias("id")))
        .distinct()
        .count()
    )
    comps = (
        connected_components(edges.select("src", "dst"))
        .select("component").distinct().count()
    )
    assert res["msf_edges"] == nodes - comps, (res["msf_edges"], nodes, comps)
    with timed(res, "msf_local_sec", 1):
        with forced(LOCAL):
            loc = minimum_spanning_forest(weighted)
        assert msf.exceptAll(loc).count() == 0 and loc.exceptAll(msf).count() == 0
    res["msf_parity"] = "exact"

    with timed(res, "densest_sec", 1):
        rounds = densest_subgraph_rounds(edges, max_rounds=40).collect()
    traj = sorted((r["round"], r["n_nodes"], r["density"]) for r in rounds)
    res["densest_rounds"] = len(traj)
    res["densest_best"] = max(r["density"] for r in rounds)
    assert all(a[1] > b[1] for a, b in zip(traj, traj[1:])), traj
    assert all(r["density"] > 0 for r in rounds)

    contacts = spark.range(_n(5_000_000, scale)).select(
        F.pmod(F.xxhash64("id", F.lit(1)), F.lit(n_nodes)).alias("src"),
        F.pmod(F.xxhash64("id", F.lit(2)), F.lit(n_nodes)).alias("dst"),
        F.pmod(F.xxhash64("id", F.lit(3)), F.lit(1_000_000)).alias("t"),
    ).where(F.col("src") != F.col("dst")).localCheckpoint()
    with timed(res, "temporal_sec", 1):
        reach0 = temporal_reachability(contacts, seeds=[0]).localCheckpoint()
    res["temporal_reached"] = reach0.count()
    assert reach0.where(F.col("arrival") < 0).count() == 0
    both = temporal_reachability(contacts, seeds=[0, 1])
    assert reach0.select("id").exceptAll(both.select("id")).count() == 0, (
        "seed-0 reach must be a subset of seed-{0,1} reach"
    )
    res["temporal_reached_2seeds"] = both.count()
    return res


@entry(small=0.01)
def stress_centrality(spark, scale):
    """Bounded stress centrality from 32 md5-sampled sources, 4 hops
    (scores are integers >= 0), and per-node monotone when the sample
    doubles from 16 (a prefix of the 32) to 32."""
    n_nodes = _n(100_000, scale)
    edges = hub_edges(spark, n_nodes, 10).localCheckpoint()
    res = {"nodes": n_nodes, "edge_rows": edges.count()}

    with timed(res, "stress_sec_32src", 1):
        s32 = centrality.stress_centrality(edges, max_hops=4, n_sources=32).localCheckpoint()
    res["nodes_scored"] = s32.count()
    res["positive_stress_nodes"] = s32.where(F.col("stress") > 0).count()
    assert s32.where(F.col("stress") < 0).count() == 0
    top = s32.orderBy(F.col("stress").desc()).limit(3).collect()
    res["top_stress"] = [int(r["stress"]) for r in top]

    with timed(res, "stress_sec_16src", 1):
        s16 = centrality.stress_centrality(edges, max_hops=4, n_sources=16)
    dec = (
        s32.withColumnRenamed("stress", "s32")
        .join(s16.withColumnRenamed("stress", "s16"), "id")
        .where(F.col("s16") > F.col("s32"))
        .count()
    )
    assert dec == 0, f"{dec} nodes lost stress when doubling sources"
    res["monotone_16_to_32"] = True
    return res


@entry(small=0.001)
def hll_pca(spark, scale):
    """Distributed PCA over 64-dim vectors with a geometric variance
    spectrum (recovered in order), and per-group HLL at p=12 over rows
    in 11 log-skewed groups (the hot group within 10% of its ~all-of-
    the-value-space distinct count; registers <= 2^p)."""
    res: dict = {}
    d = 64
    emb = spark.range(_n(2_000_000, scale)).select(
        "id",
        F.array(
            *[
                (F.pmod(F.xxhash64("id", F.lit(j)), F.lit(100_000)) / 50_000.0 - 1.0)
                * float(8.0 / (1 + j))
                for j in range(d)
            ]
        ).alias("vec"),
    ).repartition(64).localCheckpoint()
    with timed(res, "pca_fit_sec", 1):
        model = fit_pca(emb, k=8)
    lam = model["explained_variance"]
    assert all(a >= b for a, b in zip(lam, lam[1:])), "eigvals not sorted"
    # the top principal direction aligns with dimension 0, the next with 1, ...
    comps = np.abs(np.asarray(model["components"]))
    assert list(np.argmax(comps, axis=0)[:4]) == [0, 1, 2, 3], comps.argmax(axis=0)[:8]
    with timed(res, "pca_transform_sec", 1):
        res["pca_rows"] = transform_pca(emb, model, whiten=True).count()
    res["pca_top_eigvals"] = [round(float(v), 2) for v in lam[:4]]

    # group g<k> holds ~2^k / 2^10 of the rows (the hot one ~half)
    n_vals = _n(5_000_000, scale)
    rows = spark.range(_n(50_000_000, scale)).select(
        F.concat(
            F.lit("g"),
            F.floor(
                F.log2(F.lit(1) + F.pmod(F.xxhash64("id", F.lit(1)), F.lit(1 << 10)))
            ).cast("int").cast("string"),
        ).alias("grp"),
        F.pmod(F.xxhash64("id", F.lit(2)), F.lit(n_vals)).alias("val"),
    )
    with timed(res, "hll_by_sec", 1):
        sk = hll_distinct_by(rows, "val", ["grp"], p=12).collect()
    res["hll_groups"] = len(sk)
    # the hot group draws ~5x the value space, so nearly every value;
    # HLL at p=12 has ~1.6% standard error
    hot = max(sk, key=lambda r: r["est_distinct"])
    res["hll_hot_group"] = hot["grp"]
    res["hll_hot_est"] = hot["est_distinct"]
    assert abs(hot["est_distinct"] - n_vals) / n_vals < 0.10, hot
    assert all(r["n_filled"] <= (1 << 12) for r in sk)
    return res


@entry(small=0.001)
def rule_mining(spark, scale):
    """kg.rule_mining over chain-structured triples: pair-space sum and
    count before / after the exact support bound, rules found (scores
    within their bounds), and whether the dup_p18 / inv_p18 correlations
    surface."""
    n = _n(10_000_000, scale)
    res: dict = {"n_requested": n}
    triples = kg_triples(spark, n, _n(2_000_000, scale), chain=True).localCheckpoint()
    res["n_triples"] = triples.count()
    min_support, min_conf, cap = 50, 0.01, 1000

    # the space the z-join would traverse unpruned vs what survives
    with timed(res, "pairspace_sec", 1):
        ps = kg.chain_pair_space(triples, max_join_degree=cap).localCheckpoint()
        space = F.sum("pspace").alias("space")
        row = ps.agg(F.count(F.lit(1)).alias("pairs"), space).first()
        surv = ps.where(F.col("pspace") >= min_support).agg(
            F.count(F.lit(1)).alias("pairs"), space
        ).first()
    res["pairs_before"] = row["pairs"]
    res["space_before"] = int(row["space"])
    res["pairs_after"] = surv["pairs"]
    res["space_after"] = int(surv["space"] or 0)

    with timed(res, "rules_sec", 1):
        rules = kg.rule_mining(
            triples, min_support=min_support, min_confidence=min_conf,
            max_join_degree=cap,
        ).localCheckpoint()
    res["n_rules"] = rules.count()
    res["n_chain_rules"] = rules.where(F.col("rule_type") == "chain").count()
    bad = rules.where(
        (F.col("support") > F.col("body_size"))
        | (F.col("support") > F.col("head_size"))
        | (F.col("confidence") < 0)
        | (F.col("confidence") > 1)
        | (F.col("head_coverage") < 0)
        | (F.col("head_coverage") > 1)
    ).count()
    assert bad == 0, f"{bad} rules violate scoring invariants"
    res["invariants"] = "ok"
    top = {
        (r["rule_type"], r["body1"], r["head"])
        for r in rules.orderBy(F.col("confidence").desc()).limit(10).collect()
    }
    res["found_dup_rule"] = bool(
        {("same", "dup_p18", "p18"), ("same", "p18", "dup_p18")} & top
    )
    res["found_inv_rule"] = any(rt == "inverse" for rt, _, _ in top)
    return res


@entry(small=0.01)
def link(spark, scale):
    """link_entities on the pipeline's own surfaces (40k docs / 8k
    entities at scale 1, extract and embed as the pipeline runs them):
    the driver twin, then the distributed LSH path with each step
    materialized as it is built and timed; the entity maps are equal."""
    n_docs, n_ent = _n(40_000, scale), _n(8_000, scale)
    documents, _ = synthesize(spark, n_docs=n_docs, n_entities=n_ent)
    mentions = materialize(detect_mentions(explode_spans(documents), with_pred=True))
    dim = auto_dim(mentions.agg(F.approx_count_distinct("surface")).first()[0])
    surfaces = materialize(embed_distinct_surfaces(mentions, dim))
    res = {"docs": n_docs, "entities": n_ent, "dim": dim,
           "mentions": mentions.count(), "surfaces": surfaces.count()}

    with timed(res, "link_local_s"), forced(res["surfaces"] + 1):
        local = _entity_map(surfaces, mentions, dim)

    def step(name, key):
        fn = getattr(link_stage, name)

        def run(*a, **kw):
            with timed(res, f"{key}_s"):
                out = materialize(fn(*a, **kw))
            res[f"{key}_rows"] = out.count()
            return out

        return run

    steps = {
        "candidate_pairs": step("candidate_pairs", "candidate_pairs"),
        "similarity_edges": step("similarity_edges", "similarity_edges"),
        "connected_components": step("connected_components", "components"),
        "refine_components": step("refine_components", "refine_components"),
    }
    with timed(res, "link_dist_s"), forced(DIST), patch.multiple(link_stage, **steps):
        dist = _entity_map(surfaces, mentions, dim)
    res["entity_ids"] = len({r[2] for r in dist})
    assert dist == local, "distributed and driver entity maps differ"
    return res


def _entity_map(surfaces, mentions, dim) -> list:
    rows = link_stage.link_entities(surfaces, mentions, dim).collect()
    return sorted(tuple(r) for r in rows)


def main(argv=None) -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--scale", type=float, default=1.0,
                    help="multiplies every row/node/doc/triple count")
    ap.add_argument("--list", action="store_true", help="name every entry and stop")
    ap.add_argument("entries", nargs="*", metavar="ENTRY")
    args = ap.parse_args(argv)
    if args.list:
        for name, fn in ENTRIES.items():
            print(f"{name}: {' '.join(fn.__doc__.split())}")
        return
    unknown = [e for e in args.entries if e not in ENTRIES]
    if unknown or not args.entries:
        ap.error(f"name entries from --list (unknown: {unknown})")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count())
    spark = get_spark("stress", master=f"local[{cpus}]", shuffle_partitions=cpus)
    try:
        for name in args.entries:
            res = ENTRIES[name](spark, args.scale)
            print(json.dumps({"entry": name, "scale": args.scale, "cpus": cpus, **res}),
                  flush=True)
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
