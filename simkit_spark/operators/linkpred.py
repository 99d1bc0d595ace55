"""Link prediction over the similarity graph: common-neighbors,
Jaccard, and Adamic-Adar scores for non-adjacent node pairs.

KG-completion companion to the entity-linking pipeline: after
canonicalization, high-scoring non-edges are merge/relation candidates
the linker's distance threshold missed. Same wedge-generation core as
triangle counting (`operators/triangles.py`): every candidate pair is
the two endpoints of a wedge, so the join cost is sum(deg(v)^2) over
wedge centers — bounded by n*k^2 on a k-NN graph. On graphs with hubs,
``max_degree`` drops wedge CENTERS above the cap (standard practice:
a million-neighbor hub contributes ~10^12 wedges and near-zero
Adamic-Adar weight, 1/ln(deg)), keeping the self-join sub-quadratic;
endpoint degrees still count every edge, so surviving scores are exact.

All joins are equi-joins on node ids (shuffle-partitioned; the degree
side broadcasts when small) — no cartesian, no window over the full
pair space.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .graphs import undirected


def link_prediction(
    edges: DataFrame,
    min_cn: int = 2,
    max_degree: int | None = None,
) -> DataFrame:
    """(src, dst) directed/undirected edge list -> candidate non-edges
    (u, w, cn, jaccard, adamic_adar), u < w, cn >= ``min_cn``.

    jaccard = cn / (deg(u) + deg(w) - cn); adamic_adar =
    sum over common neighbors v of 1/ln(deg(v)). Existing edges are
    anti-joined away. Self-loops ignored.
    """
    ue = undirected(edges)
    und = ue.unionByName(ue.select(F.col("v").alias("u"), F.col("u").alias("v")))
    deg = und.groupBy("u").agg(F.count("*").alias("deg")).withColumnRenamed("u", "id")
    # wedge centers carry their own degree for the Adamic-Adar term;
    # the optional cap prunes hub centers BEFORE the quadratic self-join
    ctr = und.join(deg.withColumnRenamed("id", "u"), "u")
    if max_degree is not None:
        ctr = ctr.where(F.col("deg") <= max_degree)
    a = ctr.select(F.col("u").alias("c"), F.col("v").alias("x"), "deg")
    b = ctr.select(F.col("u").alias("c"), F.col("v").alias("y"))
    wedges = a.join(b, "c").where(F.col("x") < F.col("y"))
    scored = wedges.groupBy(F.col("x").alias("u"), F.col("y").alias("w")).agg(
        F.count("*").cast("long").alias("cn"),
        F.sum(F.lit(1.0) / F.log(F.col("deg"))).alias("adamic_adar"),
    )
    cand = scored.join(
        ue.select(F.col("u"), F.col("v").alias("w")), ["u", "w"], "left_anti"
    ).where(F.col("cn") >= min_cn)
    du = deg.select(F.col("id").alias("u"), F.col("deg").alias("deg_u"))
    dw = deg.select(F.col("id").alias("w"), F.col("deg").alias("deg_w"))
    return cand.join(du, "u").join(dw, "w").select(
        "u",
        "w",
        "cn",
        (F.col("cn") / (F.col("deg_u") + F.col("deg_w") - F.col("cn"))).alias(
            "jaccard"
        ),
        "adamic_adar",
    )
