"""Stress kg.rule_mining at >=10M triples with real chain structure
(r4 VERDICT Next-round #2).

The stress_kg.py generator keeps subjects and objects in disjoint id
spaces, so its chain pair space is zero — fine for cards/cooccurrence,
useless for composition mining. This generator draws BOTH roles from
one 2M-entity space:

  subj = e:<pmod(h1, N)>     obj = e:<pmod(h2, N)>
  pred = p<floor(log2(1 + pmod(h3, 2^20)))>   (geometric skew: p19
         carries ~half the triples, p0 a handful — so many (p1, p2)
         pairs have chain pair space BELOW min_support and the exact
         pruning bound sum_z in_{p1}(z)*out_{p2}(z) does real work)

plus two correlated predicates (dup_p18 duplicates 2% of p18, inv_p18
reverses 2%) so same/inverse rules genuinely survive, and four 50k-
out-degree mega entities that the max_join_degree cap must erase.

Reports: wall time, pair-space sum + pair count before/after pruning,
surviving rule count, and the scoring invariants. Paste the JSON into
BENCH/STRESS.md.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from simkit_spark.session import get_spark  # noqa: E402


def synth_chain_triples(spark, n: int, n_ent: int, mega: int = 4, mega_deg: int = 50_000):
    base = spark.range(n).select(
        F.concat(F.lit("e:"), F.pmod(F.xxhash64("id", F.lit(1)), F.lit(n_ent)).cast("string")).alias("subj"),
        F.concat(
            F.lit("p"),
            F.floor(F.log2(F.lit(1) + F.pmod(F.xxhash64("id", F.lit(3)), F.lit(1 << 20)))).cast("int").cast("string"),
        ).alias("pred"),
        F.concat(F.lit("e:"), F.pmod(F.xxhash64("id", F.lit(2)), F.lit(n_ent)).cast("string")).alias("obj"),
    )
    p18 = base.where(F.col("pred") == "p18")
    dup = p18.where(F.pmod(F.xxhash64("subj", "obj"), F.lit(50)) == 0).select(
        "subj", F.lit("dup_p18").alias("pred"), "obj"
    )
    inv = p18.where(F.pmod(F.xxhash64("subj", "obj"), F.lit(50)) == 1).select(
        F.col("obj").alias("subj"), F.lit("inv_p18").alias("pred"), F.col("subj").alias("obj")
    )
    hubs = spark.range(mega * mega_deg).select(
        F.concat(F.lit("mega:"), (F.col("id") % mega).cast("string")).alias("subj"),
        F.lit("p19").alias("pred"),
        F.concat(F.lit("e:"), F.pmod(F.col("id"), F.lit(1_000_000)).cast("string")).alias("obj"),
    )
    return base.unionByName(dup).unionByName(inv).unionByName(hubs)


def main() -> None:
    from simkit_spark.kg import chain_pair_space, rule_mining

    n = int(os.environ.get("STRESS_RULES_N", "10000000"))
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = get_spark("stress-rules", master=f"local[{cpus}]", shuffle_partitions=int(cpus))
    res: dict = {"n_requested": n}

    triples = synth_chain_triples(spark, n, n_ent=2_000_000).localCheckpoint()
    res["n_triples"] = triples.count()

    MIN_SUPPORT, MIN_CONF, CAP = 50, 0.01, 1000

    # pair-space accounting: the space the z-join WOULD traverse with
    # no pruning vs what survives the exact bound
    t0 = time.time()
    ps = chain_pair_space(triples, max_join_degree=CAP).localCheckpoint()
    row = ps.agg(
        F.count(F.lit(1)).alias("pairs"), F.sum("pspace").alias("space")
    ).first()
    surv = ps.where(F.col("pspace") >= MIN_SUPPORT).agg(
        F.count(F.lit(1)).alias("pairs"), F.sum("pspace").alias("space")
    ).first()
    res["pairspace_sec"] = round(time.time() - t0, 1)
    res["pairs_before"] = row["pairs"]
    res["space_before"] = int(row["space"])
    res["pairs_after"] = surv["pairs"]
    res["space_after"] = int(surv["space"] or 0)

    t0 = time.time()
    rules = rule_mining(
        triples,
        min_support=MIN_SUPPORT,
        min_confidence=MIN_CONF,
        max_join_degree=CAP,
    ).localCheckpoint()
    res["rules_sec"] = round(time.time() - t0, 1)
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
    # the correlated predicates must be found
    top = {
        (r["rule_type"], r["body1"], r["head"])
        for r in rules.orderBy(F.col("confidence").desc()).limit(10).collect()
    }
    res["found_dup_rule"] = ("same", "dup_p18", "p18") in top or ("same", "p18", "dup_p18") in top
    res["found_inv_rule"] = any(rt == "inverse" for rt, _, _ in top)

    print(json.dumps(res))
    spark.stop()


if __name__ == "__main__":
    main()
