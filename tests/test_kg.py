"""kg.py: relational->triple direct mapping and the KG consumption
operators (predicate stats, meta-paths, k-hop BFS, hubs, co-occurrence
PMI, filtered negative sampling) on hand-built tables with known
answers."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from simkit_spark.kg import (
    cooccurrence_edges,
    khop_reachability,
    meta_path_counts,
    negative_samples,
    predicate_stats,
    relational_triples,
    top_hubs,
)


@pytest.fixture(scope="module")
def kg(spark):
    """2 regions, 2 nations, 2 customers, 2 suppliers, 3 parts,
    3 orders, 5 lineitems — small enough to enumerate by hand."""
    t = {
        "region": spark.createDataFrame(
            [(0, "AMERICA"), (1, "ASIA")], "r_regionkey int, r_name string"
        ),
        "nation": spark.createDataFrame(
            [(0, "US", 0), (1, "JP", 1)],
            "n_nationkey int, n_name string, n_regionkey int",
        ),
        "customer": spark.createDataFrame(
            [(0, "c0", 0, "BUILDING"), (1, "c1", 1, "AUTO")],
            "c_custkey long, c_name string, c_nationkey int, c_mktsegment string",
        ),
        "supplier": spark.createDataFrame(
            [(0, "s0", 0), (1, "s1", 1)],
            "s_suppkey long, s_name string, s_nationkey int",
        ),
        "part": spark.createDataFrame(
            [(0, "BrandA"), (1, "BrandA"), (2, "BrandB")],
            "p_partkey long, p_brand string",
        ),
        "orders": spark.createDataFrame(
            [(0, 0), (1, 0), (2, 1)], "o_orderkey long, o_custkey long"
        ),
        # order 0 holds parts {0,1} (part 0 twice -> distinct collapses),
        # order 1 holds {0,2}, order 2 holds {1}
        "lineitem": spark.createDataFrame(
            [(0, 0, 0), (0, 0, 1), (0, 1, 0), (1, 0, 1), (1, 2, 0), (2, 1, 1)],
            "l_orderkey long, l_partkey long, l_suppkey long",
        ),
    }
    return relational_triples(t).localCheckpoint()


def test_triple_counts_per_predicate(kg):
    by_pred = {r["pred"]: r["cnt"] for r in kg.groupBy("pred").agg(
        F.count(F.lit(1)).alias("cnt")).collect()}
    assert by_pred == {
        "placed_by": 3,
        "contains": 5,      # (0,0),(0,1),(1,0),(1,2),(2,1)
        "supplied_by": 5,   # part0:{s0,s1}, part1:{s0,s1}, part2:{s0}
        "located_in": 4,    # 2 customers + 2 suppliers
        "part_of": 2,
        "in_segment": 2,
        "branded": 3,
    }


def test_predicate_stats_functionality(kg):
    stats = {r["pred"]: r for r in predicate_stats(kg).collect()}
    c = stats["contains"]
    assert (c["n_triples"], c["n_subj"], c["n_obj"]) == (5, 3, 3)
    assert c["functionality"] == round(5 / 3, 6)
    assert stats["placed_by"]["functionality"] == 1.0


def test_meta_path_customer_to_part(kg):
    got = {
        (r["subj"], r["obj"]): r["n_paths"]
        for r in meta_path_counts(
            kg, [("placed_by", True), ("contains", False)]
        ).collect()
    }
    # customer:0 placed orders 0,1 -> parts {0,1} + {0,2}; part 0 via 2 paths
    assert got == {
        ("customer:0", "part:0"): 2,
        ("customer:0", "part:1"): 1,
        ("customer:0", "part:2"): 1,
        ("customer:1", "part:1"): 1,
    }


def test_khop_min_hops(kg):
    # a repeated seed is one seed: one row per entity
    rows = khop_reachability(kg, ["region:0", "region:0"], k=2).collect()
    got = {r["entity"]: r["hop"] for r in rows}
    assert len(rows) == len(got)
    assert got["region:0"] == 0
    assert got["nation:0"] == 1
    # customer:0 and supplier:0 sit in nation:0
    assert got["customer:0"] == 2 and got["supplier:0"] == 2
    assert "order:0" not in got  # hop 3, beyond k=2


def test_khop_directed_respects_orientation(kg):
    # directed: nothing points OUT of region:0 (part_of ends there)
    got = khop_reachability(kg, ["region:0"], k=3, undirected=False).collect()
    assert {r["entity"] for r in got} == {"region:0"}


def test_top_hubs_degree_and_tiebreak(kg):
    rows = top_hubs(kg, n=3).collect()
    # parts 0 and 1 tie at degree 5 -> entity-asc tiebreak orders them
    assert [r["entity"] for r in rows] == ["part:0", "part:1", "customer:0"]
    top = rows[0]
    # part:0: subj of supplied_by x2 + branded x1; obj of contains x2
    assert (top["out_deg"], top["in_deg"], top["degree"]) == (3, 2, 5)


def test_cooccurrence_pmi_exact(kg):
    got = {
        (r["a"], r["b"]): r for r in cooccurrence_edges(kg, "contains").collect()
    }
    # pairs: order0 -> (p0,p1); order1 -> (p0,p2); order2 none
    assert set(got) == {("part:0", "part:1"), ("part:0", "part:2")}
    r = got[("part:0", "part:1")]
    assert r["n_cooccur"] == 1
    # N=3 subjects, c(p0)=2, c(p1)=2 -> pmi = ln(1*3/(2*2))
    assert r["pmi"] == round(math.log(1 * 3.0 / 4), 6)


def test_cooccurrence_degree_cap_drops_hub_subject(kg):
    # cap=1: order 0 (2 parts) and order 1 (2 parts) are dropped,
    # leaving no subject with >=2 objects -> no pairs at all
    assert cooccurrence_edges(kg, "contains", max_per_subject=1).count() == 0


def test_negative_samples_filtered_and_deterministic(kg):
    a = negative_samples(kg, "contains", "part", n_objects=3, n_neg=2, seed=42)
    rows = a.collect()
    # never a true (subj, obj_neg) pair
    true = {(r["subj"], r["obj"]) for r in kg.where(
        F.col("pred") == "contains").select("subj", "obj").collect()}
    assert all((r["subj"], r["obj_neg"]) not in true for r in rows)
    assert all(r["obj_neg"].startswith("part:") for r in rows)
    # per-(triple, j) the draw is a pure hash: re-run is identical
    b = negative_samples(kg, "contains", "part", n_objects=3, n_neg=2, seed=42)
    key = lambda r: (r["subj"], r["obj"], r["j"], r["obj_neg"])  # noqa: E731
    assert sorted(map(key, rows)) == sorted(map(key, b.collect()))
    # different seed draws a different sample set
    c = negative_samples(kg, "contains", "part", n_objects=3, n_neg=2, seed=7)
    assert sorted(map(key, c.collect())) != sorted(map(key, rows))


def test_bgp_match_bindings(kg):
    from simkit_spark.kg import bgp_match

    # orders by customers in region:0, and the parts they contain
    got = {
        (r["c"], r["o"], r["p"])
        for r in bgp_match(
            kg,
            [
                ("?c", "located_in", "?n"),
                ("?n", "part_of", "region:0"),
                ("?o", "placed_by", "?c"),
                ("?o", "contains", "?p"),
            ],
        ).collect()
    }
    # customer:0 is in nation:0/region:0; orders 0 (parts 0,1) and 1 (0,2)
    assert got == {
        ("customer:0", "order:0", "part:0"),
        ("customer:0", "order:0", "part:1"),
        ("customer:0", "order:1", "part:0"),
        ("customer:0", "order:1", "part:2"),
    }


def test_bgp_repeated_variable_in_one_template(spark):
    from simkit_spark.kg import bgp_match

    tri = spark.createDataFrame(
        [("a", "self", "a"), ("a", "self", "b")],
        "subj string, pred string, obj string",
    )
    rows = bgp_match(tri, [("?x", "self", "?x")]).collect()
    assert [r["x"] for r in rows] == ["a"]


def test_bgp_disconnected_raises(kg):
    from simkit_spark.kg import bgp_match

    with pytest.raises(ValueError, match="cartesian"):
        bgp_match(kg, [("?a", "part_of", "?b"), ("?c", "branded", "?d")])


def test_bgp_variable_predicate(kg):
    from simkit_spark.kg import bgp_match

    got = {
        (r["p"], r["x"])
        for r in bgp_match(kg, [("customer:1", "?p", "?x")]).collect()
    }
    assert got == {("located_in", "nation:1"), ("in_segment", "segment:AUTO")}


def test_entity_cards_exact_serialization(kg):
    from simkit_spark.kg import entity_cards

    cards = {r["entity"]: r for r in entity_cards(kg).collect()}
    n1 = cards["nation:1"]
    # nation:1: outgoing part_of region:1; incoming located_in from
    # customer:1 and supplier:1 — facts sorted lexicographically
    assert n1["n_facts"] == 3
    assert n1["card"] == (
        "nation:1 | ^located_in customer:1; ^located_in supplier:1; "
        "part_of region:1"
    )
    fwd = {r["entity"]: r for r in entity_cards(kg, include_reverse=False).collect()}
    assert fwd["nation:1"]["card"] == "nation:1 | part_of region:1"
    assert "nation:1" not in {None} and fwd["nation:1"]["n_facts"] == 1


def test_entity_cards_degree_cap_drops_hub(kg):
    from simkit_spark.kg import entity_cards

    capped = entity_cards(kg, max_degree=4)
    # part:0 and part:1 have degree 5 -> dropped; nation:1 (deg 3) kept
    ents = {r["entity"] for r in capped.collect()}
    assert "part:0" not in ents and "part:1" not in ents
    assert "nation:1" in ents


def test_bgp_optional_extends_without_eliminating(kg):
    from simkit_spark.kg import bgp_match

    # required: every order + its customer; optional: the customer's
    # nation exists for all, but a second optional on a pred customers
    # lack (branded) must null out, not drop rows
    rows = bgp_match(
        kg,
        [("?o", "placed_by", "?c")],
        optional=[("?c", "located_in", "?n"), ("?c", "branded", "?x")],
    ).collect()
    assert len(rows) == 3
    assert all(r["n"] is not None for r in rows)
    assert all(r["x"] is None for r in rows)


def test_bgp_optional_disconnected_raises(kg):
    from simkit_spark.kg import bgp_match

    with pytest.raises(ValueError, match="OPTIONAL"):
        bgp_match(kg, [("?o", "placed_by", "?c")],
                  optional=[("?a", "part_of", "?b")])


def test_degree_profile_counts(kg):
    from simkit_spark.kg import degree_profile

    prof = {(r["kind"], r["side"]): r for r in degree_profile(kg).collect()}
    o = prof[("order", "out")]
    # orders 0/1/2 have out-degree 3/3/2 (placed_by + contains rows)
    assert (o["n_entities"], o["deg_min"], o["deg_max"], o["deg_total"]) == (3, 2, 3, 8)
    assert o["deg_p50"] == 3.0
    # regions only appear as objects
    assert ("region", "out") not in prof
    assert prof[("region", "in")]["n_entities"] == 2


def test_latest_snapshot_picks_latest_and_breaks_ties(spark):
    from datetime import datetime

    from simkit_spark.kg import latest_snapshot

    rows = [
        ("c:1", "p", "x:1", datetime(2024, 1, 1)),
        ("c:1", "p", "x:2", datetime(2024, 3, 1)),   # latest
        ("c:1", "p", "x:9", datetime(2024, 2, 1)),
        ("c:2", "p", "a:1", datetime(2024, 5, 1)),   # tie on ts ->
        ("c:2", "p", "a:2", datetime(2024, 5, 1)),   # largest obj wins
    ]
    df = spark.createDataFrame(rows, "subj string, pred string, obj string, ts timestamp")
    got = {r["subj"]: r["obj"] for r in latest_snapshot(df).collect()}
    assert got == {"c:1": "x:2", "c:2": "a:2"}
    # as_of cutoff excludes the march assertion
    cut = {r["subj"]: r["obj"] for r in latest_snapshot(
        df, as_of=datetime(2024, 2, 15)).collect()}
    assert cut["c:1"] == "x:9"


def test_kg_ops_partition_invariance(kg):
    """Repartitioning the triple table must not change any operator's
    result (the repo-wide determinism contract)."""
    from simkit_spark.kg import cooccurrence_edges, negative_samples, top_hubs

    shuffled = kg.repartition(7)

    def rows(df):
        return sorted(map(tuple, df.collect()))

    assert rows(top_hubs(kg, 5)) == rows(top_hubs(shuffled, 5))
    assert rows(cooccurrence_edges(kg, "contains")) == rows(
        cooccurrence_edges(shuffled, "contains")
    )
    a = negative_samples(kg, "contains", "part", 3, n_neg=2)
    b = negative_samples(shuffled, "contains", "part", 3, n_neg=2)
    assert rows(a) == rows(b)


def test_validate_constraints_each_family(spark):
    from simkit_spark.kg import validate_constraints

    tri = spark.createDataFrame(
        [
            ("order:1", "contains", "part:1"),    # clean
            ("order:1", "contains", "part:2"),
            ("order:1", "contains", "part:3"),    # order:1 exceeds max 2
            ("order:2", "contains", "broken:9"),  # range violation
            ("part:9", "contains", "part:1"),     # domain violation
            ("x:1", "undeclared", "y:1"),         # open-world: passes
        ],
        "subj string, pred string, obj string",
    )
    got = validate_constraints(
        tri, [("contains", "order", "part")], {"contains": 2}
    ).collect()
    kinds = {(r["subj"], r["violation"]) for r in got}
    assert ("part:9", "domain") in kinds
    assert ("order:2", "range") in kinds
    # order:1 holds 3 parts -> every one of its rows flagged
    card = [r for r in got if r["violation"] == "cardinality"]
    assert {r["subj"] for r in card} == {"order:1"} and len(card) == 3
    assert not any(r["pred"] == "undeclared" for r in got)


def test_validate_constraints_clean_graph_is_silent(kg):
    from simkit_spark.kg import validate_constraints

    v = validate_constraints(
        kg,
        [("placed_by", "order", "customer"), ("contains", "order", "part")],
        {"placed_by": 1},
    )
    assert v.count() == 0


def test_validate_constraints_requires_rules(kg):
    from simkit_spark.kg import validate_constraints

    with pytest.raises(ValueError, match="no constraints"):
        validate_constraints(kg, [], None)


def _np_transe_ranks(triples, pred, obj_kind, n_objects, dim, modulus, seed, key_base):
    """Pure-python replica of kg.transe_rank (filtered ranks, IRI tie
    order) — the bit-parity twin for the Spark plan."""
    import hashlib

    def h(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)

    def emb(ent):
        return [h(f"{ent}:{d}:{seed}") % modulus for d in range(dim)]

    base = sorted({(s, o) for s, p, o in triples if p == pred})
    true_tails = {}
    for s, o in base:
        true_tails.setdefault(s, set()).add(o)
    er = emb(pred)
    cands = [f"{obj_kind}:{k + key_base}" for k in range(n_objects)]
    ce = {c: emb(c) for c in cands}
    out = {}
    for s, o in base:
        hr = [a + b for a, b in zip(emb(s), er)]
        st = sum(abs(a - b) for a, b in zip(hr, emb(o)))
        n_better = 0
        for c in cands:
            if c == o or c in true_tails[s]:
                continue
            sc = sum(abs(a - b) for a, b in zip(hr, ce[c]))
            if sc < st or (sc == st and c < o):
                n_better += 1
        out[(s, o)] = (st, n_better + 1)
    return out


def test_transe_rank_matches_python_replica(kg):
    from simkit_spark.kg import transe_rank

    tri = kg  # fixture is already the direct-mapped triple table
    got = {
        (r["subj"], r["obj"]): (r["s_true"], r["rank"])
        for r in transe_rank(
            tri, "located_in", "nation", n_objects=2, dim=4,
            modulus=1000, seed=42, key_base=0,
        ).collect()
    }
    rows = [(r["subj"], r["pred"], r["obj"]) for r in tri.collect()]
    want = _np_transe_ranks(rows, "located_in", "nation", 2, 4, 1000, 42, 0)
    assert got == want
    # every rank within [1, n_objects]; every true triple ranked
    assert all(1 <= rk <= 2 for _, rk in got.values())
    assert set(got) == {(s, o) for s, p, o in rows if p == "located_in"}


def test_transe_rank_filtered_protocol(spark):
    """A subject with several true tails: the other true tails are
    excluded from its ranking (filtered protocol), so a triple whose
    every non-self candidate is a true tail ranks 1."""
    from simkit_spark.kg import transe_rank

    tri = spark.createDataFrame(
        [("s:0", "p", "k:0"), ("s:0", "p", "k:1"), ("s:0", "p", "k:2")],
        "subj string, pred string, obj string",
    )
    out = transe_rank(tri, "p", "k", n_objects=3, dim=4, modulus=1000, seed=7)
    ranks = {r["obj"]: r["rank"] for r in out.collect()}
    assert ranks == {"k:0": 1, "k:1": 1, "k:2": 1}


def test_transe_rank_blocked_candidates_bit_identical(kg):
    """candidate_blocks splits the broadcast, never the result: blocked
    and unblocked plans agree bit-for-bit (the union preserves the
    exactly-n_objects-rows-per-group invariant)."""
    from simkit_spark.kg import transe_rank

    one = sorted(
        map(tuple, transe_rank(kg, "located_in", "nation", 2, seed=42).collect())
    )
    # 3 blocks over 2 candidates clamps to 2 single-candidate blocks
    blocked = sorted(
        map(
            tuple,
            transe_rank(
                kg, "located_in", "nation", 2, seed=42, candidate_blocks=3
            ).collect(),
        )
    )
    assert one == blocked


def test_rdfs_entail_hand_graph(spark):
    """Exercises every rho-df rule at once: subPropertyOf transitivity,
    domain typing, range inherited from a superproperty, and
    subClassOf closure — on a 2-triple instance graph."""
    from simkit_spark.kg import rdfs_entail

    tri = spark.createDataFrame(
        [("order:1", "placed_by", "customer:1"), ("a", "other", "b")],
        "subj string, pred string, obj string",
    )
    schema = [
        ("placed_by", "subPropertyOf", "involves"),
        ("involves", "subPropertyOf", "related_to"),
        ("placed_by", "domain", "Order"),
        ("involves", "range", "Thing"),
        ("Order", "subClassOf", "Entity"),
    ]
    got = {tuple(r) for r in rdfs_entail(tri, schema).collect()}
    assert got == {
        ("order:1", "placed_by", "customer:1"),
        ("a", "other", "b"),
        ("order:1", "involves", "customer:1"),
        ("order:1", "related_to", "customer:1"),
        ("order:1", "type", "Order"),
        ("order:1", "type", "Entity"),
        ("customer:1", "type", "Thing"),
    }


def test_rdfs_entail_idempotent_and_validates(spark):
    from simkit_spark.kg import rdfs_entail

    tri = spark.createDataFrame(
        [("x", "p", "y")], "subj string, pred string, obj string"
    )
    schema = [("p", "domain", "C"), ("C", "subClassOf", "D")]
    once = rdfs_entail(tri, schema)
    twice = rdfs_entail(once, schema)
    assert sorted(map(tuple, once.collect())) == sorted(map(tuple, twice.collect()))
    with pytest.raises(ValueError, match="unknown schema predicate"):
        rdfs_entail(tri, [("p", "inverseOf", "q")])


def test_sameas_canonicalize_chain_rewrite(spark):
    """A 3-long alias chain (a~b, b~c) collapses every mention of
    a/b/c to the lexicographic min; sameAs rows drop; collapsed
    duplicate triples dedup to one row."""
    from simkit_spark.kg import sameas_canonicalize

    tri = spark.createDataFrame(
        [
            ("e:b", "sameAs", "e:a"),
            ("e:c", "sameAs", "e:b"),
            ("e:a", "knows", "f:1"),
            ("e:b", "knows", "f:1"),   # collapses onto the row above
            ("e:c", "knows", "f:2"),
            ("f:1", "likes", "e:c"),   # obj side rewritten
            ("g:9", "knows", "f:1"),   # untouched by the closure
        ],
        "subj string, pred string, obj string",
    )
    got = {tuple(r) for r in sameas_canonicalize(tri).collect()}
    assert got == {
        ("e:a", "knows", "f:1"),
        ("e:a", "knows", "f:2"),
        ("f:1", "likes", "e:a"),
        ("g:9", "knows", "f:1"),
    }


def test_sameas_canonicalize_idempotent_and_direction_free(spark):
    """canonicalize(canonicalize(G)) == canonicalize(G), and the edge
    orientation of the sameAs assertions doesn't matter (equivalence
    closure is symmetric)."""
    from simkit_spark.kg import sameas_canonicalize

    fwd = spark.createDataFrame(
        [
            ("e:2", "sameAs", "e:1"),
            ("e:3", "sameAs", "e:2"),
            ("e:3", "rel", "x:0"),
        ],
        "subj string, pred string, obj string",
    )
    rev = spark.createDataFrame(
        [
            ("e:1", "sameAs", "e:2"),
            ("e:2", "sameAs", "e:3"),
            ("e:3", "rel", "x:0"),
        ],
        "subj string, pred string, obj string",
    )
    once = sameas_canonicalize(fwd)
    assert sorted(map(tuple, once.collect())) == sorted(
        map(tuple, sameas_canonicalize(once).collect())
    ) == sorted(map(tuple, sameas_canonicalize(rev).collect()))
    assert {tuple(r) for r in once.collect()} == {("e:1", "rel", "x:0")}


def test_sameas_canonicalize_no_sameas_is_passthrough(spark):
    from simkit_spark.kg import sameas_canonicalize

    tri = spark.createDataFrame(
        [("a", "p", "b"), ("a", "p", "b"), ("b", "q", "c")],
        "subj string, pred string, obj string",
    )
    got = sorted(map(tuple, sameas_canonicalize(tri).collect()))
    assert got == [("a", "p", "b"), ("b", "q", "c")]


def test_distmult_rank_matches_python_replica(kg):
    """bit-parity of the DistMult scores/ranks vs a hash-replica loop
    (mirrors test_transe_rank_matches_python_replica)."""
    import hashlib

    from simkit_spark.kg import distmult_rank

    def md5l(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)

    def emb(ent, dim=4, mod=1000, seed=42):
        return [md5l(f"{ent}:{d}:{seed}") % mod for d in range(dim)]

    tri = kg  # fixture is already the direct-mapped triple table
    got = {
        (r.subj, r.obj): (r.s_true, r.rank)
        for r in distmult_rank(
            tri, "located_in", "nation", n_objects=2, dim=4,
            modulus=1000, seed=42,
        ).collect()
    }
    base = {
        (r.subj, r.obj)
        for r in tri.where("pred = 'located_in'").select("subj", "obj").collect()
    }
    rel = emb("located_in")
    for (h, t) in base:
        eh = emb(h)
        q = [a * b for a, b in zip(eh, rel)]
        def score(c):
            return sum(a * b for a, b in zip(q, emb(c)))
        s_true = score(t)
        n_better = 0
        for x in range(2):
            c = f"nation:{x}"
            if c == t or (h, c) in base:
                continue
            sc = score(c)
            if sc > s_true or (sc == s_true and c < t):
                n_better += 1
        assert got[(h, t)] == (s_true, n_better + 1), (h, t)


def test_distmult_rank_blocked_candidates_bit_identical(kg):
    from simkit_spark.kg import distmult_rank

    tri = kg
    one = distmult_rank(tri, "located_in", "nation", n_objects=2, dim=4)
    two = distmult_rank(
        tri, "located_in", "nation", n_objects=2, dim=4, candidate_blocks=2
    )
    assert sorted(map(tuple, one.collect())) == sorted(map(tuple, two.collect()))
