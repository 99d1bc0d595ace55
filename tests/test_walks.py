"""random_walks: every hop is a real edge, walks have full length,
md5-hash choice is deterministic / partition-invariant, and distinct
walk indices actually diverge."""

from __future__ import annotations

import pytest

from simkit_spark.operators.walks import random_walks, skipgram_pairs


def _paths(rows):
    """{(start_id, walk): [node_id by step]}"""
    out = {}
    for r in rows:
        out.setdefault((r["start_id"], r["walk"]), {})[r["step"]] = r["node_id"]
    return {
        k: [v[s] for s in sorted(v)] for k, v in out.items()
    }


def test_walks_follow_edges_and_full_length(spark, force_distributed):
    edges = [(i, (i + 1) % 10) for i in range(10)] + [(0, 5), (2, 7)]
    df = spark.createDataFrame(edges, "src long, dst long")
    und = {frozenset(e) for e in edges}
    with force_distributed():
        paths = _paths(random_walks(df, walk_len=5, walks_per_node=3).collect())
    assert len(paths) == 10 * 3
    for (start, _), p in paths.items():
        assert len(p) == 6
        assert p[0] == start
        for a, b in zip(p, p[1:]):
            assert frozenset((a, b)) in und, (p, a, b)


def test_walks_deterministic_and_partition_invariant(spark, force_distributed):
    edges = [(i, (i * 3) % 17) for i in range(17) if i != (i * 3) % 17]
    df = spark.createDataFrame(edges, "src long, dst long")
    with force_distributed():
        a = sorted(map(tuple, random_walks(df, 4, 2).collect()))
        b = sorted(map(tuple, random_walks(df.repartition(7), 4, 2).collect()))
    assert a == b


def test_walk_indices_diverge_and_seed_matters(spark, force_distributed):
    # K6: every node has 5 choices per hop, so identical walks across
    # indices/seeds would mean the hash is ignoring its inputs
    edges = [(a, b) for a in range(6) for b in range(a + 1, 6)]
    df = spark.createDataFrame(edges, "src long, dst long")
    with force_distributed():
        paths = _paths(random_walks(df, walk_len=6, walks_per_node=2).collect())
        other = _paths(
            random_walks(df, walk_len=6, walks_per_node=2, seed=7).collect()
        )
    assert any(paths[(s, 0)] != paths[(s, 1)] for s in range(6))
    assert any(other[k] != paths[k] for k in paths)


def test_isolated_and_selfloop_nodes_excluded(spark, force_distributed):
    df = spark.createDataFrame(
        [(0, 1), (1, 0), (5, 5)], "src long, dst long"
    )
    with force_distributed():
        paths = _paths(random_walks(df, 3, 1).collect())
    assert set(paths) == {(0, 0), (1, 0)}
    # 2-cycle: the only neighbor is the other node — walk must oscillate
    assert paths[(0, 0)] == [0, 1, 0, 1]


def _brute_pairs(paths, window):
    """Reference skip-gram multiset from {(start, walk): [nodes]}."""
    got = {}
    for p in paths.values():
        for i, c in enumerate(p):
            for j in range(max(0, i - window), min(len(p), i + window + 1)):
                if j != i:
                    got[(c, p[j])] = got.get((c, p[j]), 0) + 1
    return got


@pytest.mark.parametrize("window", [1, 2, 10])
def test_skipgram_matches_bruteforce(spark, window, force_distributed):
    # window=10 > walk length: every in-walk pair is a context pair
    edges = [(i, (i + 1) % 10) for i in range(10)] + [(0, 5), (2, 7)]
    df = spark.createDataFrame(edges, "src long, dst long")
    with force_distributed():
        walks = random_walks(df, walk_len=5, walks_per_node=2)
    paths = _paths(walks.collect())
    want = _brute_pairs(paths, window)
    got = {
        (r["center"], r["context"]): r["n_pairs"]
        for r in skipgram_pairs(walks, window).collect()
    }
    assert got == want


def test_skipgram_partition_invariant_and_rejects_bad_window(
    spark, force_distributed
):
    edges = [(i, (i * 3) % 17) for i in range(17) if i != (i * 3) % 17]
    df = spark.createDataFrame(edges, "src long, dst long")
    with force_distributed():
        walks = random_walks(df, 4, 2)
    a = sorted(map(tuple, skipgram_pairs(walks, 2).collect()))
    b = sorted(map(tuple, skipgram_pairs(walks.repartition(5), 2).collect()))
    assert a == b and len(a) > 0
    with pytest.raises(ValueError):
        skipgram_pairs(walks, 0)


def test_random_walks_auto_local_distributed_parity(spark, force_distributed):
    """md5 pick rule is engine-portable: the hashlib twin must equal the
    distributed loop exactly, including (score, id) tiebreaks."""
    import random

    rng = random.Random(5)
    edges = [(rng.randrange(30), rng.randrange(30)) for _ in range(90)]
    df = spark.createDataFrame(edges, "src long, dst long").where("src <> dst")
    with force_distributed():
        a = sorted(map(tuple, random_walks(df, 4, 2).collect()))
    b = sorted(map(tuple, random_walks(df, 4, 2).collect()))
    assert a == b and len(a) > 0


def test_random_walks_auto_string_id_parity(spark, force_distributed):
    """KG IRIs (string ids) through the driver twin: cast-to-string key
    formatting and lexicographic tiebreaks must match the engine."""
    import random

    rng = random.Random(6)
    edges = [
        (f"ent:{rng.randrange(20)}", f"ent:{rng.randrange(20)}") for _ in range(60)
    ]
    df = spark.createDataFrame(edges, "src string, dst string").where("src <> dst")
    with force_distributed():
        a = sorted(map(tuple, random_walks(df, 3, 2).collect()))
    b = sorted(map(tuple, random_walks(df, 3, 2).collect()))
    assert a == b and len(a) > 0


def test_node2vec_auto_local_distributed_parity(spark, force_distributed):
    """All-integer md5*cost pick: the twin must reproduce the p/q bias,
    the distance-1 membership probe, and the step-1 uniform hop."""
    import random

    from simkit_spark.operators.walks import node2vec_walks

    rng = random.Random(7)
    edges = [(rng.randrange(25), rng.randrange(25)) for _ in range(80)]
    df = spark.createDataFrame(edges, "src long, dst long").where("src <> dst")
    for p, q in ((4, 2), (1, 9)):
        with force_distributed():
            a = sorted(
                map(tuple, node2vec_walks(df, 4, 2, p_cost=p, q_cost=q).collect())
            )
        b = sorted(
            map(tuple, node2vec_walks(df, 4, 2, p_cost=p, q_cost=q).collect())
        )
        assert a == b and len(a) > 0, (p, q)


def test_node2vec_auto_string_id_parity(spark, force_distributed):
    import random

    from simkit_spark.operators.walks import node2vec_walks

    rng = random.Random(8)
    edges = [
        (f"e:{rng.randrange(18)}", f"e:{rng.randrange(18)}") for _ in range(50)
    ]
    df = spark.createDataFrame(edges, "src string, dst string").where("src <> dst")
    with force_distributed():
        a = sorted(map(tuple, node2vec_walks(df, 3, 2).collect()))
    b = sorted(map(tuple, node2vec_walks(df, 3, 2).collect()))
    assert a == b and len(a) > 0


def test_walks_auto_empty_edges_schema(spark):
    """Empty edge list: derive the id type from the input (the
    pagerank empty-path lesson), return zero rows, never crash."""
    from simkit_spark.operators.walks import node2vec_walks

    for id_t in ("long", "string"):
        df = spark.createDataFrame([], f"src {id_t}, dst {id_t}")
        out = random_walks(df, 3, 2)
        assert out.count() == 0
        assert out.schema["start_id"].dataType == df.schema["src"].dataType
        out2 = node2vec_walks(df, 3, 2)
        assert out2.count() == 0
        assert out2.schema["node_id"].dataType == df.schema["src"].dataType


def test_walks_auto_forced_distributed_matches_local(spark, force_distributed):
    """force_distributed sends the same auto entrypoint down the
    distributed path
    — the dispatch itself must be invisible."""
    edges = [(i, (i + 1) % 12) for i in range(12)] + [(0, 6), (3, 9)]
    df = spark.createDataFrame(edges, "src long, dst long")
    with force_distributed():
        a = sorted(map(tuple, random_walks(df, 4, 2).collect()))
    b = sorted(map(tuple, random_walks(df, 4, 2).collect()))
    assert a == b


def test_node2vec_auto_forced_distributed_matches_local(spark, force_distributed):
    """force_distributed sends node2vec down its distributed branch
    (arg threading p_cost/q_cost/seed) against the twin."""
    from simkit_spark.operators.walks import node2vec_walks

    edges = [(i, (i + 1) % 14) for i in range(14)] + [(0, 7), (3, 10)]
    df = spark.createDataFrame(edges, "src long, dst long")
    with force_distributed():
        a = sorted(
            map(tuple, node2vec_walks(df, 4, 2, p_cost=7, q_cost=3).collect())
        )
    b = sorted(map(tuple, node2vec_walks(df, 4, 2, p_cost=7, q_cost=3).collect()))
    assert a == b and len(a) > 0


def test_walks_auto_output_amplification_guard(spark, monkeypatch):
    """A graph inside the input budget but whose walk OUTPUT explodes
    past it must dispatch distributed (never a multi-GB driver tuple
    build): the 12-pair probe fits the 130-row budget, but the
    amplified output bound 2*12*2*7 = 336 > 130 makes the twin
    decline."""
    edges = [(i, i + 1) for i in range(12)]
    df = spark.createDataFrame(edges, "src long, dst long")
    with monkeypatch.context() as mp:
        mp.setattr("simkit_spark.util.local_dispatch_rows", lambda *a, **k: 130)
        guarded = random_walks(df, walk_len=6, walks_per_node=2)
    plan = guarded._jdf.queryExecution().executedPlan().toString()
    assert "Union" in plan  # distributed step-union, not a local scan
    local = random_walks(df, walk_len=6, walks_per_node=2)
    assert sorted(map(tuple, guarded.collect())) == sorted(
        map(tuple, local.collect())
    )
