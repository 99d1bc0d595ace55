"""node2vec_walks: hops are real edges, the p/q bias is applied (and
exactly reproduces a pure-python replica of the integer pick rule),
and the output is partition-invariant."""

from __future__ import annotations

import hashlib

from simkit_spark.operators.walks import node2vec_walks


def _md5_score(seed, step, start, w, cur, b):
    key = f"{seed}:{start}:{w}:{step}:{cur}:{b}"
    return int(hashlib.md5(key.encode()).hexdigest()[:8], 16)


def _replica(edges, walk_len, walks_per_node, p_cost, q_cost, seed):
    adj: dict[int, set[int]] = {}
    for s, d in edges:
        if s == d:
            continue
        adj.setdefault(s, set()).add(d)
        adj.setdefault(d, set()).add(s)
    rows = []
    for start in adj:
        for w in range(walks_per_node):
            prev, cur = None, start
            rows.append((start, w, 0, cur))
            for t in range(1, walk_len + 1):
                if t == 1:
                    pick = min(
                        adj[cur],
                        key=lambda b: (_md5_score(seed, t, start, w, cur, b), b),
                    )
                else:
                    def cost(b):
                        if b == prev:
                            return p_cost
                        return 1 if b in adj[prev] else q_cost
                    pick = min(
                        adj[cur],
                        key=lambda b: (
                            _md5_score(seed, t, start, w, cur, b) * cost(b),
                            b,
                        ),
                    )
                prev, cur = cur, pick
                rows.append((start, w, t, cur))
    return sorted(rows)


def _walk_rows(df):
    return sorted(
        (r["start_id"], r["walk"], r["step"], r["node_id"])
        for r in node2vec_walks(df, 5, 2, p_cost=4, q_cost=2, seed=42).collect()
    )


def test_node2vec_matches_python_replica(spark, force_distributed):
    edges = [(i, (i * 3 + 1) % 23) for i in range(23)] + [
        (i, (i + 7) % 23) for i in range(23)
    ]
    edges = [e for e in edges if e[0] != e[1]]
    want = _replica(edges, 5, 2, 4, 2, 42)
    with force_distributed():
        assert _walk_rows(spark.createDataFrame(edges, "src long, dst long")) == want
    # second input: a repeated edge and a self-loop, on both paths
    noisy = spark.createDataFrame(edges + [edges[0], (99, 99)], "src long, dst long")
    with force_distributed():
        assert _walk_rows(noisy) == want
    assert _walk_rows(noisy) == want


def test_node2vec_follows_edges_and_partition_invariant(spark, force_distributed):
    with force_distributed():
        edges = [(i, (i + 1) % 12) for i in range(12)] + [(0, 6), (3, 9)]
        df = spark.createDataFrame(edges, "src long, dst long")
        und = {frozenset(e) for e in edges}
        a = node2vec_walks(df, 4, 2).collect()
        paths: dict[tuple, dict] = {}
        for r in a:
            paths.setdefault((r["start_id"], r["walk"]), {})[r["step"]] = r["node_id"]
        for (start, _), p in paths.items():
            seq = [p[s] for s in sorted(p)]
            assert seq[0] == start and len(seq) == 5
            for x, y in zip(seq, seq[1:]):
                assert frozenset((x, y)) in und
        b = node2vec_walks(df.repartition(7), 4, 2).collect()
        assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_node2vec_bias_changes_walks_and_forced_return(spark, force_distributed):
    # K7: dense enough that p/q weighting actually flips some argmin
    with force_distributed():
        edges = [(a, b) for a in range(7) for b in range(a + 1, 7)]
        df = spark.createDataFrame(edges, "src long, dst long")
        flat = sorted(map(tuple, node2vec_walks(df, 6, 2, p_cost=1, q_cost=1).collect()))
        biased = sorted(map(tuple, node2vec_walks(df, 6, 2, p_cost=40, q_cost=1).collect()))
        assert flat != biased
        # 2-cycle: returning is the ONLY candidate — cost must not exclude it
        two = spark.createDataFrame([(0, 1)], "src long, dst long")
        rows = node2vec_walks(two, 3, 1, p_cost=100).collect()
        seqs = {}
        for r in rows:
            seqs.setdefault(r["start_id"], {})[r["step"]] = r["node_id"]
        assert [seqs[0][s] for s in range(4)] == [0, 1, 0, 1]
