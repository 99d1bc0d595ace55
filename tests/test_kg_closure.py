from __future__ import annotations

import pytest

from simkit_spark.kg import transitive_closure


def _triples(spark, edges, pred="p"):
    return spark.createDataFrame(
        [(s, pred, o) for s, o in edges], "subj string, pred string, obj string"
    )


CHAIN = [("a", "b"), ("b", "c"), ("c", "d"), ("x", "c")]
# expected closure of CHAIN with min hops
CHAIN_TC = {
    ("a", "b", 1), ("a", "c", 2), ("a", "d", 3),
    ("b", "c", 1), ("b", "d", 2),
    ("c", "d", 1),
    ("x", "c", 1), ("x", "d", 2),
}


def _as_set(df):
    return {(r["subj"], r["obj"], r["hops"]) for r in df.collect()}


def test_closure_chain_local(spark):
    got = _as_set(transitive_closure(_triples(spark, CHAIN)))
    assert got == CHAIN_TC


def test_closure_chain_distributed_parity(spark, force_distributed):
    # force the semi-naive distributed loop; must agree bit-for-bit
    with force_distributed():
        got = _as_set(transitive_closure(_triples(spark, CHAIN)))
    assert got == CHAIN_TC


def test_closure_cycle_terminates(spark, force_distributed):
    # a->b->c->a: closure is all 9 ordered pairs minus... none — every
    # node reaches every node including itself around the loop
    tc = transitive_closure(_triples(spark, [("a", "b"), ("b", "c"), ("c", "a")]))
    got = _as_set(tc)
    exp = {
        ("a", "b", 1), ("a", "c", 2), ("a", "a", 3),
        ("b", "c", 1), ("b", "a", 2), ("b", "b", 3),
        ("c", "a", 1), ("c", "b", 2), ("c", "c", 3),
    }
    assert got == exp
    # distributed path must terminate (anti-join stops re-derivation)
    with force_distributed():
        tc = transitive_closure(_triples(spark, [("a", "b"), ("b", "c"), ("c", "a")]))
    assert _as_set(tc) == exp


def test_closure_pred_filter(spark):
    t = spark.createDataFrame(
        [("a", "p", "b"), ("b", "q", "c")], "subj string, pred string, obj string"
    )
    got = _as_set(transitive_closure(t, preds=["p"]))
    assert got == {("a", "b", 1)}
    # both predicates: the heterogeneous chain composes
    got2 = _as_set(transitive_closure(t, preds=["p", "q"]))
    assert got2 == {("a", "b", 1), ("b", "c", 1), ("a", "c", 2)}


def test_closure_max_iter_backstop(spark, force_distributed):
    long_chain = [(f"n{i}", f"n{i + 1}") for i in range(6)]
    with force_distributed(), pytest.raises(RuntimeError, match="did not converge"):
        transitive_closure(_triples(spark, long_chain), max_iter=3)
    # exact at the bound: a 3-edge chain converges in 3 sweeps (hops 2
    # and 3, then none new), a 4-edge chain needs a 4th
    with force_distributed():
        tc = transitive_closure(_triples(spark, long_chain[:3]), max_iter=3)
        assert len(_as_set(tc)) == 6
        with pytest.raises(RuntimeError, match="did not converge"):
            transitive_closure(_triples(spark, long_chain[:4]), max_iter=3)


def test_closure_parallel_edges_and_dedup(spark, force_distributed):
    # same (s, o) under two predicates: multiplicity must not change
    # the closure, with or without the opt-in base dedup
    t = spark.createDataFrame(
        [("a", "p", "b"), ("a", "q", "b"), ("b", "p", "c")],
        "subj string, pred string, obj string",
    )
    exp = {("a", "b", 1), ("b", "c", 1), ("a", "c", 2)}
    assert _as_set(transitive_closure(t)) == exp
    with force_distributed():
        tc = transitive_closure(t, dedup_edges=True)
    assert _as_set(tc) == exp
