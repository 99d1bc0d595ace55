"""label_propagation: two-clique separation, tie determinism, fixed
points, and partition invariance."""

from __future__ import annotations

from simkit_spark.operators.labelprop import label_propagation


def _run(spark, edges, n_iter=5):
    df = spark.createDataFrame(edges, "src long, dst long")
    return {r["id"]: r["community"] for r in label_propagation(df, n_iter).collect()}


def test_two_cliques_with_bridge(spark, force_distributed):
    """Two K4s joined by one bridge edge: each clique converges to its
    own min label; the bridge doesn't merge them (1 vote vs 3)."""
    k4a = [(a, b) for a in range(0, 4) for b in range(a + 1, 4)]
    k4b = [(a, b) for a in range(10, 14) for b in range(a + 1, 14)]
    with force_distributed():
        out = _run(spark, k4a + k4b + [(3, 10)])
    assert {out[i] for i in range(0, 4)} == {0}
    assert {out[i] for i in range(10, 14)} == {10}


def test_tie_breaks_to_smallest_label(spark, force_distributed):
    # node 2's neighbors {1, 3} each vote once -> tie -> label 1
    with force_distributed():
        out = _run(spark, [(1, 2), (2, 3)], n_iter=1)
    assert out[2] == 1


def test_clique_is_fixed_point_at_min_label(spark, force_distributed):
    tri = [(5, 6), (6, 7), (5, 7)]
    for n in (3, 6):
        with force_distributed():
            out = _run(spark, tri, n_iter=n)
        assert out == {5: 5, 6: 5, 7: 5}, n


def test_partition_invariant(spark, force_distributed):
    edges = [(i, (i * 7) % 23) for i in range(23) if i != (i * 7) % 23]
    df = spark.createDataFrame(edges, "src long, dst long")
    with force_distributed():
        a = sorted(map(tuple, label_propagation(df, 4).collect()))
        b = sorted(map(tuple, label_propagation(df.repartition(9), 4).collect()))
    assert a == b


def test_modularity_two_triangles_exact(spark):
    """Two triangles joined by one bridge, labeled by triangle:
    q_c = 3/7 - (7/14)^2 for each side (Newman & Girvan closed form);
    the single-community partition must score exactly 0."""
    from simkit_spark.operators.labelprop import community_modularity

    tri = [(0, 1), (1, 2), (0, 2), (3, 4), (4, 5), (3, 5), (2, 3)]
    edges = spark.createDataFrame(tri, "src long, dst long")
    labels = spark.createDataFrame(
        [(i, 0 if i < 3 else 1) for i in range(6)], "id long, community long"
    )
    rows = {r["community"]: r for r in community_modularity(edges, labels).collect()}
    for c in (0, 1):
        assert (rows[c]["n_nodes"], rows[c]["inner_edges"], rows[c]["deg_sum"]) == (3, 3, 7)
        assert rows[c]["q_c"] == round(3 / 7 - (7 / 14) ** 2, 6)

    one = spark.createDataFrame([(i, 9) for i in range(6)], "id long, community long")
    q = community_modularity(edges, one).collect()
    assert len(q) == 1 and q[0]["q_c"] == 0.0 and q[0]["inner_edges"] == 7


def test_lpa_auto_local_distributed_parity(spark, force_distributed):
    """All-integer sweeps: the numpy twin must equal the distributed
    loop exactly, including tiebreaks, on a graph with hubs + chains."""
    import random

    from simkit_spark.operators.labelprop import label_propagation

    rng = random.Random(11)
    edges = [(rng.randrange(40), rng.randrange(40)) for _ in range(120)]
    edges += [(i, i + 1) for i in range(40, 55)]
    df = spark.createDataFrame(edges, "src long, dst long").where("src <> dst")
    for it in (1, 3, 5):
        with force_distributed():
            a = {r["id"]: r["community"] for r in label_propagation(df, n_iter=it).collect()}
        b = {r["id"]: r["community"] for r in label_propagation(df, n_iter=it).collect()}
        assert a == b, it


def test_lpa_auto_string_id_parity(spark, force_distributed):
    """String ids (KG IRIs) through the numpy twin: the old twin fed an
    object array to np.unique(axis=0), which raises TypeError — the
    dispatch must be invisible for the module's advertised KG use."""
    import random

    from simkit_spark.operators.labelprop import label_propagation

    rng = random.Random(7)
    edges = [
        ("part:%d" % rng.randrange(30), "supplier:%d" % rng.randrange(30))
        for _ in range(90)
    ] + [("chain:%d" % i, "chain:%d" % (i + 1)) for i in range(12)]
    df = spark.createDataFrame(edges, "src string, dst string")
    for it in (1, 4):
        with force_distributed():
            a = {r["id"]: r["community"] for r in label_propagation(df, n_iter=it).collect()}
        b = {r["id"]: r["community"] for r in label_propagation(df, n_iter=it).collect()}
        assert a == b, it
    out = label_propagation(df, n_iter=2)
    assert out.schema["id"].dataType.simpleString() == "string"


def test_lpa_auto_all_self_loops(spark, force_distributed):
    from simkit_spark.operators.labelprop import label_propagation

    df = spark.createDataFrame([("a", "a"), ("b", "b")], "src string, dst string")
    assert label_propagation(df, n_iter=2).count() == 0
    with force_distributed():
        assert label_propagation(df, n_iter=2).count() == 0


def test_conductance_two_triangles_closed_form(spark):
    from simkit_spark.operators.labelprop import community_conductance

    # two triangles joined by one bridge edge: m=7, each community has
    # vol=7, cut=1 -> phi = 1/7 = 0.142857 (6dp)
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (4, 5), (5, 6), (4, 6), (3, 4)],
        "src long, dst long",
    )
    labels = spark.createDataFrame(
        [(1, 10), (2, 10), (3, 10), (4, 20), (5, 20), (6, 20)],
        "id long, community long",
    )
    rows = {r.community: r for r in community_conductance(edges, labels).collect()}
    assert set(rows) == {10, 20}
    for c in (10, 20):
        assert rows[c].n_nodes == 3
        assert rows[c].volume == 7
        assert rows[c].cut == 1
        assert rows[c].conductance == 0.142857


def test_conductance_whole_graph_is_zero(spark):
    from simkit_spark.operators.labelprop import community_conductance

    edges = spark.createDataFrame([(1, 2), (2, 3)], "src long, dst long")
    labels = spark.createDataFrame(
        [(1, 0), (2, 0), (3, 0)], "id long, community long"
    )
    row = community_conductance(edges, labels).collect()[0]
    # single community covering everything: cut 0, min(vol, 2m-vol) = 0
    assert row.cut == 0 and row.conductance == 0.0
