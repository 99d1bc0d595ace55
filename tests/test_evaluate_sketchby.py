"""Round-5 additions: functions/evaluate (B-cubed) and
sketch.hll_distinct_by (per-group HLL)."""

from __future__ import annotations

from fractions import Fraction

import pytest

from simkit_spark.functions.evaluate import bcubed_counts, bcubed_fscore
from simkit_spark.functions.sketch import hll_distinct, hll_distinct_by


# ------------------------------------------------------------- bcubed
def _toy(spark):
    # clusters: {1,2,3,4,5} -> A, {6,7} -> B ; gold: {1,2,3,6} -> x,
    # {4,5,7} -> y — the worked example shape from Amigó et al. (2009)
    assign = spark.createDataFrame(
        [(i, "A") for i in range(1, 6)] + [(i, "B") for i in (6, 7)],
        "id long, cluster string",
    )
    gold = spark.createDataFrame(
        [(i, "x") for i in (1, 2, 3, 6)] + [(i, "y") for i in (4, 5, 7)],
        "id long, label string",
    )
    return assign, gold


def test_bcubed_counts_hand_checked(spark):
    assign, gold = _toy(spark)
    got = {
        (r["cluster"], r["label"]): (r["n_cg"], r["n_cluster"], r["n_label"])
        for r in bcubed_counts(assign, gold).collect()
    }
    assert got == {
        ("A", "x"): (3, 5, 4),
        ("A", "y"): (2, 5, 3),
        ("B", "x"): (1, 2, 4),
        ("B", "y"): (1, 2, 3),
    }


def test_bcubed_fscore_exact_rational(spark):
    assign, gold = _toy(spark)
    # B3P = (1/7)(3^2/5 + 2^2/5 + 1/2 + 1/2) = (1/7)(13/5 + 1)
    # B3R = (1/7)(9/4 + 4/3 + 1/4 + 1/3) = (1/7)(25/6)... computed
    # with Fractions here and asserted against the module's fold
    p = (Fraction(9, 5) + Fraction(4, 5) + Fraction(1, 2) + Fraction(1, 2)) / 7
    r = (Fraction(9, 4) + Fraction(4, 3) + Fraction(1, 4) + Fraction(1, 3)) / 7
    f = 2 * p * r / (p + r)
    got = bcubed_fscore(assign, gold)
    assert got["n"] == 7
    assert got["precision"] == round(float(p), 6)
    assert got["recall"] == round(float(r), 6)
    assert got["f1"] == round(float(f), 6)


def test_bcubed_perfect_and_degenerate(spark):
    ids = [(i, f"c{i % 3}") for i in range(30)]
    assign = spark.createDataFrame(ids, "id long, cluster string")
    gold = spark.createDataFrame(ids, "id long, label string")
    got = bcubed_fscore(assign, gold)
    assert (got["precision"], got["recall"], got["f1"]) == (1.0, 1.0, 1.0)
    # all-in-one cluster: precision = sum n_g^2 / (n*N), recall = 1
    one = spark.createDataFrame([(i, "all") for i in range(30)], "id long, cluster string")
    got = bcubed_fscore(one, gold)
    assert got["recall"] == 1.0
    assert got["precision"] == round(float(Fraction(3 * 10 * 10, 30 * 30)), 6)
    # empty intersection
    empty = bcubed_fscore(
        spark.createDataFrame([], "id long, cluster string"), gold
    )
    assert empty == {"precision": 0.0, "recall": 0.0, "f1": 0.0, "n": 0}


def test_bcubed_fscore_size_guard(spark, monkeypatch):
    """Past the driver budget the fold refuses to collect the
    intersection table and points at bcubed_counts."""
    assign, gold = _toy(spark)  # 4 (cluster, label) rows
    monkeypatch.setattr("simkit_spark.util.local_dispatch_rows", lambda *a, **k: 3)
    with pytest.raises(ValueError, match="bcubed_counts"):
        bcubed_fscore(assign, gold)
    monkeypatch.setattr("simkit_spark.util.local_dispatch_rows", lambda *a, **k: 4)
    assert bcubed_fscore(assign, gold)["n"] == 7


# ------------------------------------------------------- hll_distinct_by
def test_hll_by_group_matches_global_on_subset(spark):
    rows = [(f"v{i % 37}", "a") for i in range(200)] + [
        (f"w{i % 11}", "b") for i in range(100)
    ]
    df = spark.createDataFrame(rows, "val string, grp string")
    per = {
        r["grp"]: (r["n_filled"], r["z_int"], r["branch"], r["est_distinct"])
        for r in hll_distinct_by(df, "val", ["grp"]).collect()
    }
    for g in ("a", "b"):
        sub = df.where(df.grp == g)
        glob = hll_distinct(sub, "val").collect()[0]
        assert per[g] == (
            glob["n_filled"], glob["z_int"], glob["branch"], glob["est_distinct"]
        ), g


def test_hll_by_group_small_range_accuracy(spark):
    # linear-counting branch: estimates within ~5% at these cardinalities
    rows = [(f"x{i % 50}", "g1") for i in range(500)] + [
        (f"y{i % 200}", "g2") for i in range(800)
    ]
    df = spark.createDataFrame(rows, "val string, grp string")
    got = {r["grp"]: r["est_distinct"] for r in hll_distinct_by(df, "val", ["grp"]).collect()}
    assert abs(got["g1"] - 50) / 50 < 0.05
    assert abs(got["g2"] - 200) / 200 < 0.05


def test_hll_by_requires_groups(spark):
    df = spark.createDataFrame([("a", "g")], "val string, grp string")
    with pytest.raises(ValueError):
        hll_distinct_by(df, "val", [])
    with pytest.raises(ValueError):
        hll_distinct_by(df, "val", ["grp"], p=2)


# --------------------------------------------------------- vocab_overlap
def test_vocab_overlap_hand_checked(spark):
    from simkit_spark.functions.text import vocab_overlap

    docs = spark.createDataFrame(
        [
            ("a", "the cat sat"),
            ("a", "the dog"),
            ("b", "the cat ran"),
            ("c", "zebra"),
        ],
        "source string, text string",
    )
    got = {
        (r["grp_a"], r["grp_b"]): (r["n_a"], r["n_b"], r["n_inter"], r["jaccard"])
        for r in vocab_overlap(docs).collect()
    }
    # vocab a = {the, cat, sat, dog} (4), b = {the, cat, ran} (3);
    # inter = {the, cat} (2), union = 5 -> jaccard 0.4
    assert got == {("a", "b"): (4, 3, 2, 0.4)}  # c shares nothing -> no row
