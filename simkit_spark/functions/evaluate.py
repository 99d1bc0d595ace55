"""Clustering / entity-resolution evaluation: B-cubed precision & recall.

The north-star pipeline canonicalizes entities by clustering mention
embeddings (spectral + CC merge); B-cubed (Bagga & Baldwin '98) is the
standard extrinsic score for that kind of resolution — unlike pairwise
F1 it weights every MENTION equally (a 1M-mention mega-cluster cannot
drown the tail), and unlike purity it punishes over-splitting. The
Amigó et al. (2009) survey singles it out as the only common metric
satisfying all four clustering-evaluation constraints.

Definitions, for element e with cluster C(e) and gold class G(e):

  precision(e) = |C(e) ∩ G(e)| / |C(e)|
  recall(e)    = |C(e) ∩ G(e)| / |G(e)|
  B³P = avg_e precision(e),  B³R = avg_e recall(e),  F = harmonic mean

Every per-element quantity is determined by the intersection counts
n_cg = |cluster c ∩ class g| together with cluster/class sizes, so the
whole metric reduces to ONE groupBy over (cluster, label):

  B³P = (1/N) Σ_cg n_cg² / n_c      B³R = (1/N) Σ_cg n_cg² / n_g

Determinism contract: :func:`bcubed_counts` returns the per-(cluster,
label) table with EXACT integer counts and per-pair 6dp ratios — no
distributed float summation anywhere, so a SQL twin matches
bit-for-bit. The scalar summary (:func:`bcubed_fscore`) folds that
tiny table (≤ |clusters|·|classes| rows) on the driver with exact
``fractions.Fraction`` arithmetic and rounds ONCE at the end —
order-independent by construction.

Scale shape: one inner join on id (co-partitioned if both sides come
from the same upstream table) + one hash agg on the (cluster, label)
key + two broadcast-sized side aggs for n_c / n_g. Nothing pair-sized,
nothing driver-sized except the intersection table, whose row count is
bounded by the number of distinct (cluster, class) co-occurrences —
for any real resolution output that is near-diagonal.
"""

from __future__ import annotations

from fractions import Fraction

from pyspark.sql import DataFrame, functions as F

from .. import util


def bcubed_counts(
    assign: DataFrame,
    gold: DataFrame,
    id_col: str = "id",
    cluster_col: str = "cluster",
    label_col: str = "label",
) -> DataFrame:
    """Per-(cluster, label) intersection table with exact counts:
    (cluster, label, n_cg, n_cluster, n_label, prec, rec) where
    prec = n_cg/n_cluster and rec = n_cg/n_label at 6dp — each one
    correctly-rounded single division over exact integers."""
    a = assign.select(F.col(id_col).alias("id"), F.col(cluster_col).alias("cluster"))
    g = gold.select(F.col(id_col).alias("id"), F.col(label_col).alias("label"))
    both = a.join(g, "id")
    inter = both.groupBy("cluster", "label").agg(F.count(F.lit(1)).alias("n_cg"))
    csize = both.groupBy("cluster").agg(F.count(F.lit(1)).alias("n_cluster"))
    gsize = both.groupBy("label").agg(F.count(F.lit(1)).alias("n_label"))
    return (
        inter.join(F.broadcast(csize), "cluster")
        .join(F.broadcast(gsize), "label")
        .select(
            "cluster",
            "label",
            "n_cg",
            "n_cluster",
            "n_label",
            F.round(F.col("n_cg") / F.col("n_cluster"), 6).alias("prec"),
            F.round(F.col("n_cg") / F.col("n_label"), 6).alias("rec"),
        )
    )


def bcubed_fscore(
    assign: DataFrame,
    gold: DataFrame,
    id_col: str = "id",
    cluster_col: str = "cluster",
    label_col: str = "label",
    dp: int = 6,
) -> dict:
    """Scalar B³ precision / recall / F1 as exact rationals folded on
    the driver (the intersection table is tiny by contract), rounded
    once at ``dp``. Returns {"precision", "recall", "f1", "n"}.

    The collect is bounded: an intersection table past the driver
    budget (``util.local_dispatch_rows`` of its schema) raises
    ValueError instead of pulling it — aggregate :func:`bcubed_counts`
    on the cluster then."""
    counts = bcubed_counts(assign, gold, id_col, cluster_col, label_col)
    thr = util.local_dispatch_rows(counts.schema)
    rows = counts.limit(thr + 1).collect()
    if len(rows) > thr:
        raise ValueError(
            f"bcubed_fscore: the (cluster, label) intersection table has "
            f"more than {thr} rows, too many to fold on the driver; "
            f"aggregate bcubed_counts(...) distributed instead"
        )
    n = sum(r["n_cg"] for r in rows)
    if n == 0:
        return {"precision": 0.0, "recall": 0.0, "f1": 0.0, "n": 0}
    p = sum(Fraction(r["n_cg"] * r["n_cg"], r["n_cluster"]) for r in rows) / n
    r_ = sum(Fraction(r["n_cg"] * r["n_cg"], r["n_label"]) for r in rows) / n
    f1 = Fraction(0) if p + r_ == 0 else 2 * p * r_ / (p + r_)
    return {
        "precision": round(float(p), dp),
        "recall": round(float(r_), dp),
        "f1": round(float(f1), dp),
        "n": n,
    }
