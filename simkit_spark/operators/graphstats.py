"""Whole-graph structural statistics over an edge list — the
degree-assortativity coefficient (Newman, PRL 89:208701, 2002): the
Pearson correlation of the endpoint degrees across undirected edges.
This is the pipeline's skew early-warning gauge for the constructed
KG / similarity graph: strongly disassortative graphs (hubs linked to
leaves, r << 0) are exactly the shape whose joins need the salting /
degree-cap treatments this repo applies (kg.cooccurrence_edges,
entity_cards), while assortative graphs (r > 0) concentrate hub-hub
edges that survive every cap — reading r BEFORE picking the join
strategy is the measurement step of "skew handled explicitly"
(BASELINE.json north_rule). kNN similarity graphs are characteristically
disassortative; a near-zero r on one flags degenerate embeddings (the
same diagnostic role as triangles.triangle_counts' coefficient).

Exactness: with j_i, k_i the endpoint degrees of undirected edge i and
M the edge count, Newman's r over the sums S1 = sum(j*k),
S2 = sum(j + k), S3 = sum(j^2 + k^2) is

    r = (4*M*S1 - S2^2) / (2*M*S3 - S2^2)

(the usual half-edge formula with both numerator and denominator
multiplied by 4*M^2 — an identity, not an approximation). All four
aggregates are exact integers, so cross-engine parity needs no
float-sum-order contract; r itself is ONE per-row IEEE expression over
those integers (the conductance/modularity pattern). Degree-regular
graphs make the denominator 0; r is NULL there in both engines.

Scale design: one groupBy for degrees (node-sized result), two
node-sized joins to decorate the edge endpoints, one global aggregate —
no windows, no driver state, every shuffle key is the natural one. At
10^12 edges the int64 sums need headroom: S3 <= M * 2 * maxdeg^2 can
exceed 2^63 once maxdeg ~ 10^5 at that M, so a cluster deployment
promotes the three sums to decimal(38,0) (Spark sum(decimal) stays
exact); at any testable scale int64 is exact and keeps the DuckDB twin
comparison dtype-clean.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .graphs import undirected


def degree_assortativity(edges: DataFrame) -> DataFrame:
    """(src, dst) in any orientation -> ONE row
    (n_edges, s_jk, s_j_plus_k, s_j2_plus_k2, assortativity) over the
    undirected simple graph (self-loops dropped, duplicates collapsed).
    The integer sums are part of the output on purpose: they are the
    exactly-checkable payload, r the derived IEEE double (NULL when the
    graph is degree-regular)."""
    und = undirected(edges)
    deg = (
        und.select(F.col("u").alias("id"))
        .union(und.select(F.col("v").alias("id")))
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    decorated = (
        und.join(deg.select(F.col("id").alias("u"), F.col("deg").alias("ju")), "u")
        .join(deg.select(F.col("id").alias("v"), F.col("deg").alias("kv")), "v")
    )
    sums = decorated.agg(
        F.count(F.lit(1)).cast("long").alias("n_edges"),
        F.sum(F.col("ju") * F.col("kv")).cast("long").alias("s_jk"),
        F.sum(F.col("ju") + F.col("kv")).cast("long").alias("s_j_plus_k"),
        F.sum(F.col("ju") * F.col("ju") + F.col("kv") * F.col("kv"))
        .cast("long")
        .alias("s_j2_plus_k2"),
    )
    num = 4.0 * F.col("n_edges") * F.col("s_jk") - (
        F.col("s_j_plus_k").cast("double") * F.col("s_j_plus_k")
    )
    den = 2.0 * F.col("n_edges") * F.col("s_j2_plus_k2") - (
        F.col("s_j_plus_k").cast("double") * F.col("s_j_plus_k")
    )
    return sums.select(
        "n_edges",
        "s_jk",
        "s_j_plus_k",
        "s_j2_plus_k2",
        F.when(den != 0.0, F.round(num / den, 9)).alias("assortativity"),
    )
