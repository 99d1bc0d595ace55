"""Fixed-iteration PageRank over an edge list — entity-importance
scoring for the constructed knowledge graph (which entities matter =
which similarity-graph nodes accumulate stationary mass).

The reference exposes similarity graphs + spectral machinery
(SimilarityGraphNodes/MatrixCalculationNodes — SURVEY.md §2.4/§2.5);
entity salience over those graphs is the natural KG-side companion:
rank entities by the random-walk stationary distribution of the edge
list the linker materializes.

One kernel, four operators: PageRank, personalized PageRank, weighted
PageRank and Katz are the same exact-integer power sweep. They differ
only in the base table (nodes, or nodes with a teleport vector t), the
per-edge contrib rule, whether dangling mass is used, and the float
update. ``_sweeps`` is the distributed half and ``_sweeps_local`` the
numpy half; each variant supplies its setup and ONE update callable
that builds both the Spark Column and the ndarray expression, so its
float operation order is written exactly once for both paths.

Scale design (the part that must survive 100 TB):
- One shuffle per iteration: the edge table is hash-partitioned on
  ``src`` ONCE and persisted; each sweep joins the (node-sized) rank
  table into that fixed layout and partial-aggregates contributions
  map-side before the groupBy(dst) shuffle. The n-edge table is never
  re-shuffled.
- Dangling mass is a 1-row aggregate broadcast into the update
  (crossJoin of a broadcast singleton) — no per-iteration driver
  action, no collect.
- Lineage is broken EVERY sweep (util.materialize: reliable checkpoint
  when a checkpoint dir is configured, localCheckpoint in tests): each
  sweep's rank table feeds three consumers (inflow, the dangling
  aggregate, the update join), so a lazy multi-sweep segment
  re-evaluates shared subplans combinatorially — 10 sweeps over 1M
  edges measured 104 s breaking it every 4th sweep, 30 s every sweep.

Determinism contract (exact-integer fixed point):
- Ranks are carried as int64 numerators ``rank_i`` at scale
  10**iter_dp (rank = rank_i * 10**-iter_dp). Per-sweep:
  contrib_i = rank_i div outdeg (integer floor division), inflow_i =
  SUM(contrib_i) and dangling mass dmass_i = SUM(rank_i) are EXACT
  integer sums — order-independent, so no partitioning / engine
  summation-order ulp drift can exist (an earlier 12dp-double contract
  re-synchronized each sweep but a sum landing on a rounding boundary
  could still flip the last digit across engines — the latent
  flakiness round-3 ADVICE flagged). The float update
  floor((teleport + d*(inflow_i*inv + dmass-term)) * scale + 0.5)
  consumes only exact integers and fixed scalar constants through a
  fixed operation order, so every engine (Spark, numpy, DuckDB)
  computes bit-identical doubles and therefore identical rank_i.
  Floor division leaks < outdeg * 10**-iter_dp of mass per source —
  ~1e-12-scale, identical on every engine.
- Output rank = rank_i * 10**-iter_dp: one exact int->double convert
  and one correctly-rounded multiply — bit-identical everywhere, no
  final decimal re-rounding needed (decimal round() tie behavior
  differs across engines; we never invoke it).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, functions as F

from ..util import materialize, size_dispatch
from .graphs import indexed

DAMPING = 0.85
PR_ITER_DP = 12


def _rank_expr(update: "F.Column", scale: int) -> "F.Column":
    """floor(update * scale + 0.5) — the shared int64 re-quantization."""
    return F.floor(update * F.lit(float(scale)) + F.lit(0.5))


def _layout(e: DataFrame, norm=None, t=None):
    """(ed, base, dangling, n): the loop-invariant tables of ``_sweeps``.

    ``ed`` is ``e`` hash-partitioned AND sorted on src ONCE and
    persisted: the cached plan keeps its outputOrdering, so every
    sweep's sort-merge join streams the edge table without re-sorting
    it (only the node-sized rank side sorts per sweep) — SMJ's
    robustness with none of its per-sweep edge-side cost, and no
    shuffled-hash build-memory risk at cluster scale. With ``norm`` (a
    per-source aggregate) the divisor ``s`` is baked into that layout
    once instead of re-joined every sweep, and ``dangling`` holds the
    ids with no out-edge (the set is loop-invariant; only its mass
    changes); without it ``dangling`` is None. ``base`` is the persisted
    node table (id), with the column ``t`` when given; n its size."""
    e = e.repartition("src").persist()
    base = (
        e.select(F.col("src").alias("id"))
        .union(e.select(F.col("dst").alias("id")))
        .distinct()
    )
    base = (base if t is None else base.withColumn("t", t)).persist()
    n = base.count()
    ed = e if norm is None else e.join(e.groupBy("src").agg(norm.alias("s")), "src")
    ed = ed.sortWithinPartitions("src").persist()
    ed.count()
    dangling = None
    if norm is not None:
        dangling = base.select("id").join(
            e.select(F.col("src").alias("id")).distinct(), "id", "left_anti"
        ).persist()
        dangling.count()
    e.unpersist()
    return ed, base, dangling, n


def _sweeps(ed, base, r0, contrib, update, dangling, n_iter, scale):
    """The distributed power sweep: (id, rank_i) after ``n_iter`` sweeps
    of rank_i = floor(update(inflow, dmass) * scale + 0.5), starting
    from the Column ``r0`` over ``base``.

    inflow_i = SUM(``contrib``) per dst is an exact-integer SQL
    expression of the source numerator ``srank_i`` and ``ed``'s
    columns; dmass_i = SUM(rank_i) over ``dangling`` (None: no dangling
    term, ``update`` gets None). ``update`` sees both as double Columns
    and ``base``'s columns by name. Per sweep: one join of the
    node-sized rank table into the fixed edge layout, one hash
    aggregation on dst, the broadcast 1-row dmass, one materialize.
    Unpersists ed, base and dangling."""
    ranks = base.select("id", r0.alias("rank_i"))
    for _ in range(n_iter):
        src_rank = ranks.select(F.col("id").alias("src"), F.col("rank_i").alias("srank_i"))
        inflow = (
            ed.join(src_rank, "src")
            .groupBy(F.col("dst").alias("id"))
            .agg(F.sum(F.expr(contrib)).alias("inflow_i"))
        )
        step = base.join(inflow.hint("shuffle_hash"), "id", "left")
        dmass = None
        if dangling is not None:
            step = step.crossJoin(F.broadcast(
                ranks.join(dangling.hint("shuffle_hash"), "id", "left_semi")
                .agg(F.coalesce(F.sum("rank_i"), F.lit(0)).cast("long").alias("dmass_i"))
            ))
            dmass = F.col("dmass_i").cast("double")
        inflow_d = F.coalesce(F.col("inflow_i"), F.lit(0)).cast("double")
        ranks = materialize(
            step.select("id", _rank_expr(update(inflow_d, dmass), scale).alias("rank_i"))
        )
    for df in (ed, base, dangling):
        if df is not None:
            df.unpersist()
    return ranks


def _sweeps_local(src, dst, w, r0, update, n_iter, scale):
    """numpy half of ``_sweeps`` over the edge positions of ``graphs.indexed``:
    int64 numerators from ``r0``, ONE exact int64 accumulator per sweep.

    With int64 edge weights ``w`` each source splits its numerator by
    contrib = r[src] * w div s[src], s = the source's weight sum (its
    out-degree for unit weights), and the nodes without an out-edge
    feed dmass; ``w=None`` (Katz) sums r[src] undivided, dmass None."""
    import numpy as np

    n = len(r0)
    s = np.zeros(n, dtype=np.int64)
    if w is not None:
        np.add.at(s, src, w)
    r = r0
    for _ in range(n_iter):
        inflow = np.zeros(n, dtype=np.int64)
        np.add.at(inflow, dst, r[src] if w is None else (r[src] * w) // s[src])
        dmass = None if w is None else float(r[s == 0].sum())
        r = np.floor(
            update(inflow.astype(np.float64), dmass) * float(scale) + 0.5
        ).astype(np.int64)
    return r


def _scaled(ranks: DataFrame, scale: int, name: str) -> DataFrame:
    return ranks.select(
        "id", (F.col("rank_i").cast("double") * F.lit(1.0 / float(scale))).alias(name)
    )


# The update callables below take (inflow, dmass) as double Columns or
# as an ndarray and a python float. A python scalar on the left of a
# Column operator builds the mirrored Spark expression (c*x, not x*c);
# IEEE + and * are commutative, so both engines stay bit-identical.


def _pr_update(damping: float, n: float, scale: int):
    """PageRank's (and weighted PageRank's) update:
    teleport + d*(inflow*inv + dmass*inv/n)."""
    inv = 1.0 / float(scale)
    teleport = (1.0 - damping) / n
    return lambda inflow, dmass: teleport + damping * (inflow * inv + dmass * inv / n)


def _pr_sweeps(e: DataFrame, n_iter: int, damping: float, iter_dp: int) -> DataFrame:
    """Distributed PageRank over (src, dst), or weighted over quantized
    (src, dst, w_q): contrib = rank_i div outdeg, or
    rank_i * w_q div strength."""
    weighted = "w_q" in e.columns
    ed, nodes, dangling, n = _layout(e, F.sum("w_q") if weighted else F.count(F.lit(1)))
    n = float(max(n, 1))  # an empty graph sweeps zero rows
    scale = 10**iter_dp
    ranks = _sweeps(
        ed,
        nodes,
        F.lit(math.floor((1.0 / n) * float(scale) + 0.5)).cast("long"),
        "(srank_i * w_q) div s" if weighted else "srank_i div s",
        _pr_update(damping, n, scale),
        dangling,
        n_iter,
        scale,
    )
    return _scaled(ranks, scale, "rank")


def _pr_local(pdf, n_iter, damping, iter_dp):
    """numpy twin of ``_pr_sweeps``; unit weights without ``w_q``."""
    import numpy as np
    import pandas as pd

    ids, src, dst = indexed(pdf)
    n = float(max(len(ids), 1))
    scale = 10**iter_dp
    w = pdf["w_q"].to_numpy(np.int64) if "w_q" in pdf else np.ones(len(src), np.int64)
    r0 = np.full(len(ids), math.floor((1.0 / n) * float(scale) + 0.5), dtype=np.int64)
    r = _sweeps_local(src, dst, w, r0, _pr_update(damping, n, scale), n_iter, scale)
    return pd.DataFrame({"id": ids, "rank": r * (1.0 / float(scale))})


def pagerank(
    edges: DataFrame,
    n_iter: int = 10,
    damping: float = DAMPING,
    iter_dp: int = PR_ITER_DP,
) -> DataFrame:
    """(src, dst) directed edge list -> (id, rank) after ``n_iter``
    power sweeps of rank = (1-d)/N + d*(inflow + dangling/N).

    Unweighted edges: each src splits its rank evenly across out-edges.
    Nodes with no out-edges (dangling) teleport their whole rank.
    Deterministic: fixed iteration count, exact-integer rank numerators
    at scale 10**iter_dp (see module docstring).

    Size-dispatched (``util.size_dispatch``): a driver-sized graph runs
    a vectorized numpy loop over one Arrow collect, which beats ~3
    shuffle stages per sweep by orders of magnitude; a larger one runs
    the distributed sweeps. The exact-integer rank contract makes both
    paths bit-identical (parity-tested), so the dispatch is invisible.
    """
    return size_dispatch(
        edges.select("src", "dst"),
        lambda pdf: _pr_local(pdf, n_iter, damping, iter_dp),
        lambda e: _pr_sweeps(e, n_iter, damping, iter_dp),
        "id {id}, rank double",
    )


def personalized_pagerank(
    edges: DataFrame,
    seeds: list,
    n_iter: int = 10,
    damping: float = DAMPING,
    iter_dp: int = PR_ITER_DP,
) -> DataFrame:
    """Personalized PageRank (random-walk-with-restart): teleport mass
    goes to ``seeds`` (1/|S| each) instead of uniformly to all nodes,
    so rank(v) measures v's relevance TO the seed set — the standard
    KG ranking for "entities related to X" (recommendation, query
    expansion, local community detection).

    rank_{t+1}(v) = (1-d)·t(v) + d·(inflow(v) + dangling_mass·t(v)),
    t(v) = 1/|S| for seeds, else 0; rank_0 = t. Same determinism
    contract as pagerank (fixed sweeps, exact-integer rank numerators
    at scale 10**iter_dp), same size dispatch (``util.size_dispatch``:
    numpy for a driver-sized graph — string KG IRIs sort fine there —
    else the distributed loop with the same fixed-src edge layout).
    Unreachable nodes legitimately hold rank 0.0 and are kept.
    Duplicate seeds are deduplicated at entry (teleport mass must sum
    to 1); seeds absent from the edge list raise KeyError on BOTH
    paths, including the empty-edge-list case.
    """
    if not seeds:
        raise ValueError("personalized_pagerank requires at least one seed")
    # dedup ONCE so both paths agree and teleport mass sums to exactly
    # 1 (duplicate seeds previously tripped the distributed existence
    # check and left sum(t) < 1 on the numpy path)
    seed_set = sorted(set(seeds))
    return size_dispatch(
        edges.select("src", "dst"),
        lambda pdf: _ppr_local(pdf, seed_set, n_iter, damping, iter_dp),
        lambda e: _ppr_sweeps(e, seed_set, n_iter, damping, iter_dp),
        "id {id}, rank double",
    )


def _ppr_update(damping: float, t, scale: int):
    """Personalized PageRank's update over the teleport vector ``t`` (a
    Column or an ndarray): (1-d)*t + d*(inflow*inv + dmass*inv*t)."""
    inv = 1.0 / float(scale)
    return lambda inflow, dmass: (
        (1.0 - damping) * t + damping * (inflow * inv + dmass * inv * t)
    )


def _ppr_local(pdf, seed_set, n_iter, damping, iter_dp):
    import numpy as np
    import pandas as pd

    ids, src, dst = indexed(pdf)
    missing = sorted(set(seed_set) - set(ids.tolist()))
    if missing:
        raise KeyError(f"seeds not present in the edge list: {missing}")
    scale = 10**iter_dp
    t = np.zeros(len(ids))
    t[np.searchsorted(ids, np.array(seed_set))] = 1.0 / float(len(seed_set))
    r0 = np.floor(t * float(scale) + 0.5).astype(np.int64)
    ones = np.ones(len(src), np.int64)
    r = _sweeps_local(src, dst, ones, r0, _ppr_update(damping, t, scale), n_iter, scale)
    return pd.DataFrame({"id": ids, "rank": r * (1.0 / float(scale))})


def _ppr_sweeps(e, seed_set, n_iter, damping, iter_dp):
    # the teleport vector is baked into the persisted node table
    t = F.when(F.col("id").isin(seed_set), F.lit(1.0 / float(len(seed_set))))
    ed, tv, dangling, _ = _layout(e, F.count(F.lit(1)), t.otherwise(F.lit(0.0)))
    if tv.where(F.col("t") > 0).count() != len(seed_set):
        for df in (ed, tv, dangling):
            df.unpersist()
        raise KeyError("some seeds are not present in the edge list")
    scale = 10**iter_dp
    ranks = _sweeps(
        ed,
        tv,
        _rank_expr(F.col("t"), scale),
        "srank_i div s",
        _ppr_update(damping, F.col("t"), scale),
        dangling,
        n_iter,
        scale,
    )
    return _scaled(ranks, scale, "rank")


WPR_ITER_DP = 9
WPR_WEIGHT_DP = 6


def _quantized(edges: DataFrame, weight_dp: int) -> DataFrame:
    """(src, dst, weight) -> (src, dst, w_q), w_q = floor(w·10^dp + 0.5)
    int64, zero-quantized edges dropped."""
    return edges.select(
        "src",
        "dst",
        F.floor(F.col("weight") * F.lit(float(10**weight_dp)) + F.lit(0.5))
        .cast("long")
        .alias("w_q"),
    ).where(F.col("w_q") > 0)


def weighted_pagerank(
    edges: DataFrame,
    n_iter: int = 10,
    damping: float = DAMPING,
    iter_dp: int = WPR_ITER_DP,
    weight_dp: int = WPR_WEIGHT_DP,
) -> DataFrame:
    """(src, dst, weight) -> (id, rank): PageRank where each source
    splits its rank proportionally to edge weight — entity salience
    over the linker's WEIGHTED similarity graph (Gaussian affinities),
    where the unweighted variant throws the kernel away.

    Same exact-integer contract as ``pagerank`` with one extra
    quantization: weights enter ONCE as w_q = floor(w·10^weight_dp
    + 0.5) int64 (consuming the 6dp-rounded affinity contract);
    edges with w_q = 0 drop entirely (the reference's zero-weight edge
    filter — Neo4jGraphHandler discards them too), and the node set is
    taken from the KEPT edge list. Per sweep, contrib =
    rank_i * w_q div strength(src) with strength = SUM(w_q) exact —
    all integer, order-independent. iter_dp defaults to 9 (not the
    unweighted 12) so rank_i * w_q <= 10^9·10^6 = 10^15 stays exact in
    int64 AND in the double converts. Dangling = no kept out-edge.

    Size-dispatched (``util.size_dispatch``) on the quantized
    (src, dst, w_q) frame: the all-integer contrib rule plus the single
    fixed-order float update make the numpy twin bit-identical to the
    distributed loop — parity-tested on long and string ids, dangling
    mass, and zero-weight edge drops.
    """
    return size_dispatch(
        _quantized(edges, weight_dp),
        lambda pdf: _pr_local(pdf, n_iter, damping, iter_dp),
        lambda e: _pr_sweeps(e, n_iter, damping, iter_dp),
        "id {id}, rank double",
    )


KATZ_BETA = 0.05
KATZ_ITER_DP = 9

# int64 numerators must stay exactly representable as float64 for the
# aggregation paths (and a negative numerator means the non-ANSI long
# sum already wrapped at 2^63): enforce at runtime, loud not silent.
_KATZ_MAX_NUMERATOR = 1 << 53


def _katz_overflow_check(minmax, beta: float) -> None:
    lo, hi = minmax
    if lo is None:
        return
    if lo < 0 or hi >= _KATZ_MAX_NUMERATOR:
        raise ValueError(
            f"katz_centrality numerators left the exact-int64-in-float64 "
            f"range [0, 2^53): min={lo}, max={hi}. beta={beta} is too "
            f"large for this graph's in-degree/spectral radius — lower "
            f"beta or n_iter (growth is geometric in beta*lambda_max)."
        )


def _katz_update(beta: float, scale: int):
    """Katz's update: 1 + beta*(inflow*inv) (no dangling term)."""
    inv = 1.0 / float(scale)
    return lambda inflow, _dmass: 1.0 + beta * (inflow * inv)


def katz_centrality(
    edges: DataFrame,
    n_iter: int = 8,
    beta: float = KATZ_BETA,
    iter_dp: int = KATZ_ITER_DP,
) -> DataFrame:
    """Katz centrality by fixed truncated sweeps of
    x <- 1 + beta * A^T x (x_0 = 1): x(v) counts incoming walks of
    every length <= n_iter, geometrically attenuated by beta — unlike
    PageRank it does NOT normalize by out-degree, so prolific linkers
    transfer full influence (the classic sociometric index; Katz'53).

    Same engine-parity contract as pagerank: int64 numerators at scale
    10**iter_dp, exact integer inflow sums, and a fixed-order float
    update floor((1.0 + beta * (inflow * inv)) * scale + 0.5) written
    once for the distributed sweep and the numpy twin and mirrored
    verbatim by the DuckDB twin. Keep
    beta * max_in_degree modest: values grow geometrically when
    beta * lambda_max >= 1, and the truncated sum is still
    well-defined but the int64 numerators must stay under 2^53 for the
    float64 aggregation paths (beta=0.05, dp=9 gives ~3 orders of
    headroom on degree <= 50 graphs); past that it raises ValueError.

    Scale: size-dispatched (``util.size_dispatch``) — a driver-sized
    graph runs the numpy twin over one Arrow collect, bit-identical to
    the distributed loop (same integer numerators, same fixed-order
    float update); a larger one runs the shared ``_sweeps`` shape minus
    the divisor join and the dangling pass — sorted-once persisted edge
    layout, per sweep one node-sized rank shuffle in + one hash-agg
    out, lineage broken every sweep.
    """
    return size_dispatch(
        edges.select("src", "dst"),
        lambda pdf: _katz_local(pdf, n_iter, beta, iter_dp),
        lambda e: _katz_sweeps(e, n_iter, beta, iter_dp),
        "id {id}, katz double",
    )


def _katz_sweeps(e: DataFrame, n_iter: int, beta: float, iter_dp: int) -> DataFrame:
    """Distributed path of ``katz_centrality``."""
    ed, nodes, _, _ = _layout(e)
    scale = 10**iter_dp
    ranks = _sweeps(
        ed, nodes, F.lit(int(scale)).cast("long"), "srank_i",
        _katz_update(beta, scale), None, n_iter, scale,
    )
    _katz_overflow_check(ranks.agg(F.min("rank_i"), F.max("rank_i")).first(), beta=beta)
    return _scaled(ranks, scale, "katz")


def _katz_local(pdf, n_iter, beta, iter_dp):
    import numpy as np
    import pandas as pd

    ids, src, dst = indexed(pdf)
    scale = 10**iter_dp
    x0 = np.full(len(ids), int(scale), dtype=np.int64)
    x = _sweeps_local(src, dst, None, x0, _katz_update(beta, scale), n_iter, scale)
    if len(x):
        _katz_overflow_check((int(x.min()), int(x.max())), beta=beta)
    return pd.DataFrame({"id": ids, "katz": x * (1.0 / float(scale))})
