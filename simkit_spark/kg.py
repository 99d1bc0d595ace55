"""Knowledge-graph construction from relational tables + KG consumption
operators over a (subj, pred, obj) triple table.

The north-rule pipeline (pipeline/) builds a KG from unstructured
interleaved documents; this module covers the other half of real KG
construction — the R2RML-style *direct mapping* of an existing
relational star schema into the same triple model (W3C "A Direct
Mapping of Relational Data to RDF") — plus the query operators a KG
consumer runs against any triple table regardless of where it came
from: predicate profiling, meta-path composition, k-hop reachability,
hub detection, co-occurrence edge inference, and negative sampling for
KG-embedding training (TransE-style corruption).

Relationship to the reference: simkit stores its graphs as Neo4j
nodes + typed `link` relationships (global/Neo4jGraphHandler.java:451,489)
and its procedures consume node/edge lists (definition/EdgeList2.java:5-18).
Our triple table (subj, pred, obj) is the same labeled-edge model with
string IRIs; every operator here is a pure DataFrame plan over it.

Scale notes (10^12-triple regime) are inline per operator. Every
decision that must match the DuckDB oracles is md5-derived (the
portable hash family from functions/dedup._md5_long), never
xxhash64/rand().
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F, types as T

from . import util
from .functions.dedup import _md5_long
from .operators.graphs import relax
from .util import materialize, size_dispatch


def _iri(kind: str, key: Column) -> Column:
    """'customer:42'-style IRI. String IRIs (not numeric ids) keep the
    triple table self-describing and joinable across entity types; the
    downstream operators never parse them."""
    return F.concat_ws(":", F.lit(kind), key.cast("string"))


def relational_triples(tables: dict[str, DataFrame]) -> DataFrame:
    """Direct-map the TPC-H-ish star schema into (subj, pred, obj).

    Emitted predicates (entity→entity unless noted):

      order      placed_by    customer
      order      contains     part        (distinct over line numbers)
      part       supplied_by  supplier    (distinct over lineitems)
      customer   located_in   nation
      supplier   located_in   nation
      nation     part_of      region
      customer   in_segment   segment:<mktsegment>   (literal-as-node)
      part       branded      brand:<brand>          (literal-as-node)

    Scale: each branch is a narrow projection of one source table —
    no joins anywhere. Only the two lineitem-derived branches carry a
    shuffle (the `.distinct()` that collapses per-line duplicates),
    and both are keyed by columns the fact table would already be
    bucketed on (orderkey / partkey), so AQE coalesces them cheaply.
    The union is plan-level only; Spark scans each parquet source once
    with column pruning (2-3 columns per branch out of 6-11).
    """
    o, li = tables["orders"], tables["lineitem"]
    c, s = tables["customer"], tables["supplier"]
    p, n = tables["part"], tables["nation"]

    def t(subj: Column, pred: str, obj: Column) -> list[Column]:
        return [subj.alias("subj"), F.lit(pred).alias("pred"), obj.alias("obj")]

    branches = [
        o.select(*t(_iri("order", F.col("o_orderkey")), "placed_by",
                    _iri("customer", F.col("o_custkey")))),
        li.select(*t(_iri("order", F.col("l_orderkey")), "contains",
                     _iri("part", F.col("l_partkey")))).distinct(),
        li.select(*t(_iri("part", F.col("l_partkey")), "supplied_by",
                     _iri("supplier", F.col("l_suppkey")))).distinct(),
        c.select(*t(_iri("customer", F.col("c_custkey")), "located_in",
                    _iri("nation", F.col("c_nationkey")))),
        s.select(*t(_iri("supplier", F.col("s_suppkey")), "located_in",
                    _iri("nation", F.col("s_nationkey")))),
        n.select(*t(_iri("nation", F.col("n_nationkey")), "part_of",
                    _iri("region", F.col("n_regionkey")))),
        c.select(*t(_iri("customer", F.col("c_custkey")), "in_segment",
                    _iri("segment", F.col("c_mktsegment")))),
        p.select(*t(_iri("part", F.col("p_partkey")), "branded",
                    _iri("brand", F.col("p_brand")))),
    ]
    out = branches[0]
    for b in branches[1:]:
        out = out.unionByName(b)
    return out


def predicate_stats(triples: DataFrame) -> DataFrame:
    """Per-predicate profile: triple count, distinct subjects/objects,
    functionality (avg objects per subject) and inverse functionality —
    the standard KG-quality numbers used to pick join directions and
    spot modeling errors (a 'placed_by' with functionality >> 1 means
    duplicate orders).

    Scale: one groupBy(pred) with two count-distincts. Predicate
    cardinality is tiny (tens), so the expand+partial-agg plan Spark
    generates for multi-distinct reduces almost everything map-side;
    no row explosion reaches the shuffle.
    """
    return (
        triples.groupBy("pred")
        .agg(
            F.count(F.lit(1)).alias("n_triples"),
            F.countDistinct("subj").alias("n_subj"),
            F.countDistinct("obj").alias("n_obj"),
        )
        .select(
            "pred",
            "n_triples",
            "n_subj",
            "n_obj",
            F.round(F.col("n_triples") / F.col("n_subj"), 6).alias("functionality"),
            F.round(F.col("n_triples") / F.col("n_obj"), 6).alias("inv_functionality"),
        )
    )


def meta_path_counts(
    triples: DataFrame, path: list[tuple[str, bool]]
) -> DataFrame:
    """Compose a meta-path (pred, reversed)* into (subj, obj, n_paths).

    E.g. ``[("placed_by", True), ("contains", False)]`` walks
    customer ←placed_by─ order ─contains→ part and counts the distinct
    order-mediated paths per (customer, part) — edge inference by path
    counting, the basic move of KG feature engineering.

    Scale: each step is one equi-join on the shared intermediate
    entity followed at the end by a single groupBy count. Hot
    intermediates (a part in millions of orders) make the join skewed
    — that is exactly the AQE skew-join case (session enables
    adaptive); for known-pathological hubs compose with
    operators.skew.salted_join instead. Intermediate columns are
    pruned before each join so only (src, mid) pairs shuffle.
    """
    def step(pred: str, rev: bool) -> DataFrame:
        e = triples.where(F.col("pred") == pred)
        src, dst = ("obj", "subj") if rev else ("subj", "obj")
        return e.select(F.col(src).alias("src"), F.col(dst).alias("dst"))

    cur = step(*path[0])
    for pred, rev in path[1:]:
        nxt = step(pred, rev)
        cur = (
            cur.join(nxt, cur["dst"] == nxt["src"])
            .select(cur["src"].alias("src"), nxt["dst"].alias("dst"))
        )
    return (
        cur.groupBy(F.col("src").alias("subj"), F.col("dst").alias("obj"))
        .agg(F.count(F.lit(1)).alias("n_paths"))
    )


def khop_reachability(
    triples: DataFrame,
    seeds: list[str],
    k: int,
    undirected: bool = True,
    dedup_edges: bool = False,
) -> DataFrame:
    """Min-hop BFS from ``seeds`` over the triple graph, bounded at k
    hops. Returns (entity, hop) with hop = shortest distance (seeds at
    hop 0). ``undirected`` follows edges both ways (the usual notion of
    a KG neighborhood).

    Scale: k ``graphs.relax`` sweeps over the edge list, persisted once
    and never shuffled (k is small and fixed, 2-4 in practice). A
    global edge ``distinct`` is NOT needed for correctness (the
    per-sweep min absorbs multiplicity) and is the single most
    expensive shuffle of the whole traversal, so it is opt-in: set
    ``dedup_edges=True`` only when many subject-object pairs repeat
    across predicates (parallel edges inflate the join fan-out each
    sweep). For diameter-scale traversals use operators.components
    (pointer doubling), not this.
    """
    spark = triples.sparkSession
    if undirected:
        # both orientations from ONE pass over the triple subtree — a
        # union of triples + triples.reversed would instantiate the
        # (possibly expensive) upstream plan twice
        both = F.explode(
            F.array(
                F.struct(F.col("subj").alias("src"), F.col("obj").alias("dst")),
                F.struct(F.col("obj").alias("src"), F.col("subj").alias("dst")),
            )
        )
        edges = triples.select(both.alias("e")).select("e.src", "e.dst")
    else:
        edges = triples.select(F.col("subj").alias("src"), F.col("obj").alias("dst"))
    if dedup_edges:
        edges = edges.distinct()
    edges = edges.persist()
    try:
        ids = sorted(set(seeds))
        labels = spark.createDataFrame(
            pd.DataFrame({"id": ids, "val": [0] * len(ids)}), "id string, val int"
        )
        hops, _ = relax(edges, labels, lambda v: v + 1, k)
        return hops.select(F.col("id").alias("entity"), F.col("val").alias("hop"))
    finally:
        edges.unpersist()


def transitive_closure(
    triples: DataFrame,
    preds: list[str] | None = None,
    max_iter: int = 64,
    dedup_edges: bool = False,
) -> DataFrame:
    """Unbounded reachability closure: every (subj, obj) pair connected
    by a directed path through the ``preds``-filtered edge set, with
    ``hops`` = minimum path length. The datalog ``tc(x,y) :- e(x,y);
    tc(x,y) :- tc(x,z), e(z,y)`` fixpoint, run SEMI-NAIVE: each sweep
    joins only the previous sweep's NEW pairs (the delta) against the
    base edges, never the accumulated closure — the naive variant
    re-derives every known pair every sweep and is quadratically more
    join work on deep graphs. Unlike :func:`khop_reachability` this is
    seedless and unbounded: it runs to convergence (empty delta), not
    to a fixed k, and returns pairs, not a per-entity hop map.

    Scale: the distributed sweeps are ``graphs.relax`` keyed by origin,
    from the distinct edges at one hop. Sweeps are bounded by the
    graph's diameter; ``max_iter`` is a loud backstop (RuntimeError,
    never silent truncation) for adversarial inputs. Cycles are safe:
    the pair space is finite and a pair's hop count only falls, so the
    frontier empties. On a graph whose closure is dense (|TC| ~ V^2)
    the output itself is the bottleneck — that regime wants the
    components operator (one label per node), not materialized pairs;
    the docholder here is the shallow foreign-key DAG of the
    relational triple map (kg.relational_triples), diameter <= 4.

    Size-dispatched (``util.size_dispatch``): a driver-sized edge list
    is collected once through Arrow and closed by a per-source BFS over
    an adjacency dict. Same min-hop semantics by construction (BFS
    layers == semi-naive layers).

    Reference semantics: transitive reachability over the entity graph
    mirrors the reference's connected-entity expansion
    (simkit SimKitProcedures nodePropertiesToGraph + connected
    components chain); the reference bounds expansion by matrix
    powers, this runs the same fixpoint declaratively.
    """
    e = triples
    if preds is not None:
        e = e.where(F.col("pred").isin(list(preds)))
    e = e.select(F.col("subj").alias("src"), F.col("obj").alias("dst"))
    if dedup_edges:
        e = e.distinct()
    return size_dispatch(
        e,
        _closure_local,
        lambda e: _closure_sweeps(e, max_iter),
        "subj {id}, obj {id}, hops int",
    )


def _closure_local(pdf) -> pd.DataFrame:
    adj: dict = {}
    for s, d in zip(pdf["src"], pdf["dst"]):
        adj.setdefault(s, set()).add(d)
    out_rows: list[tuple] = []
    for s in adj:
        # dist records first (= shortest) arrival, INCLUDING a
        # cyclic return to s itself; expanded gates re-expansion
        # so the source's successors are walked exactly once
        dist: dict = {}
        expanded = {s}
        frontier = [s]
        hop = 0
        while frontier:
            hop += 1
            nxt = []
            for u in frontier:
                for v in adj.get(u, ()):
                    if v not in dist:
                        dist[v] = hop
                    if v not in expanded:
                        expanded.add(v)
                        nxt.append(v)
            frontier = nxt
        out_rows.extend((s, d, h) for d, h in dist.items())
    return pd.DataFrame(out_rows, columns=["subj", "obj", "hops"])


def _closure_sweeps(e: DataFrame, max_iter: int) -> DataFrame:
    """Distributed path: ``graphs.relax`` per origin over the
    materialized (src, dst) edge list ``e``, from its distinct edges at
    one hop."""
    paths = e.select(
        F.col("src").alias("origin"), F.col("dst").alias("id"), F.lit(1).alias("val")
    ).distinct()
    tc, converged = relax(e, paths, lambda v: v + 1, max_iter, by=("origin",))
    if not converged:
        raise RuntimeError(
            f"transitive_closure did not converge in {max_iter} sweeps "
            "— diameter exceeds the backstop"
        )
    return tc.select(
        F.col("origin").alias("subj"), F.col("id").alias("obj"), F.col("val").alias("hops")
    )


def top_hubs(triples: DataFrame, n: int = 20) -> DataFrame:
    """Top-n entities by total degree (out + in), ties broken by
    entity asc — the skew map: these are exactly the keys that need
    salting/broadcast special-casing in downstream joins.

    Scale: endpoint union → one groupBy → global top-n. The top-n is a
    TakeOrderedAndProject (per-partition heaps + driver merge of n·P
    rows), never a global sort.
    """
    ends = triples.select(
        F.col("subj").alias("entity"), F.lit(1).alias("o"), F.lit(0).alias("i")
    ).unionByName(
        triples.select(
            F.col("obj").alias("entity"), F.lit(0).alias("o"), F.lit(1).alias("i")
        )
    )
    deg = ends.groupBy("entity").agg(
        F.sum("o").alias("out_deg"), F.sum("i").alias("in_deg")
    )
    return (
        deg.withColumn("degree", F.col("out_deg") + F.col("in_deg"))
        .orderBy(F.desc("degree"), F.asc("entity"))
        .limit(n)
    )


def cooccurrence_edges(
    triples: DataFrame,
    pred: str,
    max_per_subject: int = 1000,
    min_count: int = 1,
) -> DataFrame:
    """Infer undirected 'related_to' edges between objects that share a
    subject under ``pred`` (parts co-contained in an order, entities
    co-mentioned in a document), scored by co-count and PMI
    log(c_ab·N / (c_a·c_b)) with N = distinct subjects.

    Returns (a, b, n_cooccur, pmi) with a < b.

    Scale: the self-join per subject is quadratic in subject degree —
    one hub subject with 10^5 objects would emit 5·10^9 pairs. The
    ``max_per_subject`` guard drops over-degree subjects *before* the
    join (degree via one groupBy, the same no-silent-quadratic contract
    as dedup.candidate_pairs' max_bucket). Marginals c_a/c_b are a
    second narrow aggregate broadcast back onto the pair stream.
    """
    # materialize the deduplicated stream BEFORE deriving the degree
    # guard — the guard, the marginals, the subject count, BOTH sides
    # of the self-join, and the caller's eventual action all read it;
    # localCheckpoint (not persist+unpersist) so the returned lazy plan
    # still reads the materialized copy instead of re-running the
    # upstream scan + distinct once per consumer
    e0 = (
        triples.where(F.col("pred") == pred)
        .select("subj", "obj")
        .distinct()
        .transform(materialize)
    )
    deg = e0.groupBy("subj").agg(F.count(F.lit(1)).alias("d"))
    e = (
        e0.join(
            F.broadcast(deg.where(F.col("d") > max_per_subject)), "subj", "left_anti"
        )
        if max_per_subject
        else e0
    )
    n_subj = e.select("subj").distinct().count()
    marg = e.groupBy("obj").agg(F.count(F.lit(1)).alias("c"))
    a, b = e.alias("a"), e.alias("b")
    pairs = (
        a.join(b, "subj")
        .where(F.col("a.obj") < F.col("b.obj"))
        .groupBy(F.col("a.obj").alias("a"), F.col("b.obj").alias("b"))
        .agg(F.count(F.lit(1)).alias("n_cooccur"))
        .where(F.col("n_cooccur") >= min_count)
    )
    ma = marg.select(F.col("obj").alias("a"), F.col("c").alias("ca"))
    mb = marg.select(F.col("obj").alias("b"), F.col("c").alias("cb"))
    return (
        pairs.join(F.broadcast(ma), "a")
        .join(F.broadcast(mb), "b")
        .select(
            "a",
            "b",
            "n_cooccur",
            F.round(
                F.log(
                    F.col("n_cooccur") * F.lit(float(n_subj))
                    / (F.col("ca") * F.col("cb"))
                ),
                6,
            ).alias("pmi"),
        )
    )


def validate_constraints(
    triples: DataFrame,
    kind_constraints: list[tuple[str, str, str]],
    max_out: dict[str, int] | None = None,
) -> DataFrame:
    """SHACL-lite KG validation — the QA gate a construction pipeline
    runs before publishing a snapshot. Two constraint families:

    * ``kind_constraints``: (pred, subj_kind, obj_kind) domain/range
      rules — a triple whose subject/object IRI prefix differs from the
      declared kind is a violation (kind 'domain' / 'range').
    * ``max_out``: pred -> max objects per subject (cardinality;
      ``{'placed_by': 1}`` = functional). Violating subjects emit one
      row per offending triple (kind 'cardinality').

    Returns (subj, pred, obj, violation). Predicates without declared
    rules pass silently (open-world).

    Scale: the rule table is rows-per-predicate tiny — a broadcast
    join against the triple stream, evaluated as pure column
    expressions (split on ':' + comparisons, codegen); the cardinality
    check is one groupBy(subj, pred) count filtered by the broadcast
    limits — no windows, no second scan of violating rows (the count
    rides back on a broadcast semi-structure only when a limit exists).
    """
    spark = triples.sparkSession
    out = []
    if kind_constraints:
        rules = F.broadcast(
            spark.createDataFrame(
                kind_constraints, "pred string, subj_kind string, obj_kind string"
            )
        )
        checked = triples.join(rules, "pred")
        skind = F.split(F.col("subj"), ":").getItem(0)
        okind = F.split(F.col("obj"), ":").getItem(0)
        out.append(
            checked.where(skind != F.col("subj_kind")).select(
                "subj", "pred", "obj", F.lit("domain").alias("violation")
            )
        )
        out.append(
            checked.where(okind != F.col("obj_kind")).select(
                "subj", "pred", "obj", F.lit("range").alias("violation")
            )
        )
    if max_out:
        limits = F.broadcast(
            spark.createDataFrame(
                list(max_out.items()), "pred string, max_out int"
            )
        )
        over = (
            triples.join(limits, "pred")
            .groupBy("subj", "pred", "max_out")
            .agg(F.count(F.lit(1)).alias("n"))
            .where(F.col("n") > F.col("max_out"))
            .select("subj", "pred")
        )
        out.append(
            triples.join(over, ["subj", "pred"], "left_semi").select(
                "subj", "pred", "obj", F.lit("cardinality").alias("violation")
            )
        )
    if not out:
        raise ValueError("no constraints given")
    res = out[0]
    for o in out[1:]:
        res = res.unionByName(o)
    return res


def latest_snapshot(
    triples: DataFrame, ts_col: str = "ts", as_of=None
) -> DataFrame:
    """Temporal-KG current view: given timestamped assertions
    (subj, pred, obj, ts), return the LATEST obj per (subj, pred) —
    optionally as of a cutoff — i.e. the SCD-style snapshot a consumer
    joins against when predicates are functional over time ("current
    address", "last ordered part").

    Deterministic tiebreak: equal timestamps resolve to the largest
    obj (string order), via one max-of-struct hash aggregation — the
    asof.py union-trick convention: NO per-key window sort, map-side
    partial max, one shuffle keyed by (subj, pred).
    """
    t = triples if as_of is None else triples.where(F.col(ts_col) <= as_of)
    return (
        t.groupBy("subj", "pred")
        .agg(
            F.max(
                F.struct(F.col(ts_col).alias("ts"), F.col("obj").alias("obj"))
            ).alias("m")
        )
        .select("subj", "pred", F.col("m.obj").alias("obj"), F.col("m.ts").alias("ts"))
    )


def degree_profile(triples: DataFrame) -> DataFrame:
    """Degree distribution per entity kind (the IRI's ``kind:`` prefix)
    and side — the first thing to look at before joining against a new
    KG: it is the skew map (p90 vs max gap = hub risk) and the
    join-direction guide (functionality at the distribution level).

    Returns (kind, side, n_entities, deg_min, deg_p50, deg_p90,
    deg_max, deg_total); side 'out' counts subject occurrences, 'in'
    object occurrences. Exact linear-interpolation percentiles (Spark
    ``percentile`` == DuckDB ``quantile_cont`` — the token_quantiles
    convention), legitimate because the grouped values are per-entity
    DEGREES (entity-count-sized, one narrow shuffle), not raw rows; at
    10^12 triples switch to approx_percentile (t-digest) per the same
    trade documented in functions.text.token_quantiles.
    """
    ends = triples.select(
        F.explode(
            F.array(
                F.struct(F.col("subj").alias("entity"), F.lit("out").alias("side")),
                F.struct(F.col("obj").alias("entity"), F.lit("in").alias("side")),
            )
        ).alias("e")
    ).select("e.entity", "e.side")
    deg = ends.groupBy("entity", "side").agg(F.count(F.lit(1)).alias("d"))
    return (
        deg.groupBy(
            F.split(F.col("entity"), ":").getItem(0).alias("kind"), "side"
        )
        .agg(
            F.count(F.lit(1)).alias("n_entities"),
            F.min("d").alias("deg_min"),
            F.round(F.percentile("d", F.lit(0.5)), 6).alias("deg_p50"),
            F.round(F.percentile("d", F.lit(0.9)), 6).alias("deg_p90"),
            F.max("d").alias("deg_max"),
            F.sum("d").alias("deg_total"),
        )
    )


def bgp_match(
    triples: DataFrame,
    patterns: list[tuple[str, str, str]],
    optional: list[tuple[str, str, str]] | None = None,
    allow_cartesian: bool = False,
) -> DataFrame:
    """SPARQL-style basic-graph-pattern matching: each pattern is a
    (subj, pred, obj) template whose ``?name`` terms are variables and
    whose other terms are constants; the result has one column per
    variable, one row per binding that satisfies every pattern
    simultaneously.

    E.g. customers in region:0 and the brands they bought::

        bgp_match(t, [("?c", "located_in", "?n"),
                      ("?n", "part_of", "region:0"),
                      ("?o", "placed_by", "?c"),
                      ("?o", "contains", "?p"),
                      ("?p", "branded", "?b")])

    ``optional`` templates implement SPARQL OPTIONAL: they extend
    bindings via a LEFT join (their fresh variables come back null when
    no extension exists) and never eliminate rows. Each must share at
    least one variable with the required prefix.

    Scale: each template compiles to a constant-filtered projection of
    the triple table (predicate constants prune the union branches all
    the way into the parquet scans), and templates fold left into
    equi-joins on their shared variables — exactly the shape Catalyst
    + AQE optimize (broadcast for selective templates, skew-split for
    hot join keys). Order templates selective-first; a template sharing
    NO variable with the accumulated prefix is a cartesian product and
    raises unless ``allow_cartesian`` (the SPARQL cross-join footgun
    made explicit).
    """
    def compile_one(p: tuple[str, str, str]) -> DataFrame:
        df = triples
        cols: dict[str, Column] = {}
        for pos, term in zip(("subj", "pred", "obj"), p):
            if term.startswith("?"):
                var = term[1:]
                if var in cols:  # repeated var inside one template
                    df = df.where(F.col(pos) == cols[var])
                else:
                    cols[var] = F.col(pos)
            else:
                df = df.where(F.col(pos) == term)
        return df.select(*[c.alias(v) for v, c in cols.items()])

    out = compile_one(patterns[0])
    for p in patterns[1:]:
        nxt = compile_one(p)
        shared = sorted(set(out.columns) & set(nxt.columns))
        if not shared and not allow_cartesian:
            raise ValueError(
                f"pattern {p} shares no variable with the prefix "
                f"{sorted(out.columns)}; pass allow_cartesian=True if the "
                "cross product is intended"
            )
        out = out.join(nxt, on=shared) if shared else out.crossJoin(nxt)
    for p in optional or []:
        nxt = compile_one(p)
        shared = sorted(set(out.columns) & set(nxt.columns))
        if not shared:
            raise ValueError(
                f"OPTIONAL pattern {p} shares no variable with the required "
                f"prefix {sorted(out.columns)}"
            )
        out = out.join(nxt, on=shared, how="left")
    return out


def entity_cards(
    triples: DataFrame,
    max_degree: int = 10_000,
    include_reverse: bool = True,
) -> DataFrame:
    """Verbalize each entity's neighborhood into one deterministic text
    line — the KG→text bridge for LM pretraining corpora (and for
    embedding models that encode entities from natural-language cards).

    Returns (entity, n_facts, card) where card =
    ``entity | fact; fact; ...`` with facts ``pred obj`` (outgoing) and
    ``^pred subj`` (incoming, when ``include_reverse``), sorted
    lexicographically so the serialization is partition- and
    engine-independent.

    Scale: one explode pass emits (entity, fact) rows for both
    orientations (no double subtree), one groupBy collects per-entity
    facts. collect_list on a hub entity (a segment node with 10^9
    members) is the OOM path, so over-degree entities are dropped
    BEFORE the collect via a degree pre-aggregate — same
    no-silent-quadratic contract as cooccurrence_edges; lower
    ``max_degree`` to match executor memory at scale.
    """
    both = [
        F.struct(
            F.col("subj").alias("entity"),
            F.concat_ws(" ", F.col("pred"), F.col("obj")).alias("fact"),
        )
    ]
    if include_reverse:
        both.append(
            F.struct(
                F.col("obj").alias("entity"),
                F.concat_ws(" ", F.concat(F.lit("^"), F.col("pred")),
                            F.col("subj")).alias("fact"),
            )
        )
    rows = triples.select(F.explode(F.array(*both)).alias("e")).select(
        "e.entity", "e.fact"
    )
    # degree from an ids-only projection: the pre-aggregate must not pay
    # for fact-string construction (that subtree is evaluated separately
    # from `rows`); the over-cap set is tiny by definition -> broadcast
    # anti-join, so `rows` itself never shuffles for the guard
    ends = F.array(F.col("subj"), F.col("obj")) if include_reverse else F.array(
        F.col("subj")
    )
    deg = (
        triples.select(F.explode(ends).alias("entity"))
        .groupBy("entity")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    rows = rows.join(
        F.broadcast(deg.where(F.col("d") > max_degree)), "entity", "left_anti"
    )
    return (
        rows.groupBy("entity")
        .agg(
            F.count(F.lit(1)).alias("n_facts"),
            F.concat_ws("; ", F.sort_array(F.collect_list("fact"))).alias("facts"),
        )
        .select(
            "entity",
            "n_facts",
            F.concat_ws(" | ", F.col("entity"), F.col("facts")).alias("card"),
        )
    )


def negative_samples(
    triples: DataFrame,
    pred: str,
    obj_kind: str,
    n_objects: int,
    n_neg: int = 1,
    seed: int = 42,
    key_base: int = 0,
) -> DataFrame:
    """TransE-style corrupted triples for KG-embedding training: for
    each (subj, pred, obj) emit ``n_neg`` (subj, pred, obj_neg) rows
    with obj_neg drawn deterministically from the object key space
    ``obj_kind:key_base..key_base+n_objects-1``, excluding corruptions
    that happen to be true triples (the standard filtered-negative
    protocol).

    Determinism: the draw is key_base + md5(subj:obj:j:seed) mod
    n_objects — the portable hash family (dedup._md5_long), so a SQL
    oracle reproduces the samples bit-identically and re-runs are
    stable at any partitioning. Requires a contiguous key space
    starting at ``key_base`` — match it to the actual key origin
    (classic TPC-H keys are 1-based; this repo's synthetic testdata is
    0-based): a mismatched base emits phantom entities one past the
    real range and never samples the opposite end. For
    arbitrary pools rank the pool first (the range-partitioned dense ranking in
    functions.text.word_ranks scales that without a single-partition
    window).

    Scale: a per-row map (explode of a j-sequence) plus one left-anti
    join against the true triple set on (subj, obj_neg) — both sides
    hash-partition on the same key; no window, no driver state.
    """
    base = triples.where(F.col("pred") == pred).select("subj", "obj")
    drawn = (
        base.select(
            "subj",
            "obj",
            F.explode(F.sequence(F.lit(0), F.lit(n_neg - 1))).alias("j"),
        )
        .withColumn(
            "obj_neg",
            _iri(
                obj_kind,
                F.pmod(
                    _md5_long(
                        F.concat_ws(
                            ":", F.col("subj"), F.col("obj"), F.col("j"),
                            F.lit(str(seed)),
                        )
                    ),
                    F.lit(n_objects),
                )
                + F.lit(key_base),
            ),
        )
    )
    true_pairs = base.select(
        F.col("subj").alias("t_subj"), F.col("obj").alias("t_obj")
    ).distinct()
    return (
        drawn.join(
            true_pairs,
            (drawn["subj"] == true_pairs["t_subj"])
            & (drawn["obj_neg"] == true_pairs["t_obj"]),
            "left_anti",
        )
        .select("subj", F.lit(pred).alias("pred"), "obj", "j", "obj_neg")
    )


def _hash_embedding(ent: Column, dim: int, modulus: int, seed: int) -> Column:
    """Deterministic integer 'embedding' for an entity/relation IRI:
    component d = md5(ent:d:seed) mod modulus, an int in [0, modulus).
    The portable hash family (functions/dedup._md5_long) so a SQL twin
    reproduces every component bit-identically. Integer components keep
    TransE L1 scores in exact bigint arithmetic — no float drift across
    engines, partitionings, or reduction orders."""
    return F.transform(
        F.sequence(F.lit(0), F.lit(dim - 1)),
        lambda d: F.pmod(
            _md5_long(
                F.concat_ws(":", ent, d.cast("string"), F.lit(str(seed)))
            ),
            F.lit(modulus),
        ),
    )


def transe_rank(
    triples: DataFrame,
    pred: str,
    obj_kind: str,
    n_objects: int,
    dim: int = 4,
    modulus: int = 1000,
    seed: int = 42,
    key_base: int = 0,
    candidate_blocks: int = 1,
) -> DataFrame:
    """TransE-style filtered link-prediction evaluation: for every true
    triple (h, pred, t), rank t among the candidate object space
    ``obj_kind:key_base..key_base+n_objects-1`` by the L1 translation
    score s(h, c) = sum_d |e_h[d] + e_r[d] - e_c[d]|, lower = better.
    Embeddings are the deterministic integer hash embeddings of
    `_hash_embedding` — this evaluates the *eval harness* (the
    rank/MRR/Hits@k machinery KG-embedding training needs), with a
    model the oracle can reproduce exactly; a trained float model plugs
    into the same plan by swapping the embedding columns.

    Filtered protocol (Bordes et al., TransE; the standard since
    FB15k): corruptions c that are themselves true triples (h, pred, c)
    are excluded from the ranking, as is c = t. Ties are broken by
    candidate IRI (binary string order), giving a deterministic total
    order: rank = 1 + #{c kept : s(c) < s_true or (s(c) = s_true and
    c < t)}.

    Returns one row per distinct true (subj, obj): (subj, obj, s_true
    bigint, rank bigint). MRR = avg(1/rank), Hits@k = avg(rank <= k)
    downstream.

    Scale (10^12-triple regime): the candidate table is n_objects rows
    of dim ints — broadcast (a 10^6-entity vocabulary at dim 128 is
    ~1 GB of ints). Past the single-broadcast budget set
    ``candidate_blocks > 1``: the candidate axis is split into B
    contiguous key ranges, each broadcast and scored independently, and
    the per-block marked streams union into ONE final count-better
    aggregation — each group still sees exactly n_objects rows across
    blocks, so the no-join-back shape is preserved and the output is
    bit-identical to the unblocked plan (tested). Per executor the peak
    broadcast is n_objects/B rows; for 10^8+ vocabularies rescore only
    ANN shortlist candidates via functions/similarity.py instead. Per-
    row work is dim * n_objects inside whole-stage codegen
    (transform/zip_with/aggregate — no Python), and the count-better
    aggregation is a map-side-combinable groupBy on (subj, obj),
    hash-partitioned, no window. The true-pair filter joins on the same
    (subj, candidate) key the score stream already carries.
    """
    return _filtered_rank(
        triples, pred, obj_kind, n_objects, dim, modulus, seed, key_base,
        candidate_blocks,
        combine=lambda a, b: a + b,          # query vec = e_h + e_r
        term=lambda a, b: F.abs(a - b),      # L1 translation distance
        higher_is_better=False,
    )


def distmult_rank(
    triples: DataFrame,
    pred: str,
    obj_kind: str,
    n_objects: int,
    dim: int = 4,
    modulus: int = 1000,
    seed: int = 42,
    key_base: int = 0,
    candidate_blocks: int = 1,
) -> DataFrame:
    """DistMult-style filtered link-prediction evaluation (Yang et al.,
    ICLR 2015): the diagonal-bilinear score s(h, c) = sum_d
    e_h[d]·e_r[d]·e_c[d], HIGHER = better — the multiplicative scoring
    family next to transe_rank's additive one; both share one harness
    (`_filtered_rank`), so rank/MRR/Hits@k tooling and the blocked
    candidate-axis scale path are identical. Integer hash embeddings
    keep every score exact (component < modulus, so a term <
    modulus^3 = 10^9 and sums stay far from int64 overflow); rank =
    1 + #{c kept : s(c) > s_true or (s(c) = s_true and c < t)} under
    the same filtered protocol and IRI tiebreak.
    """
    return _filtered_rank(
        triples, pred, obj_kind, n_objects, dim, modulus, seed, key_base,
        candidate_blocks,
        combine=lambda a, b: a * b,          # query vec = e_h ∘ e_r
        term=lambda a, b: a * b,             # dot with the candidate
        higher_is_better=True,
    )


def _filtered_rank(
    triples: DataFrame,
    pred: str,
    obj_kind: str,
    n_objects: int,
    dim: int,
    modulus: int,
    seed: int,
    key_base: int,
    candidate_blocks: int,
    combine,
    term,
    higher_is_better: bool,
) -> DataFrame:
    """Shared filtered-protocol eval harness: query vec = zip_with(e_h,
    e_r, ``combine``); score = sum_d term(query[d], e_c[d]); see
    transe_rank for the protocol and the blocked-broadcast scale shape.
    """
    base = (
        triples.where(F.col("pred") == pred)
        .select("subj", "obj")
        .distinct()
    )
    rel = _hash_embedding(F.lit(pred), dim, modulus, seed)
    # query vector and the true-tail score, computed once per triple
    base_h = base.select(
        "subj",
        "obj",
        F.zip_with(
            _hash_embedding(F.col("subj"), dim, modulus, seed),
            rel,
            combine,
        ).alias("_hr"),
    ).withColumn(
        "s_true",
        F.aggregate(
            F.zip_with(
                F.col("_hr"),
                _hash_embedding(F.col("obj"), dim, modulus, seed),
                term,
            ),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ),
    )
    spark = triples.sparkSession
    true_pairs = base.select(
        F.col("subj").alias("t_subj"), F.col("obj").alias("t_obj")
    )

    def block_marked(lo: int, hi: int) -> DataFrame:
        cands = (
            spark.range(lo, hi)
            .select(_iri(obj_kind, F.col("id") + F.lit(key_base)).alias("cand"))
            .withColumn("_ec", _hash_embedding(F.col("cand"), dim, modulus, seed))
        )
        scored = base_h.join(F.broadcast(cands)).withColumn(
            "s_cand",
            F.aggregate(
                F.zip_with(F.col("_hr"), F.col("_ec"), term),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            ),
        )
        # mark (not anti-join) filtered candidates, then aggregate over
        # ALL candidate rows: every (subj, obj) group sees exactly
        # n_objects rows across blocks, so a triple whose every
        # candidate is filtered still gets a group (rank 1) — no
        # join-back, one exchange fewer than kept-rows-then-rejoin
        return scored.join(
            true_pairs,
            (scored["subj"] == true_pairs["t_subj"])
            & (scored["cand"] == true_pairs["t_obj"]),
            "left",
        )

    n_blocks = max(1, min(candidate_blocks, n_objects))
    step = -(-n_objects // n_blocks)  # ceil
    parts = [
        block_marked(lo, min(lo + step, n_objects))
        for lo in range(0, n_objects, step)
    ]
    marked = parts[0]
    for p in parts[1:]:
        marked = marked.unionByName(p)
    wins = (
        (F.col("s_cand") > F.col("s_true"))
        if higher_is_better
        else (F.col("s_cand") < F.col("s_true"))
    )
    better = (
        (F.col("cand") != F.col("obj"))
        & F.col("t_subj").isNull()
        & (
            wins
            | (
                (F.col("s_cand") == F.col("s_true"))
                & (F.col("cand") < F.col("obj"))
            )
        )
    )
    return (
        marked.groupBy("subj", "obj", "s_true")
        .agg(
            (F.sum(F.when(better, 1).otherwise(0)) + F.lit(1))
            .cast("long")
            .alias("rank")
        )
        .select("subj", "obj", "s_true", "rank")
    )


def rdfs_entail(triples: DataFrame, schema: list[tuple[str, str, str]]) -> DataFrame:
    """RDFS-lite entailment materialization (the rho-df fragment:
    subClassOf, subPropertyOf, domain, range) — the reasoning pass that
    completes a constructed KG before publishing:

      (x p y), (p subPropertyOf* q)           ->  (x q y)
      (x p y), (q domain C) for q ⊒ p         ->  (x type C)
      (x p y), (q range  C) for q ⊒ p         ->  (y type C)
      (x type C), (C subClassOf* D)           ->  (x type D)

    ``schema`` is the ontology as (s, pred, o) rows with pred in
    {subClassOf, subPropertyOf, domain, range} — KB-sized by nature
    (classes and properties, not instances), so ALL fixpoint iteration
    happens here on the driver: transitive closures of subClassOf /
    subPropertyOf and the effective domain/range sets (a property
    inherits its superproperties' domains/ranges) are computed in plain
    python, then applied to the instance stream as three broadcast
    equi-joins + a union + one distinct. No instance-level iteration,
    no shuffle except the final distinct — the design that holds at
    10^12 instance triples, where the classic pitfall (semi-naive
    iteration over the full triple table per rule, e.g. the naive
    Cichlid/SparkRDF layouts) pays a shuffle per sweep.

    Returns the materialized KG: original triples ∪ entailed
    (subj, pred, obj) rows, distinct; entity type rows use pred
    'type' and class IRIs verbatim from the schema.
    """
    subc: dict[str, set[str]] = {}
    subp: dict[str, set[str]] = {}
    dom: dict[str, set[str]] = {}
    rng: dict[str, set[str]] = {}
    for s, p, o in schema:
        if p == "subClassOf":
            subc.setdefault(s, set()).add(o)
        elif p == "subPropertyOf":
            subp.setdefault(s, set()).add(o)
        elif p == "domain":
            dom.setdefault(s, set()).add(o)
        elif p == "range":
            rng.setdefault(s, set()).add(o)
        else:
            raise ValueError(f"unknown schema predicate: {p!r}")

    def closure(g: dict[str, set[str]]) -> dict[str, set[str]]:
        out = {k: set(v) for k, v in g.items()}
        changed = True
        while changed:  # tiny: |schema| nodes
            changed = False
            for k, sup in out.items():
                grow = set()
                for s in sup:
                    grow |= out.get(s, set())
                if not grow <= sup:
                    sup |= grow
                    changed = True
        return out

    subc_c, subp_c = closure(subc), closure(subp)
    # effective domain/range of p: over p and every superproperty of p
    all_props = set(subp_c) | set(dom) | set(rng)
    eff_dom = {
        p: set().union(
            *(dom.get(q, set()) for q in ({p} | subp_c.get(p, set())))
        )
        for p in all_props
    }
    eff_rng = {
        p: set().union(
            *(rng.get(q, set()) for q in ({p} | subp_c.get(p, set())))
        )
        for p in all_props
    }

    spark = triples.sparkSession

    def pairs_df(m: dict[str, set[str]], a: str, b: str) -> DataFrame:
        rows = [(k, v) for k, vs in sorted(m.items()) for v in sorted(vs)]
        return spark.createDataFrame(
            pd.DataFrame(rows, columns=[a, b]), f"{a} string, {b} string"
        )

    t = triples.select("subj", "pred", "obj")
    sup_props = pairs_df(subp_c, "pred", "q")
    derived_rel = (
        t.join(F.broadcast(sup_props), "pred")
        .select("subj", F.col("q").alias("pred"), "obj")
    )
    dom_df = pairs_df({k: v for k, v in eff_dom.items() if v}, "pred", "cls")
    rng_df = pairs_df({k: v for k, v in eff_rng.items() if v}, "pred", "cls")
    typed = (
        t.join(F.broadcast(dom_df), "pred")
        .select(F.col("subj").alias("ent"), "cls")
        .unionByName(
            t.join(F.broadcast(rng_df), "pred")
            .select(F.col("obj").alias("ent"), "cls")
        )
    )
    # reflexive+transitive class closure: every asserted class maps to
    # itself plus all strict superclasses
    all_cls = set(subc_c) | {c for vs in subc_c.values() for c in vs} | {
        c for vs in eff_dom.values() for c in vs
    } | {c for vs in eff_rng.values() for c in vs}
    cls_refl = {c: {c} | subc_c.get(c, set()) for c in sorted(all_cls)}
    cls_df = pairs_df(cls_refl, "cls", "sup")
    type_rows = (
        typed.join(F.broadcast(cls_df), "cls")
        .select("ent", "sup")
        .select(
            F.col("ent").alias("subj"),
            F.lit("type").alias("pred"),
            F.col("sup").alias("obj"),
        )
    )
    return t.unionByName(derived_rel).unionByName(type_rows).distinct()


def sameas_canonicalize(
    triples: DataFrame,
    sameas_pred: str = "sameAs",
) -> DataFrame:
    """owl:sameAs canonicalization — the connected-components merge of
    entity clusters (BASELINE.json north_star) expressed as a triple-
    table rewrite. The ``sameas_pred`` rows define an equivalence
    relation (their symmetric-transitive closure); every member of an
    equivalence class is rewritten to the class's canonical
    representative = min IRI (lexicographic, the same min-label
    contract as ``operators.components``), the ``sameas_pred`` rows
    themselves are dropped, and collapsed duplicates are removed.

    Scale shape (10^12-triple regime): the sameAs subgraph is
    alias-sized — orders of magnitude smaller than the instance stream
    — so the O(log diameter) pointer-doubling/union-find cost of the
    closure is paid on the small table only. The rewrite is two
    equi-joins against the non-identity entries of the canonical map
    (id != component rows only, usually broadcastable) plus one
    distinct: the same no-instance-iteration shape as ``rdfs_entail``.
    Size dispatch (numpy union-find under one Arrow collect vs the
    distributed loop) is inherited from ``connected_components``.

    The reference's merge is implicit in its dense k-means cluster ids
    (simkit has no triple store); this is the KG-native equivalent the
    linking pipeline's resolve stage (pipeline/materialize.py) applies
    to mention-level entity maps.
    """
    from .operators.components import connected_components

    sa = triples.where(F.col("pred") == sameas_pred).select(
        F.col("subj").alias("src"), F.col("obj").alias("dst")
    )
    comp = connected_components(sa)
    # only non-identity rewrites join back — the map stays alias-sized
    m = comp.where(F.col("id") != F.col("component"))
    rest = triples.select("subj", "pred", "obj").where(
        F.col("pred") != sameas_pred
    )
    ms = m.select(F.col("id").alias("subj"), F.col("component").alias("subj_c"))
    mo = m.select(F.col("id").alias("obj"), F.col("component").alias("obj_c"))
    return (
        rest.join(ms, "subj", "left")
        .join(mo, "obj", "left")
        .select(
            F.coalesce("subj_c", "subj").alias("subj"),
            "pred",
            F.coalesce("obj_c", "obj").alias("obj"),
        )
        .distinct()
    )


def rule_mining(
    triples: DataFrame,
    min_support: int = 10,
    min_confidence: float = 0.05,
    max_join_degree: int = 1000,
    chain_exclude: list[str] | None = None,
    dp: int = 6,
) -> DataFrame:
    """AMIE-style horn-rule mining over the triple table (Galarraga et
    al., WWW'13): score every candidate rule whose body is one or two
    atoms against its head predicate, by

      support       = #distinct (x, y) satisfying body AND head
      confidence    = support / #distinct (x, y) satisfying body
      head_coverage = support / #distinct (x, y) satisfying head

    Three rule shapes (the closed rules of body length <= 2):

      same     p(x, y)              => q(x, y)   (p != q; subsumption)
      inverse  p(y, x)              => q(x, y)   (p = q detects symmetry)
      chain    p1(x, z) & p2(z, y)  => q(x, y)   (composition paths)

    Returns (rule_type, body1, body2, head, support, body_size,
    head_size, confidence, head_coverage), body2 null for length-1
    rules, filtered to support >= min_support and confidence >=
    min_confidence.

    ``chain_exclude`` drops predicates from CHAIN BODIES only (they
    still score as heads and as length-1 bodies). Use it for entailed
    superproperties (involves, related_to): every chain through a
    derived predicate is a union of base-predicate chains, so mining
    them re-derives base rules at multiplied cost — with two derived
    levels the chain pair space is 9x the base one. This is AMIE's
    practice of mining over base facts.

    Size-dispatched (``util.size_dispatch``) on the (pred, subj, obj)
    projection, with no Spark ``distinct`` ahead of the dispatch: the
    usual input (an entailed KG) is distinct already, so the row budget
    counts duplicate rows where there are any. Both paths de-duplicate
    and produce the same integer count table (everything but the two
    ratios, support >= min_support):

    - driver-sized: one Arrow collect and a numpy twin
      (:func:`_rule_counts_local`) over factorized entity/predicate
      codes, de-duplicated there. A driver-sized triple table can still have a quadratic
      chain space, so before any merge the twin computes the exact
      chain pair space sum_z in(z)*out(z) (from bincounts) and the row
      counts of its two (x, y)-keyed self-merges, and declines —
      handing the table to the distributed plan — when any exceeds the
      byte budget's worth of three-long rows
      (``util.local_dispatch_rows``, ~2.8M rows for 64 MiB); the head
      match of the distinct chain pairs is held to the same bound.
    - otherwise: the distributed plan (:func:`_rule_counts_dist`) over
      the materialized ``distinct()`` of the projection.

    The ratios are then ONE Spark projection over either count table,
    so they are Spark's rounded division on both paths.

    Scale (10^12-triple regime): the chain pair space is
    sum_z in(z)*out(z) — the irreducible cost of composition mining —
    and the distributed plan traverses it SUPPORT-FIRST: the z-join
    streams straight into the head join and a countDistinct, so the
    full pair space is never materialized or deduplicated; body sizes
    (the confidence denominators) are then recomputed only for the few
    (p1, p2) bodies that survived min_support, over predicate-filtered
    streams. The ``max_join_degree`` guard drops over-degree join
    entities before the quadratic step (the cooccurrence_edges
    no-silent-quadratic contract — AMIE's functionality pruning plays
    the same role). No per-rule iteration: all rules of a shape are
    scored by one grouped plan. The reference has no rule miner; this
    is KG-consumption surface beyond parity (SURVEY §2 extension).

    Determinism: counts are exact integers; the two ratios are one
    correctly-rounded double division each (round half-up at ``dp``),
    reproducible bit-exactly by the DuckDB twin.
    """
    excl = list(chain_exclude or [])
    counts = size_dispatch(
        triples.select("pred", "subj", "obj"),
        lambda pdf: _rule_counts_local(pdf, min_support, max_join_degree, excl),
        lambda t: _rule_counts_dist(
            materialize(t.distinct()), min_support, max_join_degree, excl
        ),
        "rule_type string, body1 string, body2 string, head string, "
        "support long, body_size long, head_size long",
    )
    return counts.select(
        "*",
        F.round(F.col("support") / F.col("body_size"), dp).alias("confidence"),
        F.round(F.col("support") / F.col("head_size"), dp).alias("head_coverage"),
    ).where(F.col("confidence") >= min_confidence)


def _rule_counts_dist(
    t: DataFrame, min_support: int, max_join_degree: int, chain_exclude: list[str]
) -> DataFrame:
    """Distributed rule counts over the materialized distinct triple
    table ``t``."""
    # head sizes: #distinct pairs per predicate (t is already distinct)
    hsize = t.groupBy("pred").agg(F.count(F.lit(1)).alias("head_size"))
    head = t.select(
        F.col("pred").alias("head"),
        F.col("subj").alias("x"),
        F.col("obj").alias("y"),
    )

    def sized(sup: DataFrame, bsize: DataFrame, keys: list[str], rule_type: str) -> DataFrame:
        return (
            sup.join(F.broadcast(bsize), keys)
            .join(F.broadcast(hsize.withColumnRenamed("pred", "head")), "head")
            .select(
                F.lit(rule_type).alias("rule_type"),
                F.col("body1"),
                (F.col("body2") if "body2" in keys else F.lit(None).cast("string")).alias("body2"),
                "head",
                "support",
                "body_size",
                "head_size",
            )
        )

    def score_simple(body: DataFrame, rule_type: str) -> DataFrame:
        # length-1 bodies are pure renames of the distinct t: body
        # pairs are already deduplicated, sizes are one count each
        bsize = body.groupBy("body1").agg(F.count(F.lit(1)).alias("body_size"))
        sup = (
            body.join(head, ["x", "y"])
            .groupBy("body1", "head")
            .agg(F.count(F.lit(1)).alias("support"))
            .where(F.col("support") >= min_support)
        )
        return sized(sup, bsize, ["body1"], rule_type)

    same = t.select(
        F.col("pred").alias("body1"), F.col("subj").alias("x"), F.col("obj").alias("y")
    )
    inv = t.select(
        F.col("pred").alias("body1"), F.col("obj").alias("x"), F.col("subj").alias("y")
    )
    # chain: degree guard on the join entity z (z appears as obj of the
    # first atom and subj of the second; cap its TOTAL degree in the
    # deduplicated pair space, both orientations, before the self-join)
    deg = (
        t.select(F.col("subj").alias("z"))
        .unionAll(t.select(F.col("obj").alias("z")))
        .groupBy("z")
        .agg(F.count(F.lit(1)).alias("d"))
        .where(F.col("d") > max_join_degree)
    )
    tc = t
    if chain_exclude:
        tc = t.where(~F.col("pred").isin(chain_exclude))
    left = tc.select(
        F.col("pred").alias("body1"), F.col("subj").alias("x"), F.col("obj").alias("z")
    ).join(F.broadcast(deg), "z", "left_anti")
    right = tc.select(
        F.col("pred").alias("body2"), F.col("subj").alias("z"), F.col("obj").alias("y")
    ).join(F.broadcast(deg), "z", "left_anti")
    # EXACT pair-space pruning (AMIE functionality-style, but a hard
    # bound): support(p1 & p2 => q) <= #chain pairs of (p1, p2)
    #       = sum_z in_{p1}(z) * out_{p2}(z)
    # computed from per-(pred, z) degree tables whose join on z costs
    # sum_z preds_in(z)*preds_out(z) rows — predicate-count-sized per
    # entity, NOT degree-sized, so the bound is orders cheaper than
    # the space it bounds. Every (body1, body2) whose bound cannot
    # reach min_support is dropped BEFORE the quadratic z-join — no
    # head can revive it, so the output is bit-identical (oracle
    # unchanged). The degree tables derive from the same capped /
    # chain_excluded streams as the join, keeping the bound an upper
    # bound of the space actually traversed. Residual cost: surviving
    # pairs still pay their own sum_z in*out generation — that is the
    # irreducible composition-mining space; AMIE's sampled-support
    # estimate (with exact rescoring) is the lossy lever beyond this.
    # The pruning never changes the output (the bound is exact), only
    # whether the accounting pass is paid: it runs when the stream
    # carries >= 16 distinct predicates — below that every pair of a
    # real KG is dense enough that the bound cannot fire, and the two
    # extra degree aggregations are a measured ~6 s dead cost at
    # sf0.1's 12-predicate entailed KG; above it, rare-predicate
    # tails appear and the bound kills their pairs before the z-join
    # (39% of pairs on the 23-predicate 10M-triple stress).
    prune = tc.select("pred").distinct().count() >= 16
    if prune:
        a_deg = left.groupBy("body1", "z").agg(F.count(F.lit(1)).alias("a_n"))
        b_deg = right.groupBy("body2", "z").agg(F.count(F.lit(1)).alias("b_n"))
        pair_space = (
            a_deg.join(b_deg, "z")
            .groupBy("body1", "body2")
            .agg(F.sum(F.col("a_n") * F.col("b_n")).alias("pspace"))
        )
        allowed = materialize(
            pair_space.where(F.col("pspace") >= min_support).select("body1", "body2")
        )
        left = left.join(
            F.broadcast(allowed.select("body1").distinct()), "body1", "leftsemi"
        )
        right = right.join(
            F.broadcast(allowed.select("body2").distinct()), "body2", "leftsemi"
        )
    # support-first: the z-join streams into the head join and one
    # countDistinct — the pair space is never materialized; duplicate
    # (x, y) witnesses (several z on the same pair) collapse in the
    # agg. When pruning is active, the broadcast semi-join on
    # (body1, body2) kills pruned pairs at emission, before any
    # shuffle.
    pairs = left.join(right, "z")
    if prune:
        pairs = pairs.join(F.broadcast(allowed), ["body1", "body2"], "leftsemi")
    chain_sup = materialize(
        pairs
        .join(head, ["x", "y"])
        .groupBy("body1", "body2", "head")
        .agg(F.count_distinct(F.col("x"), F.col("y")).alias("support"))
        .where(F.col("support") >= min_support)
    )
    surv = chain_sup.select("body1", "body2").distinct()
    left_s = left.join(
        F.broadcast(surv.select("body1").distinct()), "body1", "leftsemi"
    )
    right_s = right.join(
        F.broadcast(surv.select("body2").distinct()), "body2", "leftsemi"
    )
    chain_bsize = (
        left_s.join(right_s, "z")
        .join(F.broadcast(surv), ["body1", "body2"], "leftsemi")
        .groupBy("body1", "body2")
        .agg(F.count_distinct(F.col("x"), F.col("y")).alias("body_size"))
    )
    scored_same = score_simple(same, "same").where(F.col("body1") != F.col("head"))
    scored_inv = score_simple(inv, "inverse")
    scored_chain = sized(chain_sup, chain_bsize, ["body1", "body2"], "chain")
    return scored_same.unionByName(scored_inv).unionByName(scored_chain)


# the decline bound's row shape: a join row of the twin is about three
# int64 codes (body, x, y)
_THREE_LONGS = T.StructType([T.StructField(c, T.LongType()) for c in "pxy"])


def _expand(lo: np.ndarray, hi: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Equi-join expansion: the index pairs (i, j) for every j in
    [lo[i], hi[i]) — row i of one side against its run of matches in
    the key-sorted other side."""
    n = hi - lo
    i = np.repeat(np.arange(len(lo)), n)
    j = np.arange(int(n.sum())) - np.repeat(np.cumsum(n) - n, n) + lo[i]
    return i, j


def _rule_counts_local(
    pdf: pd.DataFrame, min_support: int, max_join_degree: int, chain_exclude: list[str]
) -> pd.DataFrame | None:
    """Driver twin of :func:`_rule_counts_dist` over the collected
    triple frame (duplicates allowed), or None when a join it would run exceeds
    the driver budget. Null cells behave as in the Spark plan: sizes
    count every row of their predicate, equi-joins never match a null
    key, and a null predicate scores no rule (its body and head groups
    find no size row there)."""
    n = len(pdf)
    ent, ents = pd.factorize(pd.concat([pdf["subj"], pdf["obj"]], ignore_index=True))
    s, o = ent[:n].astype(np.int64), ent[n:].astype(np.int64)
    p, preds = pd.factorize(pdf["pred"])
    p, names = p.astype(np.int64), preds.to_numpy(dtype=object)
    n_ent, n_pred = max(len(ents), 1), max(len(names), 1)
    # the distinct triples: one (p, s, o) lexsort, then the first row of
    # each run; null cells (code -1) equal each other, as in Spark's
    # distinct. No packed key: (p, s, o) codes outgrow int64 past ~1.3M
    # rows, which a patched dispatch budget can reach.
    order = np.lexsort((o, s, p))
    p, s, o = p[order], s[order], o[order]
    first = np.ones(n, dtype=bool)
    first[1:] = (p[1:] != p[:-1]) | (s[1:] != s[:-1]) | (o[1:] != o[:-1])
    p, s, o = p[first], s[first], o[first]
    size = np.bincount(p[p >= 0], minlength=n_pred)

    # heads (pred, x*n_ent + y), sorted by key; rkey is each head
    # row's inverted key. Null cells are no head and no key.
    h = np.flatnonzero((p >= 0) & (s >= 0) & (o >= 0))
    h = h[np.argsort(s[h] * n_ent + o[h], kind="stable")]
    hp, hkey, rkey = p[h], s[h] * n_ent + o[h], o[h] * n_ent + s[h]

    def match(key):
        return np.searchsorted(hkey, key, "left"), np.searchsorted(hkey, key, "right")

    # chain streams: the degree counts every row of the distinct
    # stream in both orientations; over-degree z, chain_exclude'd and
    # null cells never reach the z-merge (index -1 is null)
    deg = np.bincount(s[s >= 0], minlength=n_ent) + np.bincount(o[o >= 0], minlength=n_ent)
    z_ok = np.append(deg <= max_join_degree, False)
    body = np.append(~np.isin(names, chain_exclude), False)[p] & (s >= 0) & (o >= 0)
    lft = np.flatnonzero(body & z_ok[o])  # p1(x, z): z = obj
    rgt = np.flatnonzero(body & z_ok[s])  # p2(z, y): z = subj
    rgt = rgt[np.argsort(s[rgt], kind="stable")]
    out_z = np.bincount(s[rgt], minlength=n_ent)

    # decline before any merge: the exact chain pair space
    # sum_z in(z)*out(z) and the two key self-merges' row counts
    budget = util.local_dispatch_rows(_THREE_LONGS, 1 << 62)  # bytes alone bind
    same_lo, same_hi = match(hkey)
    inv_lo, inv_hi = match(rkey)
    if max(
        int(np.bincount(o[lft], minlength=n_ent) @ out_z),
        int((same_hi - same_lo).sum()),
        int((inv_hi - inv_lo).sum()),
    ) > budget:
        return None

    def grouped(b, q):
        # (b, q) -> count; codes stay under n_pred**3 < 2**63 for any
        # frame under the row budget
        codes, sup = np.unique(b * n_pred + q, return_counts=True)
        return codes // n_pred, codes % n_pred, sup

    frames = []

    def emit(rule_type, b1, b2, q, sup, bsize):
        k = sup >= min_support
        frames.append(pd.DataFrame({
            "rule_type": rule_type,
            "body1": names[b1[k]],
            "body2": None if b2 is None else names[b2[k]],
            "head": names[q[k]],
            "support": sup[k],
            "body_size": bsize[k],
            "head_size": size[q[k]],
        }))

    # same / inverse: the heads are the length-1 bodies with a key
    i, j = _expand(same_lo, same_hi)
    diff = hp[i] != hp[j]  # same drops body1 == head
    b1, q, sup = grouped(hp[i][diff], hp[j][diff])
    emit("same", b1, None, q, sup, size[b1])
    i, j = _expand(inv_lo, inv_hi)
    b1, q, sup = grouped(hp[i], hp[j])
    emit("inverse", b1, None, q, sup, size[b1])

    # chain: one merge on z, distinct (body1, body2, x, y), then the
    # head match — bounded once the distinct pairs exist
    lo = np.searchsorted(s[rgt], o[lft], "left")
    i, j = _expand(lo, lo + out_z[o[lft]])
    li, ri = lft[i], rgt[j]
    pair, key = p[li] * n_pred + p[ri], s[li] * n_ent + o[ri]
    order = np.lexsort((key, pair))
    pair, key = pair[order], key[order]
    first = np.ones(len(pair), dtype=bool)
    first[1:] = (pair[1:] != pair[:-1]) | (key[1:] != key[:-1])
    pair, key = pair[first], key[first]
    lo, hi = match(key)
    if int((hi - lo).sum()) > budget:
        return None
    bodies, bsize = np.unique(pair, return_counts=True)
    i, j = _expand(lo, hi)
    pq, q, sup = grouped(pair[i], hp[j])
    emit("chain", pq // n_pred, pq % n_pred, q, sup, bsize[np.searchsorted(bodies, pq)])
    return pd.concat(frames, ignore_index=True)


def chain_pair_space(
    triples: DataFrame,
    max_join_degree: int = 1000,
    chain_exclude: list[str] | None = None,
) -> DataFrame:
    """(body1, body2, pspace) — the exact chain pair space
    sum_z in_{p1}(z) * out_{p2}(z) per predicate pair, under the same
    degree cap and chain_exclude guards as :func:`rule_mining`. This
    is the quantity rule_mining's pruning bounds against min_support;
    exposed so stress harnesses can report the traversed space before
    and after pruning (BENCH/STRESS.md)."""
    from .util import materialize

    t = materialize(triples.select("pred", "subj", "obj").distinct())
    deg = (
        t.select(F.col("subj").alias("z"))
        .unionAll(t.select(F.col("obj").alias("z")))
        .groupBy("z")
        .agg(F.count(F.lit(1)).alias("d"))
        .where(F.col("d") > max_join_degree)
    )
    tc = t
    if chain_exclude:
        tc = t.where(~F.col("pred").isin(list(chain_exclude)))
    a_deg = (
        tc.select(F.col("pred").alias("body1"), F.col("obj").alias("z"))
        .join(F.broadcast(deg), "z", "left_anti")
        .groupBy("body1", "z")
        .agg(F.count(F.lit(1)).alias("a_n"))
    )
    b_deg = (
        tc.select(F.col("pred").alias("body2"), F.col("subj").alias("z"))
        .join(F.broadcast(deg), "z", "left_anti")
        .groupBy("body2", "z")
        .agg(F.count(F.lit(1)).alias("b_n"))
    )
    return (
        a_deg.join(b_deg, "z")
        .groupBy("body1", "body2")
        .agg(F.sum(F.col("a_n") * F.col("b_n")).alias("pspace"))
    )


def golden_record(
    triples: DataFrame,
    preds: list[str] | None = None,
) -> DataFrame:
    """Survivorship merge (golden record): after sameAs
    canonicalization collapses duplicate entities, one entity can
    carry CONFLICTING assertions for a functional attribute (two
    sources claim different located_in). Resolve each (subj, pred) to
    ONE surviving value by majority vote — most asserted obj wins,
    ties break to the lexicographic min (deterministic, engine-
    independent) — the standard ER survivorship step between entity
    resolution and the final canonical KG.

    Returns (subj, pred, obj, votes, n_values): the surviving obj, how
    many assertions backed it, and how many distinct candidate values
    competed (n_values = 1 means the attribute was never in conflict).

    Scale: one groupBy to count assertions, one (subj, pred)-window to
    rank candidates. Window partitions are per-entity-attribute value
    lists — bounded by source count, never by corpus size (hub-immune:
    a 10^6-degree entity has 10^6 *predicates-pairs* spread across
    the hash space, not one giant partition). ``preds`` restricts to
    the functional attributes where survivorship is defined; relation
    predicates (order contains N parts) are legitimately multi-valued
    and pass through untouched upstream.
    """
    from pyspark.sql import Window

    t = triples.select("subj", "pred", "obj")
    if preds is not None:
        t = t.where(F.col("pred").isin(list(preds)))
    votes = t.groupBy("subj", "pred", "obj").agg(F.count(F.lit(1)).alias("votes"))
    w = Window.partitionBy("subj", "pred")
    ranked = votes.select(
        "subj",
        "pred",
        "obj",
        "votes",
        F.row_number()
        .over(w.orderBy(F.col("votes").desc(), F.col("obj").asc()))
        .alias("rn"),
        F.count(F.lit(1)).over(w).alias("n_values"),
    )
    return ranked.where(F.col("rn") == 1).drop("rn")
