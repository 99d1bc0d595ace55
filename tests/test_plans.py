"""Physical-plan invariants — the properties that make these plans hold
at 100x data, asserted so a regression is a test failure, not a slow
cluster three weeks later:

  * column pruning + predicate pushdown reach the parquet scan,
  * narrow text operators stay inside WholeStageCodegen,
  * no BroadcastNestedLoopJoin / CartesianProduct anywhere in the
    headline query plans,
  * the entity-map joins broadcast their small side (or hash-join),
    never nested-loop.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.01"


def _plan(df) -> str:
    return df._jdf.queryExecution().toString()


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet")


def test_scan_prunes_columns(spark, docs):
    from simkit_spark.functions.text import add_token_count

    plan = _plan(add_token_count(docs))
    # only doc_id + text may be read from the 5-column table
    assert "ReadSchema" in plan
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][-1]
    assert "text" in read_schema and "doc_id" in read_schema
    assert "lang" not in read_schema and "source" not in read_schema


def test_filter_pushdown_reaches_scan(spark, docs):
    q = docs.where(F.col("lang") == "en").select("doc_id")
    plan = _plan(q)
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l]
    assert pushed and "lang" in pushed[-1]


def test_text_ops_are_codegen(spark, docs):
    from simkit_spark.functions.text import quality_features

    plan = _plan(quality_features(docs))
    # "*(n)" is the whole-stage-codegen marker in the compact plan
    # rendering (higher-order array functions stay JVM-interpreted
    # inside the same stage — expected, still no Python)
    assert "*(1)" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


@pytest.mark.parametrize(
    "name",
    [
        "knn_graph",
        "cosine_topk",
        "silhouette_labels",
        "eps_graph",
        "exact_dedup",
        "neardup_jaccard",
        "top_customers",
        "label_encode",
        "ivf_topk",
    ],
)
def test_headline_plans_have_no_cartesian(spark, name, force_distributed):
    import __spark_entry__ as e

    # the kNN and eps graphs are driver-sized at sf0.01: audit the
    # distributed plans
    with force_distributed():
        plan = _plan(e.queries()[name](spark, SF))
    assert "BroadcastNestedLoopJoin" not in plan, name
    assert "CartesianProduct" not in plan, name


def test_no_global_single_partition_window(spark):
    """label_encode / top_customers must not sort every row through one
    task: any unpartitioned Window may only run on post-limit or
    distinct-tiny inputs (asserted structurally: the full-table scan
    side must not feed a Window with an empty partition spec)."""
    import __spark_entry__ as e

    plan = _plan(e.queries()["top_customers"](spark, SF))
    assert "TakeOrderedAndProject" in plan  # the distributed TopK


def test_curation_plans(spark):
    """contamination broadcasts the (tiny) eval n-gram set — the corpus
    side must never shuffle through a SortMergeJoin; stratified_sample's
    first window partitions by (stratum, input partition) so no task
    sorts a whole stratum; doc_chunks needs no shuffle at all."""
    import __spark_entry__ as e

    plan = _plan(e.queries()["contamination"](spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan

    plan = _plan(e.queries()["stratified_sample"](spark, SF))
    assert "SPARK_PARTITION_ID" in plan.upper() or "spark_partition_id" in plan

    plan = _plan(e.queries()["doc_chunks"](spark, SF))
    assert "Exchange" not in plan


def test_round3_plans(spark):
    """tfidf_topk: corpus size arrives via BroadcastExchange (never a
    per-row shuffle) and the top-k cut is a doc-partitioned window (no
    global Sort feeding a single-partition window); embedding_stats
    partial-aggregates map-side before its dim-keyed exchange;
    corpus_shuffle's rank window is shard-partitioned."""
    import __spark_entry__ as e

    plan = _plan(e.queries()["tfidf_topk"](spark, SF))
    assert "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan
    # the only nested-loop join allowed is the broadcast 1-row corpus
    # count (a Cross with a broadcast build side — a scalar, not a table)
    bnlj = [l for l in plan.splitlines() if "BroadcastNestedLoopJoin" in l]
    assert all("Cross" in l and "BuildRight" in l for l in bnlj)

    plan = _plan(e.queries()["embedding_stats"](spark, SF))
    assert "partial" in plan  # map-side combine before the exchange

    plan = _plan(e.queries()["corpus_shuffle"](spark, SF))
    assert "hashpartitioning(shard" in plan


def test_kg_plans(spark):
    """kg_relational_triples: branch projections prune the fact-table
    scan to the 2-3 mapped keys (no wide columns reach any branch);
    kg_two_hop / kg_hubs: the top-n is a distributed
    TakeOrderedAndProject, never a global sort into one task;
    kg_cooccurrence: the self-join is an equi-join on subj and the
    marginals come back as broadcasts — no nested-loop anywhere;
    kg_negative_samples: pure explode + hash joins, no Window."""
    import __spark_entry__ as e

    # the query surface serves a localCheckpointed triple table (the
    # r4 per-session materialization), whose plan is an RDD scan — the
    # pruning property lives in the BUILD plan, so assert on the
    # uncached builder directly
    from simkit_spark.kg import relational_triples

    tri = relational_triples(
        {n: spark.read.parquet(f"{SF}/{n}.parquet") for n in e._TPCH_NAMES}
    )
    plan = _plan(tri)
    # pruning is a physical-plan property: check the FileScan ReadSchema
    # lines (the logical Relation lines always list every column)
    scans = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert scans and all(
        "l_extendedprice" not in l and "o_totalprice" not in l for l in scans
    )
    assert "CartesianProduct" not in plan

    for name in ("kg_two_hop", "kg_hubs"):
        plan = _plan(e.queries()[name](spark, SF))
        assert "TakeOrderedAndProject" in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name
        assert "CartesianProduct" not in plan, name

    plan = _plan(e.queries()["kg_cooccurrence"](spark, SF))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan

    plan = _plan(e.queries()["kg_negative_samples"](spark, SF))
    assert "Window" not in plan
    assert "CartesianProduct" not in plan


def test_round4d_plans(spark):
    """bm25_topk: the only nested-loop is the broadcast 1-row totals
    scalar, the query-term join is a BroadcastHashJoin, and the top-k
    cut is a term-partitioned window (no single-partition window);
    edit1_pairs: candidates meet in an equi-join (no CartesianProduct,
    no nested-loop — the hot-variant cap join broadcasts);
    harmonic_centrality: the per-hop expansion is hash/broadcast joins
    only."""
    import __spark_entry__ as e

    plan = _plan(e.queries()["bm25_topk"](spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    bnlj = [l for l in plan.splitlines() if "BroadcastNestedLoopJoin" in l]
    assert all("Cross" in l and "BuildRight" in l for l in bnlj)
    assert "hashpartitioning(term" in plan

    plan = _plan(e.queries()["edit1_pairs"](spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan

    plan = _plan(e.queries()["harmonic_centrality_knn"](spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_dup_spans_plan(spark):
    """ExactSubstr windowed-hash spans: no quadratic join anywhere, the
    island-merge window is per-doc (never a partition-free global
    window), and the text column never reaches the hash-level shuffle
    (first exchanges carry (doc, off, hash), re-deriving sub later)."""
    import __spark_entry__ as e

    plan = _plan(e.queries()["dup_spans"](spark, SF))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    # every window spec is doc-partitioned
    for line in plan.split("\n"):
        if "windowspecdefinition" in line:
            assert "_did" in line, line
    # the h-level exchanges must not carry the window text column
    for line in plan.split("\n"):
        if "Exchange hashpartitioning(h#" in line:
            assert "sub" not in line, line


def test_round4f_event_plans(spark):
    """events_funnel: stage joins are hash joins keyed on user_id and
    the event_type stage filters reach the parquet scan (pushdown) —
    no nested-loop, no cartesian; events_transitions: the lag window
    is user-partitioned and the row-normalizing window runs over the
    post-aggregation (|types|^2-row) side only; events_retention: no
    join anywhere — dedup + per-user window + one aggregate."""
    import __spark_entry__ as e

    plan = _plan(e.queries()["events_funnel"](spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # the stage subsets are filtered before the join: pushdown reaches
    # the file scan as an event_type IsNotNull/Equal pushed filter
    assert "PushedFilters: [" in plan and "event_type" in plan

    plan = _plan(e.queries()["events_transitions"](spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    for line in plan.split("\n"):
        if "windowspecdefinition(user_id" in line:
            assert "lag(" in line, line  # per-user window only lags

    plan = _plan(e.queries()["events_retention"](spark, SF))
    assert "Join" not in plan  # dedup + window + agg, no join at all
    assert "CartesianProduct" not in plan


def test_kg_closure_local_dispatch_and_distributed_joins(spark, force_distributed):
    """At sf0.01 the FK edge set (~17k rows) is driver-sized, so the
    auto path must dispatch local (LocalTableScan / parallelized rows,
    not an iterative join plan); the forced-distributed path's output
    must be layer unions of checkpointed deltas (scans, no residual
    join in the RESULT plan — the sweeps already ran eagerly)."""
    import __spark_entry__ as e

    df = e.queries()["kg_closure"](spark, SF)
    plan = _plan(df)
    assert "Join" not in plan  # local twin: one createDataFrame back

    from simkit_spark.kg import transitive_closure

    t = spark.createDataFrame(
        [("a", "p", "b"), ("b", "p", "c")], "subj string, pred string, obj string"
    )
    with force_distributed():
        out = transitive_closure(t)
    assert {(r["subj"], r["obj"], r["hops"]) for r in out.collect()} == {
        ("a", "b", 1), ("b", "c", 1), ("a", "c", 2)
    }


def test_round4g_sketch_and_fusion_plans(spark):
    """bloom_semijoin: the probe side joins ONLY via broadcast hash
    joins (the 4 per-hash left-semis + the membership flag) — zero
    sort-merge, zero nested-loop, so the fact table never shuffles;
    cms_counts: sketch build + probe are hash aggregations and
    broadcast joins only; hybrid_rrf: every per-query top-k window
    carries a WindowGroupLimit (per-partition rank pruning before the
    exchange), the dense scan is the one intentional broadcast
    nested-loop (10 broadcast queries x corpus — a by-design linear
    scan, not an accident), and the only sort-merge join is the
    k-capped fusion full-outer."""
    import __spark_entry__ as e

    plan = _plan(e.queries()["bloom_semijoin"](spark, SF))
    assert "SortMergeJoin" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastHashJoin") >= 5

    plan = _plan(e.queries()["cms_counts"](spark, SF))
    assert "SortMergeJoin" not in plan
    assert "BroadcastNestedLoopJoin" not in plan

    plan = _plan(e.queries()["hybrid_rrf"](spark, SF))
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastNestedLoopJoin") == 1  # the dense scan
    assert plan.count("SortMergeJoin") <= 1  # the k-capped fusion join
    assert plan.count("WindowGroupLimit") >= 4  # rank<=k pruned pre-shuffle


def test_round4h_graph_plans(spark):
    """assortativity_knn: equi-joins + hash aggs only, one single-row
    global agg, no window, no nested-loop (always distributed — no size
    dispatch); ktruss/mis distributed sweep segments (the *_auto final
    output is materialized, so the invariant is asserted on one sweep's
    building blocks): the wedge-support join and the alive-neighbor
    minimum are equi-joins — never BroadcastNestedLoopJoin, never
    CartesianProduct."""
    import __spark_entry__ as e
    from simkit_spark.operators.mis import _priority
    from simkit_spark.operators.truss import _edge_support

    plan = _plan(e.queries()["assortativity_knn"](spark, SF))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "Window" not in plan

    edges = e._knn_edges(spark, SF).select("src", "dst")
    und = edges.select(
        F.least("src", "dst").alias("u"), F.greatest("src", "dst").alias("v")
    ).distinct()
    plan = _plan(_edge_support(und))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan

    alive = und.select(F.col("u").alias("id")).distinct().select(
        "id", _priority(F.col("id"), 42).alias("h")
    )
    both = und.select(F.col("u").alias("a"), F.col("v").alias("b")).union(
        und.select(F.col("v").alias("a"), F.col("u").alias("b"))
    )
    nb_min = (
        both.join(alive.select(F.col("id").alias("b"), F.col("h").alias("hb")), "b")
        .groupBy("a")
        .agg(F.min(F.struct("hb", "b")).alias("mn"))
    )
    plan = _plan(nb_min)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_round4i_plans(spark, force_distributed):
    """kg_rules: the chain self-join and support joins are equi-joins
    with the degree blacklist applied via broadcast anti-joins — never
    a nested-loop or cartesian; kg_golden: the survivorship window is
    (subj, pred)-partitioned (no empty partition spec); hll_distinct:
    pure projection + two hash aggregations, zero joins; bpe_merges /
    kcenter_sample / scc_knn / anf_knn emit driver-materialized results
    (LocalTableScan) — their distributed building blocks are asserted
    via the pair-count aggregation (bpe) and the running-min pass
    (kcenter), both join-free after the broadcast of the center."""
    import __spark_entry__ as e

    # kg_rules is size-dispatched: at sf0.01 the default plan is the
    # local twin's LocalTableScan, so the join checks need the forced
    # distributed plan
    with force_distributed():
        plan = _plan(e.queries()["kg_rules"](spark, SF))
    assert "SortMergeJoin" in plan or "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan

    plan = _plan(e.queries()["kg_golden"](spark, SF))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "Window" in plan

    plan = _plan(e.queries()["hll_distinct"](spark, SF))
    assert "Join" not in plan
    assert plan.count("HashAggregate") >= 4  # partial+final x 2 stages

    # bpe pair counting: explode + hash agg, no join, no window
    from simkit_spark.functions import text as T

    docs = e._docs(spark, SF)
    words = (
        docs.select(
            F.explode(F.split(F.lower(F.col("text")), "[^a-z0-9]+")).alias("word")
        )
        .where(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    plan = _plan(words)
    assert "Join" not in plan and "Window" not in plan

    # kcenter running-min pass: literal center folds into a codegen
    # projection — no exchange beyond the checkpoint scan
    from simkit_spark.operators.kernels import distance_expr

    emb = e._emb(spark, SF)
    state = emb.select(
        "id",
        "vec",
        distance_expr(
            F.col("vec"), F.array(*[F.lit(0.0)] * 64), "euclidean"
        ).alias("d"),
    )
    plan = _plan(state)
    assert "Exchange" not in plan and "Join" not in plan
