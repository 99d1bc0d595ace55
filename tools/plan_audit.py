"""Write PLANS.md: the formatted physical plans of the headline
queries with the scale-relevant properties called out. Run after plan
changes; tests/test_plans.py asserts the invariants mechanically."""

from __future__ import annotations

import os
import sys
from contextlib import nullcontext
from unittest import mock

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as e  # noqa: E402
from simkit_spark.session import get_spark  # noqa: E402

SF = "/root/testdata/sf0.01"

# Driver-sized at sf0.01, so their default plan is one LocalTableScan;
# their notes describe the distributed kernel plans, which are audited
# under a forced-distributed dispatch (as tests/test_plans.py does).
FORCED = ("gaussian_affinity", "eps_graph")

AUDITED = {
    "dup_spans": "ExactSubstr windowed-hash spans: first shuffle carries "
    "(doc_id, off, hash64) only — window text re-derived just for hash-hot "
    "candidates; island merge windows per doc_id, never global",
    "pairwise_euclidean": "block fan-out is a pure column explode (no join); "
    "kernel matrices exist only inside applyInPandas tasks",
    "knn_graph": "per-block top-k kernel: the window ranks n*B*k candidate rows, "
    "never the n^2 directed pair space. Size-dispatched: the sf0.01 plan "
    "shown is the local twin's (a one-partition LocalTableScan)",
    "gaussian_affinity": "sigmas from the top-k kernel; equi-joins only. "
    "Size-dispatched: the plan shown is the forced distributed one",
    "eps_graph": "eps predicate applied INSIDE the kernel task (method-dispatched "
    "pivot/block exact eps join). Size-dispatched: the plan shown is the "
    "forced distributed one",
    "silhouette_labels": "block kernel + equi-joins + hash aggregation; "
    "no BroadcastNestedLoopJoin (round-1 regression guard)",
    "ivf_topk": "sqrt(n) cell key (no 8-value join skew); per-cell numpy rescore; "
    "wide vec pairs never shuffle",
    "neardup_jaccard": "candidates from LSH band buckets only",
    "label_encode": "broadcast dictionary join over distinct labels "
    "(no global window)",
    "top_customers": "TakeOrderedAndProject distributed TopK "
    "(no single-partition row_number)",
    "quality_features": "pure column expressions; scan reads only (doc_id, text)",
    "stratified_sample": "two-pass exact per-stratum top-k: pass 1 windows over "
    "(stratum, spark_partition_id) so no task sorts a whole stratum; pass 2 "
    "ranks only the surviving <= parts*k rows",
    "doc_chunks": "sequence+explode per row — zero Exchange in the whole plan",
    "contamination": "eval n-gram set is BroadcastHashJoin'd; corpus side is one "
    "linear shingle explode, never shuffled by content",
    "repetition_features": "tokenize once into a materialized column; one "
    "linear explode -> two hash aggregations keyed by doc_id (scalars carried "
    "via first()); no windows, no self-join",
    "tfidf_topk": "document frequencies from the per-(doc,term) agg (no text "
    "re-scan); corpus size as a broadcast 1-row aggregate; per-doc window cut, "
    "no global sort",
    "corpus_shuffle": "md5-keyed shard routing + per-shard rank window "
    "(bounded by shard sizing); no global window",
    "embedding_stats": "posexplode -> dim-keyed hash agg; map-side partials "
    "collapse each task to ~dim rows before the shuffle",
    "triangles_knn": "degree-ordered orientation bounds the wedge self-join "
    "fan-out by sum(outdeg^2) ~ m*sqrt(m); closure is a left-semi equi-join",
    "token_quantiles": "exact percentile as one hash aggregation keyed by "
    "lang; no sort, no window",
    "events_asof": "union-trick as-of join: ONE shuffle on the key, running "
    "max over a per-key time window — no per-key cartesian, no correlated "
    "re-scan of the right side",
    "events_rollup": "grouping sets share one partial-agg pass (Expand before "
    "the single Exchange); no re-scan per granularity",
    "link_prediction_knn": "wedge self-join bounded by sum(deg^2) = n*k^2 on "
    "the kNN graph; candidate anti-join and degree joins are equi-joins",
    "kcore_knn": "per sweep: two leftsemi equi-joins of the node-sized "
    "(monotonically shrinking) alive set into a fixed edge partitioning + one "
    "partial-agg count; size-dispatched numpy twin below 500k edges",
    "lm_score": "bigrams from one zip of two array slices (no self-join, no "
    "corpus-sized window); vocabulary-sized count tables; V as a broadcast "
    "1-row aggregate; one final per-doc hash agg",
    "random_walks_knn": "per step: the n*walks frontier equi-joins a fixed "
    "edge partitioning; argmin neighbor via min(struct) partial agg, never a "
    "frontier-by-degree window sort; frontier lineage broken per step",
    "skipgram_pairs_knn": "each walk row explodes into <= 2*window candidate "
    "steps, ONE equi-join back to the (lineage-broken) walk table on the full "
    "(start_id, walk, step) key, one hash agg — linear in walk rows x window",
    "importance_sample": "one integer aggregate broadcast as a 1-row table + "
    "one linear filter pass; no corpus shuffle, no window, no UDF; the "
    "acceptance rule is a per-row double formula over exact integers",
    "vocab_ranks": "global dense rank WITHOUT a single-partition window: "
    "range-partition the vocab-sized count table, window per range id, add "
    "driver-sized per-range (rows, sum) offsets back as a broadcast join",
    "semantic_dedup": "k-means quantizer makes near-dup resolution "
    "embarrassingly parallel: one bounded numpy kernel per (cluster, salt) "
    "task, oversized clusters md5-salted, clusters never talk to each other",
    "kg_relational_triples": "branch-per-table union, no joins; every "
    "FileScan ReadSchema is pruned to the 2-3 mapped key columns; the only "
    "shuffles are the two lineitem-branch DISTINCTs",
    "kg_two_hop": "one equi-join per meta-path step on the intermediate "
    "entity + a terminal path-count hash agg; top-100 is a distributed "
    "TakeOrderedAndProject over a total order (tie-stable LIMIT)",
    "kg_hubs": "endpoint union -> one hash agg -> TakeOrderedAndProject; "
    "degree never sorts globally",
    "kg_cooccurrence": "subject self-join is a plain equi-join with the "
    "over-degree subjects anti-joined away BEFORE the quadratic step; "
    "marginals and the degree blacklist return as broadcasts",
    "kg_negative_samples": "sequence-explode + md5 draw per row, one "
    "hash anti-join against the true triple set; no Window, no driver state",
    "kg_bgp": "each template a constant-filtered projection (pred "
    "constants prune union branches into the scans); folds into "
    "equi-joins on shared variables — Catalyst/AQE pick build sides",
    "kg_degree_profile": "one explode -> entity-keyed hash agg -> "
    "kind-keyed percentile agg over the entity-SIZED degree table; "
    "raw triples never sort",
    "sssp_knn": "k frontier joins + hash-agg min merges; candidates "
    "rounded per sweep (12dp contract), min is order-independent",
    "modularity_knn": "label equi-joins onto the canonical edge list + "
    "two hash aggs keyed by community; q_c is a per-row formula over "
    "exact integers",
    "kg_snapshot": "temporal current view as ONE max-of-struct hash agg "
    "(map-side partials) — no per-key window sort over the fact join",
    "kg_validate": "broadcast rule table + codegen prefix comparisons; "
    "cardinality = one count agg + broadcast semi-join back",
    "setsim_pairs": "rarest-first prefixes -> candidate equi-join on rare "
    "tokens with integer size filters + PPJoin positional filter (first "
    "common token bounds overlap) BEFORE verification; no all-pairs product",
    "kg_sameas": "CC over the alias-sized sameAs subgraph only; rewrite = "
    "two LEFT equi-joins of the non-identity map + one distinct — the "
    "instance stream is never iterated",
    "hits_knn": "two once-shuffled persisted edge layouts (by src / by dst); "
    "per sweep only node-sized groupBy exchanges; normalization totals as "
    "broadcast 1-row aggregates",
    "sampled_triangles_knn": "md5 edge sample BEFORE the wedge join (~p^2 "
    "join shrinkage); same degree-ordered orientation as the exact counter",
    "interval_overlaps": "intervals explode to covered 1h buckets; "
    "candidates meet in an equi-join on (user, bucket) — no "
    "BroadcastNestedLoopJoin; owner-bucket emission, no global distinct",
    "sorted_neighborhood": "global sort ranks from range partitioning + "
    "broadcast per-range offsets (no single-partition window); pairs via a "
    "bucketed rank-div-w equi-join, exactly-once, no distinct",
    "conductance_knn": "label equi-joins + two community-keyed hash aggs; "
    "phi is a per-row formula over exact integers",
    "priority_sample": "distributed TakeOrdered top-(k+1) (per-partition "
    "partial top-k); threshold as a broadcast 1-row aggregate; no global sort",
    "kg_distmult_rank": "broadcast candidate table, codegen zip_with/"
    "aggregate scoring, map-side-combinable count-better agg — the shared "
    "_filtered_rank shape (no join-back, no window)",
    "kmv_distinct": "hash projection -> map-side-deduped distinct -> "
    "TakeOrdered(k); nothing row-sized sorts globally",
    "node2vec_walks_knn": "per step: frontier joins the ONE persisted "
    "sorted edge layout + a composite-key (prev, cand) membership probe "
    "(candidate-sized, never neighbor-list x neighbor-list); min-struct "
    "hash agg picks the hop — no per-walk window sort",
    "harmonic_centrality_knn": "bounded multi-source BFS: per hop the "
    "NEW frontier only (anti-join vs visited) joins the fixed edge "
    "layout; 1/d sums are lcm-scaled integers, one node-keyed hash agg",
    "bm25_topk": "postings from ONE tokenize+explode agg; query terms "
    "TakeOrdered then BroadcastHashJoin'd back; corpus totals as a "
    "broadcast 1-row aggregate; per-term window cut, no global sort",
    "edit1_pairs": "deletion-variant equi-join (<= len+1 variants/row) "
    "generates candidates, hot variants broadcast-anti-joined away "
    "BEFORE the self-join (LSH max_bucket contract); exact levenshtein "
    "verify is codegen — no all-pairs product anywhere",
    "wl_colors_knn": "per WL round: ONE join into the fixed edge layout "
    "+ ONE hash agg (sorted degree-bounded collect_list); color lineage "
    "broken per round — no global sort, no window",
    "gnn_neighborhoods_knn": "per hop: frontier joins the fixed edge "
    "layout; the fanout cut is a (root, parent)-partitioned window over "
    "frontier x degree candidate rows only; expansion from the DISTINCT "
    "sampled frontier",
    "kg_closure": "semi-naive datalog TC: each sweep joins only the NEW "
    "delta (broadcast-hinted under 1M rows) against the once-persisted "
    "edge layout; anti-join vs prior layers keeps sweep work ~ frontier; "
    "size-dispatched BFS twin below the byte budget (the sf0.01 plan "
    "shown here is the local twin: scan-only, no joins)",
    "events_funnel": "one user-keyed groupBy+LEFT-join pair per stage; "
    "stage event_type filters reach the parquet scan as pushed filters; "
    "no window over raw events, no nested-loop",
    "events_transitions": "per-user lag window (events shuffle ONCE on "
    "user_id) -> tiny |types|^2-keyed hash agg; the row-normalizing "
    "window runs over the post-aggregation side only",
    "events_retention": "distinct user-days FIRST (the only event-sized "
    "shuffle), then the per-user min window and one hash agg run over "
    "user-days, not events; no join anywhere",
    "ktruss_knn": "per sweep = degree-ordered oriented wedge join "
    "(fan-out sum(outdeg^2) under the orientation — arboricity-bounded, "
    "never sum(deg^2)) + one hash agg over exploded triangle sides; the "
    "edge set is materialized per sweep (lineage break). Size-dispatched: "
    "the sf0.01 plan shown is the local twin (scan-only, no joins)",
    "mis_knn": "per sweep = one join of the once-partitioned 2|E| edge "
    "layout against the shrinking node-sized alive set + a min-struct "
    "hash agg + one anti-join; alive/selected materialized per sweep. "
    "Size-dispatched: the sf0.01 plan shown is the local twin",
    "assortativity_knn": "one node-sized degree agg, two node-sized "
    "joins decorating the edge endpoints, ONE single-row global agg of "
    "exact integer sums; r is a per-row IEEE expression — no window, no "
    "nested-loop, nothing driver-sized (always distributed, no dispatch)",
    "matching_knn": "per sweep = one explode of the alive edge set to "
    "its two endpoint rows, one vertex-sized min-struct hash agg, two "
    "equality semi-joins back, two anti-joins dropping matched "
    "endpoints; alive/selected materialized per sweep. Size-dispatched: "
    "the sf0.01 plan shown is the local twin",
    "coarsen_knn": "pair-sized alias map, two endpoint-rewrite left "
    "joins (broadcast-friendly — the map is matching-sized, never "
    "node-sized), one hash agg for min-weight + multiplicity; no "
    "iteration, no window, no nested-loop",
    "nndescent_knn": "per sweep = node-partitioned cap window (never "
    "global), capped self-join bounded at n*cap^2 pairs, two "
    "node-sized vector joins for the distinct new candidates, one "
    "src-partitioned top-k window; total work LINEAR in n for fixed "
    "k/cap — the quadratic kernel never runs; each sweep materialized",
    "kg_rules": "ONE obj=subj self-join scores every chain rule at once "
    "(rule count never multiplies passes); over-degree join entities "
    "broadcast-anti-joined away BEFORE the quadratic step; body/head "
    "sizes are predicate-keyed aggregates broadcast onto the support "
    "stream — no window, no per-rule iteration. Size-dispatched: the "
    "sf0.01 plan shown is the local twin",
    "kg_golden": "one vote count agg + one (subj, pred)-window whose "
    "partitions are per-attribute candidate lists (bounded by source "
    "count, hub-immune); no join against the corpus",
    "hll_distinct": "hash projection -> groupBy(bucket).max with map-side "
    "partials (each task collapses to <= m register rows); final agg is "
    "m rows -> 1 — nothing row-sized shuffles",
    "anf_knn": "size-dispatched: the sf0.01 plan shown is the local-exact "
    "twin (one Arrow collect, dense numpy closure); the distributed path "
    "is HyperANF register sweeps — per sweep one equi-join into the edge "
    "list + (id, bucket)-keyed max agg whose map-side combine bounds the "
    "exchange at n*m register rows, never pair-sized state",
    "scc_knn": "size-dispatched: sf0.01 runs the iterative-Tarjan local "
    "twin (scan-only); distributed = FW-BW min-label rounds over two "
    "once-persisted edge layouts — per sweep one equi-join + node-sized "
    "min agg, resolved SCCs' edges leave via semi-joins each round",
    "kcenter_sample": "k linear passes: each = one literal-array center "
    "(broadcast by value into the expression), a narrow running-min map, "
    "and a distributed top-1 (per-partition max, k-row merge); state "
    "re-materialized per step so lineage stays O(1) — nothing pair-sized",
    "bpe_merges": "corpus touched ONCE (tokenize -> word-keyed count with "
    "map-side partials); every merge round explodes/aggregates the "
    "VOCABULARY table only, so round cost is independent of corpus size; "
    "top pair via distributed TakeOrdered, rewrite is one codegen "
    "regexp_replace",
    "mst_knn": "size-dispatched: sf0.01 runs the Kruskal local twin "
    "(scan-only); distributed Borůvka = per round ONE min-struct hash agg "
    "over the label-decorated edge list + CC over the COMPONENT-sized "
    "chosen-edge graph — edge rows only ever stream through equi-joins",
    "densest_rounds": "per peel round ONE degree hash-agg + two semi-joins; "
    "the d*n > 3m test is all-integer (no float density in any comparison); "
    "edge set shrinks geometrically so total work is O(m log n)",
    "events_temporal_reach": "contacts from an (event_type, hour-bucket) "
    "equi-self-join (group-bounded, never all-pairs); arrival sweeps are "
    "the SSSP shape — node-sized label table joins the contact list, min "
    "hash-agg, full-outer merge; joins only, no Union (the scc Catalyst "
    "lesson)",
    "katz_knn": "size-dispatched: sf0.01 runs the numpy twin (scan-only); "
    "distributed sweeps are the pagerank shape minus the out-degree join "
    "and dangling pass — sorted-once persisted edge layout, per sweep one "
    "node-sized rank shuffle + one hash agg",
    "oph_signatures": "ONE md5 per shingle (vs k re-mixes in classic "
    "minhash); (doc, bin)-keyed min agg with map-side partials; the "
    "densification window is per-doc over a 2m-row grid — m-bounded "
    "partitions, never corpus-bounded",
    "stress_knn": "two level-synchronous passes over |S|*n state: per "
    "level ONE equi-join into the fixed edge layout + one hash agg "
    "(sigma forward, continuation counts backward), anti-join vs "
    "visited keeps forward work ~ new frontier; all-integer — no float "
    "accumulation anywhere",
}


def main() -> None:
    spark = get_spark("plan_audit", master="local[8]")
    qs = e.queries()
    out = [
        "# PLANS — physical-plan audit of headline queries",
        "",
        "Generated by tools/plan_audit.py (sf0.01 inputs; plan shape is",
        "size-independent except where *_auto size dispatches, noted inline).",
        "Invariants asserted mechanically in tests/test_plans.py.",
        "",
    ]
    for name, note in AUDITED.items():
        force = mock.patch("simkit_spark.util.local_dispatch_rows", lambda *a, **k: -1)
        with force if name in FORCED else nullcontext():
            df = qs[name](spark, SF)
        plan = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
        )
        out.append(f"## {name}\n\n**Why this plan scales:** {note}\n")
        out.append("```\n" + plan.strip() + "\n```\n")
    with open(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print("wrote PLANS.md")
    spark.stop()


if __name__ == "__main__":
    main()
