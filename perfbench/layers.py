"""Per-layer metrics of one traced operation.

Every metric in METRICS is emitted on every workload; a layer the
workload does not run reports 0. The ``moves`` notes in
perfbench/README.md say which end-to-end metric each should move.
"""

from __future__ import annotations

import statistics
from collections import defaultdict

from spans import union_length

_S, _N, _B, _R = "s", "count", "bytes", "ratio"

# the query_mix queries, by the layer each one exercises
KG_QUERIES = ("kg_rdfs_entail", "kg_rules", "kg_bgp", "kg_two_hop", "kg_closure",
              "kg_golden")
OPERATOR_QUERIES = ("connected_components_eps", "scc_knn", "kcore_knn",
                    "communities_knn", "hits_knn", "mis_knn", "matching_knn",
                    "ktruss_knn", "pagerank_knn", "katz_knn")
FUNCTION_QUERIES = ("events_temporal_reach", "hll_distinct")


def layer_of(query: str) -> str:
    if query in KG_QUERIES:
        return "kg"
    return "operators" if query in OPERATOR_QUERIES else "functions"


# name -> (unit, better)
METRICS: dict[str, tuple[str, str]] = {
    "session.jobs": (_N, "lower"),
    "session.stages": (_N, "lower"),
    "session.tasks": (_N, "lower"),
    "session.executor_run_s": (_S, "lower"),
    "session.executor_cpu_s": (_S, "lower"),
    "session.cpu_share": (_R, "higher"),
    "session.gc_s": (_S, "lower"),
    "session.shuffle_write_bytes": (_B, "lower"),
    "session.spill_bytes": (_B, "lower"),
    "session.driver_gap_s": (_S, "lower"),
    "session.geomean_s": (_S, "lower"),
    "session.peak_rss_mb": ("MB", "lower"),
    "run.auto_dim_s": (_S, "lower"),
    "run.stage_sum_s": (_S, "lower"),
    "run.overlap_s": (_S, "higher"),
    "run.unattributed_jobs": (_N, "lower"),
    "extract.mentions_s": (_S, "lower"),
    "extract.raw_triples_s": (_S, "lower"),
    "extract.mentions_rows": (_N, "higher"),
    "extract.python_s": (_S, "lower"),
    "extract.python_bytes_in": (_B, "lower"),
    "extract.python_bytes_out": (_B, "lower"),
    "embed.surfaces_s": (_S, "lower"),
    "embed.surfaces_rows": (_N, "higher"),
    "embed.python_s": (_S, "lower"),
    "link.entity_map_s": (_S, "lower"),
    "link.distributed": ("flag", "higher"),
    "link.jobs": (_N, "lower"),
    "link.candidate_pairs": (_N, "lower"),
    "link.similarity_edges": (_N, "higher"),
    "link.candidate_yield": (_R, "higher"),
    "link.shuffle_bytes": (_B, "lower"),
    "link.driver_s": (_S, "lower"),
    "materialize.triples_s": (_S, "lower"),
    "materialize.nodes_s": (_S, "lower"),
    "materialize.edges_s": (_S, "lower"),
    "materialize.provenance_s": (_S, "lower"),
    "materialize.shuffle_bytes": (_B, "lower"),
    "materialize.bucket_skew": (_R, "lower"),
    "catalog.write_s": (_S, "lower"),
    "catalog.post_job_s": (_S, "lower"),
    "catalog.bytes_written": (_B, "lower"),
    "catalog.files_written": (_N, "lower"),
    "catalog.rows_written": (_N, "higher"),
    "catalog.resume_s": (_S, "lower"),
    "catalog.resumed_stages": (_N, "higher"),
    "kg.rel_build_s": (_S, "lower"),
    "kg.ent_build_s": (_S, "lower"),
    "kg.jobs": (_N, "lower"),
    **{f"kg.{q}_s": (_S, "lower") for q in KG_QUERIES},
    "operators.knn_build_s": (_S, "lower"),
    "operators.jobs": (_N, "lower"),
    **{f"operators.{q}_s": (_S, "lower") for q in OPERATOR_QUERIES},
    **{f"functions.{q}_s": (_S, "lower") for q in FUNCTION_QUERIES},
    "trace.overhead_s": (_S, "lower"),
    "trace.untraced_runs": (_N, "higher"),
}


class _View:
    """Jobs, stage totals and SQL records charged to spans."""

    def __init__(self, tracer, jobs, stages, sql):
        self.tracer, self.jobs, self.stages = tracer, jobs, stages
        by_group = {s.group: s for s in tracer.spans}
        self.direct_jobs = defaultdict(list)
        self.unattributed = []
        for jid, j in jobs.items():
            sp = by_group.get(j["group"])
            if sp is None:
                self.unattributed.append(jid)
            else:
                self.direct_jobs[sp.sid].append(jid)
        self.direct_sql = defaultdict(list)
        for rec in sql:
            sp = by_group.get(rec["group"])
            if sp is not None:
                self.direct_sql[sp.sid].append(rec)

    def find(self, name, under=None):
        pool = self.tracer.subtree(under) if under else self.tracer.spans
        return next((s for s in pool if s.name == name), None)

    def job_ids(self, sp) -> list[int]:
        if sp is None:
            return []
        return [j for s in self.tracer.subtree(sp) for j in self.direct_jobs[s.sid]]

    def stage_sum(self, job_ids, key) -> float:
        return float(sum(self.stages[j][key] for j in job_ids))

    def sql_sum(self, spans, key) -> float:
        return float(sum(r[key] for sp in spans if sp is not None
                         for s in self.tracer.subtree(sp) for r in self.direct_sql[s.sid]))

    def job_gap(self, sp, job_ids) -> float:
        """Span wall time during which none of job_ids was running."""
        covered = union_length(
            [(max(self.jobs[j]["start"], sp.start), min(self.jobs[j]["end"], sp.end))
             for j in job_ids if self.jobs[j]["start"] and self.jobs[j]["end"]
             and self.jobs[j]["end"] > sp.start and self.jobs[j]["start"] < sp.end]
        )
        return max(sp.wall - covered, 0.0)


def _wall(sp) -> float:
    return sp.wall if sp is not None else 0.0


def per_layer(tracer, jobs, stages, sql, workload) -> dict[str, tuple[float, str]]:
    v = _View(tracer, jobs, stages, sql)
    out: dict[str, float] = dict.fromkeys(METRICS, 0.0)

    all_jobs = list(jobs)
    tops = [s for s in tracer.spans if s.parent is None]
    run_s = v.stage_sum(all_jobs, "run_s")
    out.update({
        "session.jobs": len(all_jobs),
        "session.stages": v.stage_sum(all_jobs, "stages"),
        "session.tasks": v.stage_sum(all_jobs, "tasks"),
        "session.executor_run_s": run_s,
        "session.executor_cpu_s": v.stage_sum(all_jobs, "cpu_s"),
        "session.cpu_share": v.stage_sum(all_jobs, "cpu_s") / run_s if run_s else 0.0,
        "session.gc_s": v.stage_sum(all_jobs, "gc_s"),
        "session.shuffle_write_bytes": v.stage_sum(all_jobs, "shuffle_write_bytes"),
        "session.spill_bytes": v.stage_sum(all_jobs, "spill_bytes"),
        "session.driver_gap_s": sum(v.job_gap(t, all_jobs) for t in tops),
        "run.unattributed_jobs": len(v.unattributed),
    })

    build = v.find("build")
    if build is not None:
        last = workload.last
        manifests = last["fresh"]

        def stage(name):
            return v.find(f"stage.{name}", build)

        stage_spans = [s for s in tracer.children(build) if s.name.startswith("stage.")]
        stage_sum = sum(s.wall for s in stage_spans)
        out["run.auto_dim_s"] = last["timings"].get("auto_dim", 0.0)
        out["run.stage_sum_s"] = stage_sum
        out["run.overlap_s"] = stage_sum - build.wall

        ex = [stage("mentions"), stage("raw_triples")]
        out["extract.mentions_s"], out["extract.raw_triples_s"] = map(_wall, ex)
        out["extract.mentions_rows"] = manifests["mentions"]["row_count"]
        out["extract.python_s"] = v.sql_sum(ex, "python_s")
        out["extract.python_bytes_in"] = v.sql_sum(ex, "python_bytes_in")
        out["extract.python_bytes_out"] = v.sql_sum(ex, "python_bytes_out")

        out["embed.surfaces_s"] = _wall(stage("surfaces"))
        out["embed.surfaces_rows"] = manifests["surfaces"]["row_count"]
        out["embed.python_s"] = v.sql_sum([stage("surfaces")], "python_s")

        em = stage("entity_map")
        compute = v.find("compute.entity_map", em)
        compute_jobs = v.job_ids(compute)
        cand = v.sql_sum([em], "rescore_in")
        edges = v.sql_sum([em], "rescore_out")
        out["link.entity_map_s"] = _wall(em)
        # the local path is exactly one job (the size-probe collect)
        out["link.distributed"] = 1.0 if len(compute_jobs) > 1 else 0.0
        out["link.jobs"] = len(v.job_ids(em))
        out["link.candidate_pairs"] = cand
        out["link.similarity_edges"] = edges
        out["link.candidate_yield"] = edges / cand if cand else 0.0
        out["link.shuffle_bytes"] = v.stage_sum(v.job_ids(em), "shuffle_write_bytes")
        out["link.driver_s"] = v.job_gap(compute, compute_jobs) if compute else 0.0

        mat = {n: stage(n) for n in ("triples", "nodes", "edges", "provenance")}
        for n, sp in mat.items():
            out[f"materialize.{n}_s"] = _wall(sp)
        out["materialize.shuffle_bytes"] = v.stage_sum(
            [j for sp in mat.values() for j in v.job_ids(sp)], "shuffle_write_bytes")
        rows = [p[1] for p in manifests["triples"]["partitions"] or []]
        out["materialize.bucket_skew"] = max(rows) / statistics.median(rows) if rows else 0.0

        writes = [s for s in tracer.subtree(build) if s.name.startswith("write.")]
        out["catalog.write_s"] = sum(w.wall for w in writes)
        post = 0.0
        for w in writes:
            ends = [jobs[j]["end"] for j in v.job_ids(w) if jobs[j]["end"]]
            post += max(w.end - max(ends), 0.0) if ends else w.wall
        out["catalog.post_job_s"] = post
        out["catalog.bytes_written"] = float(sum(
            p[2] for m in manifests.values() for p in (m["partitions"] or [])))
        out["catalog.files_written"] = v.sql_sum(writes, "files_written")
        out["catalog.rows_written"] = v.sql_sum(writes, "rows_written")

    resume = v.find("resume")
    if resume is not None:
        out["catalog.resume_s"] = resume.wall
        out["catalog.resumed_stages"] = sum(
            1 for s in tracer.children(resume) if s.name.startswith("stage.")
            and not any(c.name.startswith("write.") for c in tracer.subtree(s))
        )

    layer_jobs = defaultdict(list)
    for sp in tracer.spans:
        layer, _, name = sp.name.partition(".")
        if layer in ("kg", "operators", "functions") and sp.parent is not None:
            out[f"{layer}.{name}_s"] = sp.wall
            layer_jobs[layer].extend(v.job_ids(sp))
    out["kg.jobs"] = len(layer_jobs["kg"])
    out["operators.jobs"] = len(layer_jobs["operators"]) + len(layer_jobs["functions"])

    return {k: (float(val), METRICS[k][0]) for k, val in out.items()}
