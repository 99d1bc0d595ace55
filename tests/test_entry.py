"""Contract tests for __spark_entry__: every oracled query has a
matching queries() entry, entry() smoke at sf0.001, and a sampled
oracle cross-check (the full sweep runs via tools/check_oracle.py)."""

from __future__ import annotations

import sys

import duckdb
import pytest

sys.path.insert(0, "/root/repo")
import __spark_entry__ as entry_mod

SF = "/root/testdata/sf0.001"
TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def test_oracle_keys_subset():
    qs, os_ = entry_mod.queries(), entry_mod.oracle_sql()
    assert set(os_) <= set(qs)
    assert len(os_) >= 25


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert set(df.columns) == {"id", "cluster"}


@pytest.mark.parametrize("name", ["token_count", "knn_graph", "exact_dedup"])
def test_oracle_sample(spark, name):
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")
    got = entry_mod.queries()[name](spark, SF).toPandas()
    want = con.sql(entry_mod.oracle_sql()[name]).df()
    assert sorted(got.columns) == sorted(want.columns)
    assert len(got) == len(want)
    g = got.reindex(sorted(got.columns), axis=1).sort_values(sorted(got.columns)).reset_index(drop=True)
    w = want.reindex(sorted(want.columns), axis=1).sort_values(sorted(want.columns)).reset_index(drop=True)
    for c in g.columns:
        if g[c].dtype.kind == "f":
            assert (abs(g[c] - w[c]) < 1e-9).all(), c
        else:
            assert (g[c].astype(str) == w[c].astype(str)).all(), c


def test_driver_mem_scales_with_local_slots(monkeypatch):
    # local mode = one JVM for all "executors": the heap cap must grow
    # with task slots or concurrent tasks trade the parallelism for GC
    # (measured: 1M-doc extraction at local[32] took 26.8s under 16g vs
    # 7.2s under 48g). Non-local masters keep the plain driver default.
    from simkit_spark.session import _driver_mem

    monkeypatch.delenv("SPARK_DRIVER_MEM", raising=False)
    # a large host: the slot rule decides
    monkeypatch.setattr(
        "simkit_spark.session._host_mem_bytes", lambda: 256 << 30
    )
    assert _driver_mem("local[8]") == "16g"
    assert _driver_mem("local[32]") == "48g"
    assert _driver_mem("local[4,2]") == "16g"
    assert _driver_mem("yarn") == "16g"
    # a 15 GiB host: the heap stops at ~3/4 of its memory, where
    # a 16 GiB floor let the JVM be killed mid-query (kg_rules at sf0.1)
    monkeypatch.setattr(
        "simkit_spark.session._host_mem_bytes", lambda: 15 << 30
    )
    assert _driver_mem("local[4]") == "11g"
    assert _driver_mem("local[32]") == "11g"
    monkeypatch.setenv("SPARK_DRIVER_MEM", "9g")
    assert _driver_mem("local[32]") == "9g"


def test_host_mem_honours_cgroup_limit_and_free_memory(monkeypatch, tmp_path):
    # SC_PHYS_PAGES is the host's RAM even inside a container, and on a
    # shared host a heap sized to it grows past free memory: a smaller
    # cgroup limit or MemAvailable wins, and "max" (v2, no limit) falls
    # through to v1
    from simkit_spark import session

    phys = session.os.sysconf("SC_PHYS_PAGES") * session.os.sysconf("SC_PAGE_SIZE")
    v2, v1 = tmp_path / "memory.max", tmp_path / "memory.limit_in_bytes"
    meminfo = tmp_path / "meminfo"
    monkeypatch.setattr(session, "_CGROUP_MEM_FILES", (str(v2), str(v1)))
    monkeypatch.setattr(session, "_MEMINFO", str(meminfo))
    assert session._host_mem_bytes() == phys
    v2.write_text("max\n")
    v1.write_text(f"{2 << 30}\n")
    assert session._host_mem_bytes() == min(phys, 2 << 30)
    v2.write_text(f"{1 << 30}\n")
    assert session._host_mem_bytes() == min(phys, 1 << 30)
    v2.write_text(f"{phys * 4}\n")
    assert session._host_mem_bytes() == phys
    # 8 GiB free: a 6g heap (kg_rules at sf0.1 ran with 6g on such a host)
    meminfo.write_text(f"MemTotal: {phys >> 10} kB\nMemAvailable: {8 << 20} kB\n")
    assert session._host_mem_bytes() == min(phys, 8 << 30)
    monkeypatch.delenv("SPARK_DRIVER_MEM", raising=False)
    if phys >= 8 << 30:
        assert session._driver_mem("local[4]") == "6g"


# --- driver-window rotation guard (VERDICT r4, Next round #1/#8) ---

# The r6 window: the 5 queries added in r5 lead, then r5's first 45
# (the 32 r4 additions and 13 oldest-green fillers). Documented in
# SURVEY.md §8. If a new query is added, it must be appended PAST
# position 50 (rotate it into the window next round) — this test fails
# on any silent window change.
R6_WINDOW = [
    "bcubed_eval", "hll_by_source", "hll_windows", "vocab_overlap",
    "pca_embedding",
    "interval_overlaps", "sorted_neighborhood", "conductance_knn",
    "priority_sample", "kg_distmult_rank", "kmv_distinct",
    "weighted_pagerank_affinity", "attribution_pairs", "events_retention",
    "cms_counts", "bloom_semijoin", "hybrid_rrf", "ktruss_knn", "mis_knn",
    "assortativity_knn", "matching_knn", "coarsen_knn", "nndescent_knn",
    "mixture_sample", "kg_rules", "kg_golden", "hll_distinct", "anf_knn",
    "scc_knn", "kcenter_sample", "bpe_merges", "mst_knn", "densest_rounds",
    "events_temporal_reach", "katz_knn", "oph_signatures", "stress_knn",
    "pairwise_euclidean", "knn_graph", "mutual_knn_graph", "eps_graph",
    "local_sigmas", "gaussian_affinity", "degrees_knn", "laplacian_sym",
    "laplacian_rw", "laplacian_ad", "pagerank_knn", "communities_knn",
    "sssp_knn",
]


def test_driver_window_rotation():
    qs = list(entry_mod.queries())
    assert qs[:50] == R6_WINDOW, (
        "first-50 window drifted from the documented r6 rotation "
        "(SURVEY.md §8); rotate deliberately, not by appending"
    )


def test_oracle_order_mirrors_queries():
    # the oracle dict must list keys in the same relative order as
    # queries() so window membership is readable from either dict
    qpos = {k: i for i, k in enumerate(entry_mod.queries())}
    opos = [qpos[k] for k in entry_mod.oracle_sql()]
    assert opos == sorted(opos)


def test_rowsonly_set_is_exactly_the_hashed_set():
    import json

    qs, os_ = entry_mod.queries(), entry_mod.oracle_sql()
    rowsonly = {k for k in qs if k not in os_}
    hashed = set(json.load(open("/root/repo/ROWSONLY_HASHES.json"))["queries"])
    assert rowsonly == hashed
