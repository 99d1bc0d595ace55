"""semantic_dedup: exact python-replica parity given the same quantizer
assignment, min-id representative invariants, salt splitting, and
partition invariance."""

from __future__ import annotations

import hashlib

import numpy as np
import pytest

from simkit_spark.functions.semdedup import semantic_dedup


def _blobs(spark, n=120, dups=3, seed=0):
    """Clustered vectors where consecutive groups of ``dups`` rows are
    near-identical (true semantic duplicates)."""
    rng = np.random.default_rng(seed)
    centers = rng.normal(size=(4, 8))
    rows = []
    for i in range(n):
        base = centers[(i // dups) % 4] + 0.3 * rng.normal(size=8) * (i % dups == 0)
        v = base + 1e-4 * rng.normal(size=8) if i % dups else base
        rows.append((i, [float(x) for x in v]))
    return spark.createDataFrame(rows, "id long, vec array<double>")


def _replica(assigned_rows, tau, max_cluster):
    """Python union-find replica over the collected (id, vec, cluster)."""
    groups = {}
    for r in assigned_rows:
        cid = r["cluster"]
        csz = sum(1 for x in assigned_rows if x["cluster"] == cid)
        n_salt = -(-csz // max_cluster)
        salt = (
            0
            if n_salt <= 1
            else int(hashlib.md5(str(r["id"]).encode()).hexdigest()[:8], 16) % n_salt
        )
        groups.setdefault((cid, salt), []).append((r["id"], np.array(r["vec"])))
    want = {}
    for members in groups.values():
        members.sort()
        ids = [m[0] for m in members]
        unit = np.stack([m[1] for m in members])
        nz = np.linalg.norm(unit, axis=1)
        nz[nz == 0] = 1.0
        unit = unit / nz[:, None]
        parent = list(range(len(ids)))

        def find(i):
            while parent[i] != i:
                parent[i] = parent[parent[i]]
                i = parent[i]
            return i

        sims = unit @ unit.T
        for a, b in zip(*np.nonzero(sims >= tau)):
            i, j = find(int(a)), find(int(b))
            if i != j:
                lo, hi = min(i, j), max(i, j)
                parent[hi] = lo
        for i, d in enumerate(ids):
            want[d] = ids[find(i)]
    return want


@pytest.mark.parametrize("max_cluster", [2000, 7])
def test_semdedup_matches_replica(spark, max_cluster):
    from simkit_spark.operators.kmeans import kmeans

    emb = _blobs(spark)
    out = semantic_dedup(
        emb, tau=0.98, n_clusters=4, max_cluster=max_cluster
    ).collect()
    got = {r["id"]: r["rep"] for r in out}
    # same seeded quantizer -> same assignment -> exact replica parity
    pts = emb.select("id", "vec")
    assigned, _ = kmeans(pts.localCheckpoint(), k=4, seed=42)
    want = _replica(assigned.collect(), 0.98, max_cluster)
    assert got == want
    # min-id representative: rep <= id, reps are their own rep
    assert all(r["rep"] <= r["id"] for r in out)
    reps = {r["rep"] for r in out}
    assert all(got[rp] == rp for rp in reps)
    # the planted near-identical triples actually collapse (no salt case)
    if max_cluster == 2000:
        assert len(reps) < len(out)


def test_semdedup_partition_invariant_and_edges(spark):
    emb = _blobs(spark, n=60)
    a = sorted(map(tuple, semantic_dedup(emb, tau=0.97, n_clusters=3).collect()))
    b = sorted(
        map(tuple, semantic_dedup(emb.repartition(7), tau=0.97, n_clusters=3).collect())
    )
    assert a == b and len(a) == 60
    with pytest.raises(ValueError):
        semantic_dedup(emb, tau=0.0)
    empty = emb.where("id < 0")
    assert semantic_dedup(empty, tau=0.9).count() == 0
