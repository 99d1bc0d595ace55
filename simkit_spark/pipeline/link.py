"""Stage 3 — entity linking: LSH-bucketed similarity graph over distinct
surface embeddings -> epsilon threshold -> connected-components merge ->
(optional) spectral refinement of over-merged components.

This is simkit's core machinery re-aimed at canonicalization
(BASELINE.json north_star): the epsilon-neighborhood graph semantics
come from ReadCsvTestData.java:308-326 (strict threshold), the
kNN/kernel options from SURVEY.md §2.4, and the merge is the
connected-components operator the dense reference never needed because
it held all n^2 in driver memory.

Scale shape: the pairwise space is over DISTINCT surfaces (hot-entity
dedup), candidates come from LSH buckets (random-hyperplane signatures
for cosine), and bucket joins run under AQE skew-split; a frequency cap
bounds any adversarial bucket.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window, functions as F

from ..operators.components import connected_components
from ..util import materialize, size_dispatch
from .refine import (
    DEFAULT_MIN_SIZE,
    DEFAULT_NCUT_MAX,
    refine_component_rows,
)


# Largest distinct-surface set linked on the driver (link_entities'
# size_dispatch cap); lsh_params pins the round-1 band layout up to it.
LOCAL_SURFACES = 20_000


def lsh_params(
    n: int,
    tau_design: float = 0.9,
    recall: float = 0.9,
) -> tuple[int, int]:
    """(n_planes, n_bands) sized to the distinct-surface count.

    A FIXED band layout cannot scale: 4-bit bands have 16 buckets per
    band, so at 25k surfaces every bucket holds ~1.5k rows and the
    band self-join emits ~78M candidate pairs (measured — the linking
    stage stops being sub-quadratic exactly when the distributed path
    takes over). Standard LSH sizing instead: band width rpb grows
    with log2(n) so random-pair collisions keep candidate volume
    near-linear, and the band count b restores recall for true alias
    pairs (cos >= tau_design, bit-agreement p1 = 1 - arccos(tau)/pi):
    recall = 1 - (1 - p1^rpb)^b. tau_design targets ALIAS-level
    similarity (~0.9 after surface normalization) rather than the tau
    threshold floor — borderline pairs near the floor are exactly the
    noisy edges spectral refinement exists to resist, so buying their
    recall with 10x the candidate volume is the wrong trade (measured:
    rpb designed at tau 0.8 over-generated 115 candidates per true
    edge at 25k surfaces; the rescore is memory-bandwidth-bound, so
    candidate volume IS the linking cost).

    Up to ``LOCAL_SURFACES`` (link_entities' local-dispatch cap) the
    layout pins to the round-1 (16, 4) so small-corpus behavior (and
    every fixture) is bit-identical; pairs near the tau floor get lower recall at scale
    by design — those are the noisy edges spectral refinement exists
    to resist.
    """
    if n <= LOCAL_SURFACES:
        return 16, 4
    p1 = 1.0 - np.arccos(min(tau_design, 1.0)) / np.pi
    # rpb tracks log2(n)+1 (clamped) so random collisions stay
    # near-linear; past n ~ 2^23 the fixed 32-band budget progressively
    # narrows recall to the highest-similarity pairs — the standard
    # single-probe LSH tradeoff (multi-probe or more bands buys it
    # back with more compute)
    rpb = int(np.clip(round(np.log2(max(n, 2))) + 1, 12, 24))
    hit = p1 ** rpb
    b = int(np.clip(np.ceil(np.log(1.0 - recall) / np.log(1.0 - hit)), 4, 32))
    return rpb * b, b


def lsh_signatures(
    emb: DataFrame,
    dim: int,
    n_planes: int = 16,
    n_bands: int = 4,
    seed: int = 42,
    id_col: str = "surface_id",
) -> DataFrame:
    """Random-hyperplane LSH: sign bits of vec . H, grouped into bands.
    Output: (id, band, sig) — one row per band; equal (band, sig) =>
    candidate bucket. Hyperplanes are seeded numpy, shipped in the
    closure (k x dim doubles)."""
    rng = np.random.RandomState(seed)
    planes = rng.randn(n_planes, dim)
    rows_per_band = n_planes // n_bands

    def sig(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            vecs = np.array(pdf["vec"].tolist())
            bits = (vecs @ planes.T) > 0 if len(pdf) else np.zeros((0, n_planes), bool)
            out = {"id": [], "band": [], "sig": []}
            for b in range(n_bands):
                chunk = bits[:, b * rows_per_band : (b + 1) * rows_per_band]
                vals = chunk @ (1 << np.arange(rows_per_band))
                out["id"].extend(pdf[id_col].tolist())
                out["band"].extend([b] * len(pdf))
                out["sig"].extend(vals.astype(int).tolist())
            yield pd.DataFrame(out)

    return emb.mapInPandas(sig, "id long, band int, sig long")


def candidate_pairs(
    emb: DataFrame,
    dim: int,
    n_planes: int | None = None,
    n_bands: int | None = None,
    seed: int = 42,
    max_bucket: int = 2000,
    id_col: str = "surface_id",
) -> DataFrame:
    """LSH-bucket self-join -> distinct candidate (src, dst) pairs,
    src < dst. Band layout auto-sizes from the row count when not given
    (lsh_params). Buckets larger than max_bucket are dropped with the
    cap logged into the plan (a stop-word-like surface that collides
    with everything would otherwise create a quadratic bucket — the
    cap is the explicit 'no silent quadratic' guard)."""
    if n_planes is None or n_bands is None:
        auto_planes, auto_bands = lsh_params(emb.count())
        n_planes = n_planes if n_planes is not None else auto_planes
        n_bands = n_bands if n_bands is not None else auto_bands
    sigs = lsh_signatures(emb, dim, n_planes, n_bands, seed, id_col)
    counts = sigs.groupBy("band", "sig").count()
    ok = counts.where(F.col("count") <= max_bucket).select("band", "sig")
    sigs = sigs.join(ok, ["band", "sig"], "leftsemi")
    a = sigs.select("band", "sig", F.col("id").alias("src"))
    b = sigs.select("band", "sig", F.col("id").alias("dst"))
    return (
        a.join(b, ["band", "sig"])
        .where(F.col("src") < F.col("dst"))
        .select("src", "dst")
        .distinct()
    )


def similarity_edges(
    emb: DataFrame,
    pairs: DataFrame,
    tau: float,
    id_col: str = "surface_id",
    broadcast_bytes: int = 512 * 1024 * 1024,
) -> DataFrame:
    """Exact cosine on candidate pairs; keep weight >= tau. (Reference
    epsilon semantics are strict '<' on a distance; on a similarity the
    mirrored strict form is '> tau', we use >= for stability and
    document the boundary in tests.)

    Plan dispatch: when the whole (id, vec) table fits the broadcast
    budget, ship it once as a numpy matrix and rescore the NARROW
    (src, dst) pair stream in place — each candidate pair row is 16
    bytes instead of two ~2 KB vectors, which at ~250 candidates per
    surface is the difference between shuffling 100 MB and 25 GB
    (measured: 73s -> ~3s at 25k surfaces / 6M candidates). Above the
    budget, fall back to the equi-join + Arrow-batch rescore (vecs
    replicated per candidate, but no driver-size assumption)."""
    spark = emb.sparkSession
    first = emb.select("vec").first()
    dim = len(first["vec"]) if first else 0
    n = emb.count()
    if n * dim * 8 <= broadcast_bytes:
        rows = emb.select(F.col(id_col).alias("id"), "vec").collect()
        ids = np.array([r["id"] for r in rows], dtype=np.int64)
        order = np.argsort(ids)
        ids_sorted = ids[order]
        mat = np.array([rows[i]["vec"] for i in order], dtype=np.float64)
        norms = np.sqrt((mat * mat).sum(1))
        bc = spark.sparkContext.broadcast((ids_sorted, mat, norms))

        def cos_bc(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            bids, bmat, bnorm = bc.value
            for pdf in batches:
                if not len(pdf):
                    continue
                si = np.searchsorted(bids, pdf["src"].to_numpy())
                di = np.searchsorted(bids, pdf["dst"].to_numpy())
                a, b = bmat[si], bmat[di]
                dot = np.einsum("ij,ij->i", a, b)
                na, nb = bnorm[si], bnorm[di]
                with np.errstate(divide="ignore", invalid="ignore"):
                    w = np.where((na == 0.0) | (nb == 0.0), 0.0, dot / (na * nb))
                keep = w >= tau
                yield pd.DataFrame(
                    {
                        "src": pdf["src"].to_numpy()[keep],
                        "dst": pdf["dst"].to_numpy()[keep],
                        "weight": w[keep],
                    }
                )

        return pairs.mapInPandas(cos_bc, "src long, dst long, weight double")
    va = emb.select(F.col(id_col).alias("src"), F.col("vec").alias("vec_a"))
    vb = emb.select(F.col(id_col).alias("dst"), F.col("vec").alias("vec_b"))
    joined = pairs.join(va, "src").join(vb, "dst")

    def cos(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            a = np.array(pdf["vec_a"].tolist(), dtype=np.float64)
            b = np.array(pdf["vec_b"].tolist(), dtype=np.float64)
            dot = np.einsum("ij,ij->i", a, b)
            na = np.sqrt(np.einsum("ij,ij->i", a, a))
            nb = np.sqrt(np.einsum("ij,ij->i", b, b))
            with np.errstate(divide="ignore", invalid="ignore"):
                w = np.where((na == 0.0) | (nb == 0.0), 0.0, dot / (na * nb))
            keep = w >= tau
            yield pd.DataFrame(
                {
                    "src": pdf["src"].to_numpy()[keep],
                    "dst": pdf["dst"].to_numpy()[keep],
                    "weight": w[keep],
                }
            )

    return joined.mapInPandas(cos, "src long, dst long, weight double")


def _link_local(
    pdf: pd.DataFrame,
    mentions: DataFrame,
    dim: int,
    tau: float,
    seed: int,
    refine: bool,
    refine_min_size: int,
    refine_ncut_max: float,
) -> pd.DataFrame:
    """Driver-local twin of link_entities over the collected distinct
    surfaces (the common case: distinct surfaces ≈ entity vocabulary,
    not corpus size): numpy LSH/cosine/union-find instead of ~15
    driver-sequential small-data jobs. Identical output contract and
    identical bucket/threshold semantics (same hyperplane seed, same
    band layout, same >= tau cut). Mention frequencies come from the
    surfaces' `n_mentions` column when present (it rides the surfaces
    stage's own groupBy); only legacy callers without it pay a mentions
    aggregation job."""
    if "n_mentions" in pdf.columns:
        freq = dict(zip(pdf["surface"], pdf["n_mentions"]))
    else:
        freq_rows = mentions.groupBy("surface").count().collect()
        freq = {r["surface"]: r["count"] for r in freq_rows}
    ids = pdf["surface_id"].to_numpy()
    surfs = pdf["surface"].tolist()
    vecs = np.array(pdf["vec"].tolist(), dtype=np.float64)
    n = len(pdf)
    rng = np.random.RandomState(seed)
    n_planes, n_bands = lsh_params(n)  # same layout rule as distributed
    rpb = n_planes // n_bands
    planes = rng.randn(n_planes, dim)
    bits = (vecs @ planes.T) > 0 if n else np.zeros((0, n_planes), bool)
    # buckets -> candidate pairs (same (band, sig) grouping as the
    # distributed path; max_bucket cap unnecessary at driver scale)
    from collections import defaultdict

    cand = set()
    for b in range(n_bands):
        chunk = bits[:, b * rpb : (b + 1) * rpb]
        sigs = chunk @ (1 << np.arange(rpb))
        buckets = defaultdict(list)
        for i, s in enumerate(sigs):
            buckets[int(s)].append(i)
        for members in buckets.values():
            if len(members) > 2000:  # same cap as candidate_pairs
                continue
            for ai in range(len(members)):
                for bi in range(ai + 1, len(members)):
                    cand.add((members[ai], members[bi]))
    norms = np.sqrt((vecs * vecs).sum(1)) if n else np.array([])
    parent = list(range(n))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    edges_acc: list[tuple[int, int, float]] = []
    for i, j in cand:
        if norms[i] == 0.0 or norms[j] == 0.0:
            continue
        cos = float(vecs[i] @ vecs[j]) / (norms[i] * norms[j])
        if cos >= tau:
            edges_acc.append((i, j, cos))
            a, b = find(i), find(j)
            if a != b:
                # union toward the smaller surface_id
                if ids[a] <= ids[b]:
                    parent[b] = a
                else:
                    parent[a] = b
    comp_members = defaultdict(list)
    for i in range(n):
        comp_members[find(i)].append(i)
    comp_edges = defaultdict(list)
    for i, j, w in edges_acc:
        comp_edges[find(i)].append((i, j, w))
    out = []
    for root, members in comp_members.items():
        # spectral refinement (north_star canonicalization: CC merge ->
        # recursive spectral split of over-merged components; the SAME
        # kernel+recursion as the distributed path)
        groups = [members]
        es = comp_edges.get(root, [])
        if refine and len(members) >= refine_min_size and es:
            assign = refine_component_rows(
                ids[members],
                np.array([ids[e[0]] for e in es]),
                np.array([ids[e[1]] for e in es]),
                np.array([e[2] for e in es]),
                min_size=refine_min_size,
                ncut_max=refine_ncut_max,
            )
            local_of = {int(ids[m]): m for m in members}
            by = defaultdict(list)
            for sid, ent in assign:
                by[ent].append(local_of[sid])
            groups = list(by.values())
        for grp in groups:
            entity_id = int(min(ids[m] for m in grp))
            canonical = min(
                (surfs[m] for m in grp),
                key=lambda s: (-freq.get(s, 0), -len(s), s),
            )
            for m in grp:
                out.append((surfs[m], int(ids[m]), entity_id, canonical))
    return pd.DataFrame(out, columns=["surface", "surface_id", "entity_id", "canonical"])


def refine_components(
    edges: DataFrame,
    comp: DataFrame,
    min_size: int = DEFAULT_MIN_SIZE,
    ncut_max: float = DEFAULT_NCUT_MAX,
) -> DataFrame:
    """Distributed spectral refinement: tag each similarity edge with
    its component, group by component, and run the shared numpy split
    kernel per component under applyInPandas — one task per component,
    parallel across components (the post-CC component population is
    many-and-small, so this is an embarrassingly parallel stage; a
    ``max_members`` guard inside the kernel passes pathological
    mega-components through unsplit instead of OOMing a task).

    edges(src, dst, weight), comp(id, component) ->
    (surface_id, entity_id) for every member of a component with at
    least ``min_size`` members. ``spectral_split`` never splits a
    smaller one, so its edges are dropped before the grouped map; the
    caller coalesces those members, like isolated nodes (no >= tau
    edge), to their component id.
    """
    import pandas as pd  # noqa: PLC0415

    splittable = (
        comp.groupBy("component")
        .count()
        .where(F.col("count") >= min_size)
        .select("component")
    )
    tagged = edges.join(
        comp.select(F.col("id").alias("src"), "component"), "src"
    ).join(splittable, "component", "left_semi")

    def split_fn(key, pdf):
        srcs = pdf["src"].to_numpy()
        dsts = pdf["dst"].to_numpy()
        ws = pdf["weight"].to_numpy()
        mids = np.unique(np.concatenate([srcs, dsts]))
        rows = refine_component_rows(
            mids, srcs, dsts, ws, min_size=min_size, ncut_max=ncut_max
        )
        return pd.DataFrame(rows, columns=["surface_id", "entity_id"])

    return tagged.groupBy("component").applyInPandas(
        split_fn, "surface_id long, entity_id long"
    )


def link_entities(
    surfaces: DataFrame,
    mentions: DataFrame,
    dim: int,
    tau: float = 0.75,
    seed: int = 42,
    cc_max_iter: int = 30,
    refine: bool = True,
    refine_min_size: int = DEFAULT_MIN_SIZE,
    refine_ncut_max: float = DEFAULT_NCUT_MAX,
) -> DataFrame:
    """surfaces(surface, surface_id, vec) + mentions(surface, ...) ->
    entity map (surface, surface_id, entity_id, canonical).

    The full north_star canonicalization chain: LSH candidate graph ->
    exact cosine >= tau edges -> connected-components merge -> spectral
    refinement of over-merged components (refine_components /
    spectral_split — the reference's spectralClustering chain,
    SimKitProcedures.java:739-862, re-aimed at mention graphs).
    entity_id = min surface_id in the refined cluster; canonical = the
    cluster's most frequent mention surface (ties -> longest, then
    lexicographically smallest — longer forms carry the suffix).

    Size-dispatched on ``util.size_dispatch`` with
    ``default_rows=LOCAL_SURFACES``: up to that many distinct surfaces
    link on the driver (_link_local); above it, the distributed LSH
    path runs.
    """

    def dist(surfaces):
        pairs = candidate_pairs(surfaces, dim, seed=seed)
        edges = materialize(similarity_edges(surfaces, pairs, tau))
        comp = connected_components(
            edges.select("src", "dst"),
            nodes=surfaces.select(F.col("surface_id").alias("id")),
            max_iter=cc_max_iter,
        )
        if refine:
            refined = refine_components(
                edges, comp, min_size=refine_min_size, ncut_max=refine_ncut_max
            )
            assign = (
                comp.withColumnRenamed("id", "surface_id")
                .join(refined, "surface_id", "left")
                .select(
                    "surface_id",
                    F.coalesce("entity_id", F.col("component")).alias("entity_id"),
                )
            )
        else:
            assign = comp.select(
                F.col("id").alias("surface_id"), F.col("component").alias("entity_id")
            )
        mapped = surfaces.select("surface", "surface_id").join(assign, "surface_id")
        if "n_mentions" in surfaces.columns:
            # frequency already rode the surfaces stage's groupBy — no
            # second aggregation pass over the (corpus-sized) mentions table
            freq = surfaces.select("surface", F.col("n_mentions").alias("count"))
        else:
            freq = mentions.groupBy("surface").count()
        scored = mapped.join(freq, "surface", "left").fillna(0, ["count"])
        w = Window.partitionBy("entity_id").orderBy(
            F.col("count").desc(), F.length("surface").desc(), F.col("surface").asc()
        )
        canon = (
            scored.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") == 1)
            .select("entity_id", F.col("surface").alias("canonical"))
        )
        return mapped.join(canon, "entity_id").select(
            "surface", "surface_id", "entity_id", "canonical"
        )

    cols = [c for c in ("surface", "surface_id", "n_mentions", "vec")
            if c in surfaces.columns]
    return size_dispatch(
        surfaces.select(*cols),
        lambda pdf: _link_local(
            pdf, mentions, dim, tau, seed, refine, refine_min_size, refine_ncut_max
        ),
        dist,
        "surface string, surface_id long, entity_id long, canonical string",
        default_rows=LOCAL_SURFACES,
    )
