"""Connected components via min-label propagation with pointer
doubling — the canonicalization merge of entity clusters
(BASELINE.json north_star). No GraphFrames dependency.

Each round does two label updates:
  1. neighbor-min:    label(v) <- min(label(v), min_{u in N(v)} label(u))
  2. pointer double:  label(v) <- label(label(v))
Plain propagation alone needs O(diameter) rounds — a 10^6-long alias
chain would need 10^6 shuffles; the doubling step halves every label
chain each round, giving O(log diameter) convergence (the hash-to-min /
pointer-jumping bound), with lineage broken per round via
localCheckpoint. The reference has no CC operator (its merge is
implicit in dense k-means cluster ids); this is the scale-path
replacement.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from .. import util
from ..util import materialize, size_dispatch


def connected_components(
    edges: DataFrame,
    nodes: DataFrame | None = None,
    max_iter: int = 50,
) -> DataFrame:
    """edges: (src, dst) any orientation. Returns (id, component) where
    component = min node id in the component; ``nodes`` defaults to
    the edge endpoints.

    Size-dispatched (``util.size_dispatch``, 300k-row default): a
    driver-sized edge list is collected through Arrow as numpy arrays
    — never Row objects: 300k edges is ~5 MB of int64 columns vs
    hundreds of MB of Rows — and runs union-find in one job round-trip
    instead of ~2 jobs per propagation round; larger graphs, or a
    ``nodes`` list past the same row budget, run the distributed
    loop."""

    def local(epd):
        if nodes is None:
            return _union_find(epd, None)
        ids = nodes.select("id")
        thr = util.local_dispatch_rows(ids.schema, 300_000)
        npd = ids.limit(thr + 1).toPandas()
        return None if len(npd) > thr else _union_find(epd, npd)

    return size_dispatch(
        edges.select("src", "dst"),
        local,
        lambda e: _components_dist(e, nodes, max_iter),
        "id {id}, component {id}",
        default_rows=300_000,
    )


def _union_find(epd, npd):
    import numpy as np  # noqa: PLC0415
    import pandas as pd  # noqa: PLC0415

    esrc = epd["src"].to_numpy()
    edst = epd["dst"].to_numpy()
    if npd is None:
        ids = np.unique(np.concatenate([esrc, edst]))
    else:
        ids = np.sort(npd["id"].to_numpy())
    src = np.searchsorted(ids, esrc)
    dst = np.searchsorted(ids, edst)
    # searchsorted silently maps an endpoint id missing from `nodes` to
    # a neighboring node's index (or walks off the end) — corrupting
    # unions where the old dict-based code raised KeyError. Keep the
    # contract violation loud (ADVICE r2 #1).
    if len(esrc):
        if len(ids) == 0:
            # numpy's fancy-indexing guard below would IndexError on an
            # empty ids array before `bad` exists — keep the contract
            # violation loud AND well-typed
            raise KeyError(
                f"edge endpoint not in nodes: ({esrc[0]}, {edst[0]}) — "
                "connected_components requires nodes to cover every endpoint"
            )
        bad = (
            (src >= len(ids)) | (dst >= len(ids))
            | (ids[np.minimum(src, len(ids) - 1)] != esrc)
            | (ids[np.minimum(dst, len(ids) - 1)] != edst)
        )
        if bad.any():
            i = int(np.nonzero(bad)[0][0])
            raise KeyError(
                f"edge endpoint not in nodes: ({esrc[i]}, {edst[i]}) — "
                "connected_components requires nodes to cover every endpoint"
            )
    parent = np.arange(len(ids))

    def find(x: int) -> int:
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    # ids are sorted ascending, so the smaller index IS the smaller id:
    # union by min index makes the root the component's min node id
    for a, b in zip(src, dst):
        ra, rb = find(int(a)), find(int(b))
        if ra != rb:
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    comp = np.array([ids[find(i)] for i in range(len(ids))], dtype=ids.dtype)
    return pd.DataFrame({"id": ids, "component": comp})


def _components_dist(
    edges: DataFrame, nodes: DataFrame | None, max_iter: int
) -> DataFrame:
    """Distributed path of ``connected_components``."""
    sym = edges.select("src", "dst").union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    if nodes is None:
        nodes = sym.select(F.col("src").alias("id")).distinct()
    labels = materialize(nodes.select("id", F.col("id").alias("component")))
    sym = materialize(sym)
    for _ in range(max_iter):
        nbr_min = (
            sym.join(labels.withColumnRenamed("id", "dst"), "dst")
            .groupBy(F.col("src").alias("id"))
            .agg(F.min("component").alias("nbr_component"))
        )
        stepped = labels.join(nbr_min, "id", "left").select(
            "id",
            F.least(
                F.col("component"), F.coalesce(F.col("nbr_component"), F.col("component"))
            ).alias("component"),
        )
        # pointer doubling: component <- component's own label
        parent = stepped.select(
            F.col("id").alias("component"), F.col("component").alias("grand")
        )
        new_labels = (
            stepped.join(parent, "component", "left")
            .select("id", F.coalesce("grand", "component").alias("component"))
            .transform(materialize)
        )
        changed = (
            new_labels.join(
                labels.withColumnRenamed("component", "old"), "id"
            )
            .where(F.col("component") != F.col("old"))
            .limit(1)
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    return labels
