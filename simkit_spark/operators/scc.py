"""Strongly connected components of a DIRECTED graph.

The undirected ``operators.components`` collapses similarity graphs;
directed graphs (kNN before symmetrization, KG predicates, event
attribution chains) need mutual reachability: u and v share a
component iff u reaches v AND v reaches u. Canonical label = min
member id — the same contract as connected_components, so downstream
relabel joins are interchangeable.

Size dispatch (``util.size_dispatch``, 300k-row default, as
components.connected_components):

- LOCAL for a driver-sized edge list: one Arrow collect, iterative
  Tarjan (explicit stack, no recursion) over CSR adjacency — exact,
  and the shape the DuckDB full-closure oracle checks at sf0.01.

- DISTRIBUTED above: forward-backward min-label rounds (the FW-BW
  coloring of Fleischer/Hendrickson/Pınar and Orzan's coloring, the
  standard MapReduce/Pregel SCC): per round, propagate the min
  unresolved id forward to fixpoint (F) and backward to fixpoint (B);
  nodes with F(v) == B(v) are mutually reachable with that min id and
  resolve to it; their edges drop out and the next round runs on the
  remainder. Each propagation is ``graphs.relax`` over a fixed
  persisted edge layout (the pagerank sorted-once pattern); per round
  at least the min-id node of every remaining component resolves, and
  in similarity/KG graphs (few giant SCCs + singleton tail) a handful
  of rounds clears everything. Worst case (a path of n singleton SCCs)
  degrades to O(n) rounds — inherent to label-propagation SCC;
  ``max_rounds`` keeps it loud, not silent.

Scale: sweeps never materialize pair-space reachability (that is the
oracle's luxury at 500 nodes); state is one (id, label) row per node,
shuffles are keyed by the persisted edge partitioning.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..util import materialize, size_dispatch
from .graphs import indexed, relax


def _tarjan_numpy(ids, src, dst):
    """Iterative Tarjan over CSR arrays; returns component = min member
    id per node (canonical relabel of Tarjan's root assignment)."""
    import numpy as np

    n = len(ids)
    order = np.argsort(src, kind="stable")
    s_sorted = src[order]
    d_sorted = dst[order]
    starts = np.searchsorted(s_sorted, np.arange(n + 1))

    index = np.full(n, -1, dtype=np.int64)
    low = np.zeros(n, dtype=np.int64)
    on_stack = np.zeros(n, dtype=bool)
    comp = np.full(n, -1, dtype=np.int64)
    stack: list[int] = []
    counter = 0
    n_comp = 0
    for root in range(n):
        if index[root] != -1:
            continue
        # explicit DFS stack: (node, next-edge-cursor)
        work = [(root, starts[root])]
        index[root] = low[root] = counter
        counter += 1
        stack.append(root)
        on_stack[root] = True
        while work:
            v, cur = work[-1]
            if cur < starts[v + 1]:
                work[-1] = (v, cur + 1)
                w = int(d_sorted[cur])
                if index[w] == -1:
                    index[w] = low[w] = counter
                    counter += 1
                    stack.append(w)
                    on_stack[w] = True
                    work.append((w, starts[w]))
                elif on_stack[w]:
                    low[v] = min(low[v], index[w])
            else:
                work.pop()
                if work:
                    p = work[-1][0]
                    low[p] = min(low[p], low[v])
                if low[v] == index[v]:
                    while True:
                        w = stack.pop()
                        on_stack[w] = False
                        comp[w] = n_comp
                        if w == v:
                            break
                    n_comp += 1
    # canonical: min member id per Tarjan component
    mins = np.full(n_comp, np.iinfo(np.int64).max, dtype=np.int64)
    idx = np.arange(n)
    np.minimum.at(mins, comp, idx)
    return ids[mins[comp]]


def strongly_connected_components(
    edges: DataFrame,
    max_rounds: int = 30,
    max_sweeps: int = 50,
) -> DataFrame:
    """(id, component) over directed (src, dst) edges; component = min
    member id. Nodes = every edge endpoint (isolated nodes are their
    own singleton SCC and can be unioned in by the caller)."""
    return size_dispatch(
        edges.select("src", "dst").distinct(),
        _scc_local,
        lambda e0: _fwbw_rounds(e0, max_rounds, max_sweeps),
        "id {id}, component {id}",
        default_rows=300_000,
    )


def _scc_local(pdf):
    import pandas as pd

    ids, src, dst = indexed(pdf)
    return pd.DataFrame({"id": ids, "component": _tarjan_numpy(ids, src, dst)})


def _fwbw_rounds(e0: DataFrame, max_rounds: int, max_sweeps: int) -> DataFrame:
    """Distributed path: forward-backward min-label rounds over the
    distinct, materialized edge list (module docstring)."""
    fwd = e0.repartition("src").persist()
    bwd = e0.select(
        F.col("dst").alias("src"), F.col("src").alias("dst")
    ).repartition("src").persist()
    fwd.count(), bwd.count()

    live = (
        e0.select(F.col("src").alias("id"))
        .union(e0.select(F.col("dst").alias("id")))
        .distinct()
        .transform(materialize)
    )
    resolved = None

    def min_reach(rev_e: DataFrame, nodes: DataFrame) -> DataFrame:
        """(id, lab): the min id that each live node reaches along the
        REVERSED edges ``rev_e``, by ``graphs.relax`` to fixpoint."""
        labels = nodes.select("id", F.col("id").alias("val"))
        lab, converged = relax(rev_e, labels, lambda v: v, max_sweeps)
        if not converged:
            raise RuntimeError(
                f"SCC min-label propagation did not converge in {max_sweeps} sweeps"
            )
        return lab.withColumnRenamed("val", "lab")

    for _ in range(max_rounds):
        n_live = live.count()
        if n_live == 0:
            break
        # restrict edges to live nodes (resolved nodes' edges drop out)
        fe = (
            fwd.join(live.withColumnRenamed("id", "src"), "src", "leftsemi")
            .join(live.withColumnRenamed("id", "dst"), "dst", "leftsemi")
            .transform(materialize)
        )
        be = (
            bwd.join(live.withColumnRenamed("id", "src"), "src", "leftsemi")
            .join(live.withColumnRenamed("id", "dst"), "dst", "leftsemi")
            .transform(materialize)
        )
        fl = min_reach(be, live)
        bl = min_reach(fe, live)
        both = fl.join(
            bl.withColumnRenamed("lab", "blab"), "id"
        ).transform(materialize)
        done = both.where(F.col("lab") == F.col("blab")).select(
            "id", F.col("lab").alias("component")
        )
        resolved = done if resolved is None else resolved.unionAll(done)
        resolved = resolved.transform(materialize)
        live = (
            both.where(F.col("lab") != F.col("blab"))
            .select("id")
            .transform(materialize)
        )
    else:
        if live.count() > 0:
            raise RuntimeError(
                f"SCC did not resolve all nodes in {max_rounds} FW-BW rounds"
            )
    fwd.unpersist()
    bwd.unpersist()
    if resolved is None:
        id_t = e0.schema["src"].dataType.simpleString()
        return e0.sparkSession.createDataFrame([], f"id {id_t}, component {id_t}")
    return resolved
