"""Similarity-graph constructors: full Gaussian affinity, epsilon
neighborhood, kNN, mutual kNN — as windowed operators over the pairwise
edge list (reference: src/src/main/java/graph/ReadCsvTestData.java,
dense matrix scans; semantics preserved, representation replaced).

Conventions:
  * input  : directed distance edges (src, dst, dist), src != dst,
             both orientations present (symmetric distances).
  * output : affinity edges (src, dst, weight); undirected graphs are
             canonical src < dst; kNN is inherently directed and is
             returned directed (the live reference path,
             SimKitProcedures.java:251,786,975, uses the index-based
             directed kNN graph).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from ..util import count_rows, materialize, max_rows

# a relax frontier of at most this many rows is broadcast to the edges
BROADCAST_ROWS = 1_000_000


def local_sigmas(dist_edges: DataFrame, k: int) -> DataFrame:
    """sigma_i = k-th order statistic of row i of the distance matrix.

    The reference sorts each row ascending *including* the self
    distance 0 and takes sortedDistances[k]
    (ReadCsvTestData.java:258-268 calculateLocalSigmas). With self
    excluded from the edge list, that element is the k-th smallest
    neighbor distance (1-indexed), i.e. window rank == k.
    Ties broken by dst id for determinism (Java's stable sort breaks
    them by index order as well).
    """
    if k < 1:
        raise ValueError("sigma index must be >= 1 (0 selects the self-distance)")
    w = Window.partitionBy("src").orderBy(F.col("dist").asc(), F.col("dst").asc())
    return (
        dist_edges.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == k)
        .select(F.col("src").alias("id"), F.col("dist").alias("sigma"))
    )


def full_affinity(dist_edges: DataFrame, sigma_k: int) -> DataFrame:
    """Self-tuning Gaussian kernel a_ij = exp(-d_ij^2 / (sigma_i*sigma_j)).

    Reference: ReadCsvTestData.java:270-286 calculateAdjacencyMatrix
    (formula at :280, Zelnik-Manor/Perona-style local scaling); diagonal
    forced to 0 => self pairs simply absent from the edge list.
    Sigma join is an equi-join on id; AQE broadcasts it when small.
    """
    sig = local_sigmas(dist_edges, sigma_k)
    canon = dist_edges.where(F.col("src") < F.col("dst"))
    return (
        canon.join(sig.withColumnRenamed("id", "src").withColumnRenamed("sigma", "sig_s"), "src")
        .join(sig.withColumnRenamed("id", "dst").withColumnRenamed("sigma", "sig_d"), "dst")
        .select(
            "src",
            "dst",
            F.exp(-(F.col("dist") * F.col("dist")) / (F.col("sig_s") * F.col("sig_d"))).alias(
                "weight"
            ),
        )
    )


def epsilon_graph(dist_edges: DataFrame, eps: float) -> DataFrame:
    """a_ij = 1 iff d_ij < eps (strict <, ReadCsvTestData.java:308-326);
    symmetric, unweighted."""
    return (
        dist_edges.where((F.col("dist") < eps) & (F.col("src") < F.col("dst")))
        .select("src", "dst", F.lit(1.0).alias("weight"))
    )


def knn_edges(dist_edges: DataFrame, k: int) -> DataFrame:
    """Index-based kNN: for each src the k nearest dst (self excluded),
    ties broken by dst id — reference calculateKNNIndices
    (ReadCsvTestData.java:237-256): stable sort by distance, skip
    position 0 (self). Directed output, weight 1.
    """
    w = Window.partitionBy("src").orderBy(F.col("dist").asc(), F.col("dst").asc())
    return (
        dist_edges.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .select("src", "dst", F.lit(1.0).alias("weight"))
    )


def knn_edges_value_match(dist_edges: DataFrame, k: int) -> DataFrame:
    """VALUE-match kNN variant — the reference's other kNN
    (`ReadCsvTestData.calculateKNN:223-235` + `calculateKNNGraph:
    327-346`): row i's threshold set is the k smallest entries of the
    sorted row INCLUDING the self-distance 0, and an edge exists iff
    its distance VALUE is in that set. Equivalent closed form: keep
    every neighbor with dist <= the (k-1)-th smallest neighbor
    distance — so duplicate distances can yield MORE than k neighbors
    (the tie quirk that separates it from the index-based variant;
    SURVEY.md §7.4.3). Directed, weight 1.
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    if k == 1:
        # threshold set is {0.0}: only exact-duplicate points connect
        return dist_edges.where(F.col("dist") <= 0.0).select(
            "src", "dst", F.lit(1.0).alias("weight")
        )
    w = Window.partitionBy("src").orderBy(F.col("dist").asc(), F.col("dst").asc())
    thresh = (
        dist_edges.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == k - 1)
        .select("src", F.col("dist").alias("thresh"))
    )
    # LEFT join: a src with fewer than k-1 neighbor rows (k > n, or a
    # pre-filtered edge list) has no (k-1)-th row — its whole threshold
    # set is the row itself, so it keeps every edge (reference
    # value-match semantics; ADVICE r2 #4: the inner join silently
    # dropped such rows entirely)
    return (
        dist_edges.join(thresh, "src", "left")
        .where(F.col("dist") <= F.coalesce(F.col("thresh"), F.lit(float("inf"))))
        .select("src", "dst", F.lit(1.0).alias("weight"))
    )


def mutual_knn_edges(dist_edges: DataFrame, k: int) -> DataFrame:
    """a_ij = 1 iff j in kNN(i) AND i in kNN(j)
    (ReadCsvTestData.java:363-384 calculateMutualKNNGraph — implemented
    index-based; the value-match variant diverges only on duplicate
    distances, documented in SURVEY.md §7.4.3). Symmetric: semi-join of
    the directed kNN set with its own transpose.
    """
    knn = knn_edges(dist_edges, k).select("src", "dst")
    rev = knn.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    return (
        knn.join(rev, ["src", "dst"], "leftsemi")
        .where(F.col("src") < F.col("dst"))
        .select("src", "dst", F.lit(1.0).alias("weight"))
    )


def full_affinity_from_points(
    emb: DataFrame,
    sigma_k: int,
    kernel: str = "euclidean",
    id_col: str = "id",
    vec_col: str = "vec",
) -> DataFrame:
    """Self-tuning Gaussian affinity straight from points: sigmas come
    from the per-block top-k kernel (rank == sigma_k) and the pairwise
    weights from the canonical (src < dst) block kernel — neither path
    shuffles the directed n^2 edge list through a window (the round-1
    sigma ranking did). Output identical to
    full_affinity(pairwise_distances(emb, directed=True), sigma_k)."""
    from .kernels import auto_n_blocks, pairwise_distances, pairwise_topk, rows_and_dim

    emb = emb.localCheckpoint()
    # size both kernel passes from ONE (count, dim) action — per-call
    # auto-sizing would pay the fixed driver-job latency twice more
    n, d = rows_and_dim(emb, vec_col)
    nb = auto_n_blocks(n, emb.sparkSession.sparkContext.defaultParallelism, dim=d)
    sig = (
        pairwise_topk(emb, sigma_k, kernel, id_col, vec_col, n_blocks=nb)
        .where(F.col("rank") == sigma_k)
        .select(F.col("src").alias("id"), F.col("dist").alias("sigma"))
    )
    canon = pairwise_distances(emb, kernel, id_col=id_col, vec_col=vec_col, n_blocks=nb)
    return (
        canon.join(sig.withColumnRenamed("id", "src").withColumnRenamed("sigma", "sig_s"), "src")
        .join(sig.withColumnRenamed("id", "dst").withColumnRenamed("sigma", "sig_d"), "dst")
        .select(
            "src",
            "dst",
            F.exp(-(F.col("dist") * F.col("dist")) / (F.col("sig_s") * F.col("sig_d"))).alias(
                "weight"
            ),
        )
    )


def knn_graph_from_points(
    emb: DataFrame,
    k: int,
    kernel: str = "euclidean",
    id_col: str = "id",
    vec_col: str = "vec",
) -> DataFrame:
    """Directed kNN graph straight from points via the per-block top-k
    kernel (kernels.pairwise_topk): each block task emits only its
    per-src top-k, so the ranking shuffle carries n*B*k rows instead of
    the n^2 directed pair space (the round-1 plan windowed the full
    pairwise edge list). Identical output to
    knn_edges(pairwise_distances(emb, directed=True), k)."""
    from .kernels import pairwise_topk

    t = pairwise_topk(emb, k, kernel, id_col, vec_col)
    return t.select("src", "dst", F.lit(1.0).alias("weight"))


def mutual_knn_from_points(
    emb: DataFrame,
    k: int,
    kernel: str = "euclidean",
    id_col: str = "id",
    vec_col: str = "vec",
) -> DataFrame:
    """Mutual-kNN graph from points via the top-k kernel (see
    knn_graph_from_points); same output as
    mutual_knn_edges(pairwise_distances(emb, directed=True), k)."""
    knn = knn_graph_from_points(emb, k, kernel, id_col, vec_col).select("src", "dst")
    rev = knn.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    return (
        knn.join(rev, ["src", "dst"], "leftsemi")
        .where(F.col("src") < F.col("dst"))
        .select("src", "dst", F.lit(1.0).alias("weight"))
    )


def symmetrize(edges: DataFrame) -> DataFrame:
    """Canonical (src<dst) edges -> both orientations (the reference
    mirrors a[j][i] = a[i][j], MatrixCalculation.java:76-77)."""
    return edges.unionByName(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"), "weight")
    )


def undirected(edges: DataFrame) -> DataFrame:
    """(src, dst) any orientation -> distinct (u < v) simple-graph pairs:
    self-loops dropped, duplicates and reverse duplicates collapsed."""
    return (
        edges.select(
            F.least("src", "dst").alias("u"), F.greatest("src", "dst").alias("v")
        )
        .where(F.col("u") != F.col("v"))
        .distinct()
    )


def adjacency(und: DataFrame) -> DataFrame:
    """Distinct (u < v) pairs -> (a, b) in both orientations, the sweep
    layout of the iterative graph operators: hash-partitioned AND
    sorted on ``a`` once, then persisted. The cached plan keeps its
    output ordering, so each sweep's sort-merge join on ``a`` streams
    the cached edge side without re-sorting or re-shuffling it. The
    caller unpersists it."""
    return (
        und.select(F.col("u").alias("a"), F.col("v").alias("b"))
        .union(und.select(F.col("v").alias("a"), F.col("u").alias("b")))
        .repartition("a")
        .sortWithinPartitions("a")
        .persist()
    )


def indexed(pdf):
    """Driver twins' id index: (ids, src, dst) — the sorted distinct
    endpoints of a collected (src, dst) frame and each edge's positions
    in them. Index order is value order, so id tie-breaks on positions
    agree with the engine's."""
    import numpy as np

    ids = np.unique(np.concatenate([pdf["src"].values, pdf["dst"].values]))
    return ids, np.searchsorted(ids, pdf["src"].values), np.searchsorted(ids, pdf["dst"].values)


def undirected_indexed(pdf):
    """Driver twin of ``adjacency(undirected(...))`` over a collected
    (src, dst) frame: (ids, a, b) with ``ids`` the sorted endpoints of
    the simple graph and (a, b) its pairs as positions in ``ids``, both
    orientations. Ids are encoded BEFORE deduplicating, because
    ``np.unique(..., axis=0)`` rejects object dtype and string ids (KG
    IRIs like "part:17") must never reach it."""
    import numpy as np

    u = np.minimum(pdf["src"].values, pdf["dst"].values)
    v = np.maximum(pdf["src"].values, pdf["dst"].values)
    keep = u != v
    ids = np.unique(np.concatenate([u[keep], v[keep]]))
    n = len(ids)
    enc = np.unique(
        np.searchsorted(ids, u[keep]).astype(np.int64) * n
        + np.searchsorted(ids, v[keep]).astype(np.int64)
    )
    ui, vi = enc // n, enc % n
    return ids, np.concatenate([ui, vi]), np.concatenate([vi, ui])


def relax(
    edges: DataFrame, labels: DataFrame, step, max_sweeps: int, by=()
) -> tuple[DataFrame, bool]:
    """Min-label fixpoint over an edge list, swept from the frontier
    (Bellman-Ford; semi-naive datalog with ``min``).

    ``labels`` is (*by, id, val), distinct on (*by, id); ``edges`` has
    ``src``, ``dst`` and the columns ``step`` reads, none named ``val``
    or in ``by``. Per sweep the frontier (the labels the last merge
    improved; all of them at first) joins the edges on ``src = id``,
    each edge offers ``step(val)`` to (*by, dst) unless it is null, and
    the min offers merge into the labels. Jacobi order: after i sweeps
    a label is the best over paths of at most i edges. Returns the
    labels and whether a sweep within ``max_sweeps`` improved none.
    The caller's edge layout (partitioned, persisted) is never redone.

    - Khop lesson: a checkpoint has no size statistics, so unhinted the
      planner sort-merge-joins the frontier and reshuffles the far
      larger edge list every sweep (5x the whole k-hop traversal at 10M
      triples; AQE demotes to broadcast only after that map stage ran).
      A frontier of at most ``BROADCAST_ROWS`` is broadcast instead.
    - SCC Catalyst note: the merge is one full-outer join whose one
      projection computes the ``least`` value and the ``improved``
      flag. A Union-then-min merge hits Catalyst's Union constraint
      rewrite ("key not found: id#...") on checkpointed children at
      ~100k nodes.
    - Frontier delta: a label that did not improve already made its
      offers, so only the frontier joins the edges. It is a filter of
      the one materialized table, whose flag count is a scan of that
      checkpoint, not a join of two generations."""
    keys = [*by, "id"]
    state = materialize(labels.select(*keys, "val", F.lit(True).alias("improved")))
    # seeds built on the driver, or a limit, need no count to be hinted
    n = max_rows(labels)
    if n is None or n > BROADCAST_ROWS:
        n = count_rows(state)
    for _ in range(max_sweeps):
        if n == 0:
            break
        frontier = state.where("improved").select(
            *by, F.col("id").alias("src"), "val"
        )
        if n <= BROADCAST_ROWS:
            frontier = F.broadcast(frontier)
        offers = (
            frontier.join(edges, "src")
            .select(*by, F.col("dst").alias("id"), step(F.col("val")).alias("offer"))
            .where(F.col("offer").isNotNull())
            .groupBy(*keys)
            .agg(F.min("offer").alias("offer"))
        )
        state = materialize(
            state.join(offers, keys, "full").select(
                *keys,
                F.least("val", "offer").alias("val"),
                F.coalesce(
                    F.col("offer") < F.col("val"), F.col("val").isNull()
                ).alias("improved"),
            )
        )
        n = count_rows(state.where("improved"))
    return state.select(*keys, "val"), n == 0


def build_affinity_graph(
    dist_edges: DataFrame, graph_type: str, param: float | int
) -> DataFrame:
    """Dispatch mirroring SimKitProcedures.java:243-259 graph_type
    handling: 'full' | 'eps' | 'knn' | 'mknn'. Returns canonical or
    directed edges per constructor docs above."""
    if graph_type == "full":
        return full_affinity(dist_edges, int(param))
    if graph_type == "eps":
        return epsilon_graph(dist_edges, float(param))
    if graph_type == "knn":
        return knn_edges(dist_edges, int(param))
    if graph_type == "mknn":
        return mutual_knn_edges(dist_edges, int(param))
    raise ValueError(f"unknown graph_type {graph_type!r}")
