"""Event-log analytics: funnel, transition matrix, cohort retention.

Large-scale event streams (user_id, ts, event_type, ...) are the other
half of a training-data pipeline's telemetry: which documents get
engaged with, in what order, and for how long. These three operators
are the classic event-log reductions, each expressed as pure built-in
DataFrame ops (no Python in the loop) so Catalyst keeps them inside
whole-stage codegen and every aggregate combines map-side:

- :func:`funnel` — ordered multi-stage conversion with a per-step
  horizon (view -> click -> purchase within H seconds of each other).
- :func:`transition_counts` — first-order Markov transition counts and
  probabilities between consecutive event types per user.
- :func:`cohort_retention` — users active N days after their first-day
  cohort, the standard retention triangle.

Scale notes: every shuffle here is keyed by ``user_id`` (or by the
tiny post-aggregation type/day keys); per-user state is bounded by
that user's event count, so skewed power-users are the only hazard and
AQE's skew-join split handles the funnel's stage joins. The three
reductions never collect to the driver; :func:`temporal_reachability`
does, but only when its contact table is driver-sized (it then runs
one time-ordered pass on the driver instead of Spark sweeps).
"""

from __future__ import annotations

from bisect import bisect_left, bisect_right

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..operators.graphs import relax
from ..util import size_dispatch


def funnel(
    events: DataFrame,
    stages: list[str],
    horizon_s: int,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
) -> DataFrame:
    """Ordered funnel: earliest completion of ``stages`` per user.

    Stage 1 time ``t1`` is the user's earliest ``stages[0]`` event;
    each later stage i is the earliest ``stages[i-1]`` event STRICTLY
    after ``t_{i-1}`` and within ``horizon_s`` seconds of it
    (half-open lower bound, closed upper bound — an event at exactly
    ``t + horizon`` still converts; one at exactly ``t`` does not).
    Returns one row per user that reached stage 1:
    ``(user_id, t1..tK nullable timestamps, depth int)``.

    Plan shape: one groupBy per stage plus one join per later stage,
    every one keyed by ``user_col`` — K-1 co-keyed shuffles total, all
    aggregates partial. The per-stage event subsets are filtered
    before the join (predicate pushdown reaches the scan), so the join
    input is |events of that type|, not |events|.
    """
    if len(stages) < 2:
        raise ValueError("funnel wants >= 2 stages")
    u, t = F.col(user_col), F.col(ts_col)
    out = (
        events.where(F.col(type_col) == stages[0])
        .groupBy(user_col)
        .agg(F.min(t).alias("t1"))
    )
    for i, stage in enumerate(stages[1:], start=2):
        prev = F.col(f"t{i - 1}")
        nxt = events.where(F.col(type_col) == stage).select(
            u.alias(user_col), t.alias("_ts")
        )
        hit = (F.col("_ts") > prev) & (
            F.col("_ts") <= F.col(f"t{i - 1}") + F.expr(f"INTERVAL {horizon_s} SECOND")
        )
        out = (
            out.join(nxt, on=user_col, how="left")
            .groupBy(*out.columns)
            .agg(F.min(F.when(hit, F.col("_ts"))).alias(f"t{i}"))
        )
    depth = F.lit(1)
    for i in range(2, len(stages) + 1):
        depth = depth + F.when(F.col(f"t{i}").isNotNull(), 1).otherwise(0)
    return out.withColumn("depth", depth.cast("int"))


def transition_counts(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    tiebreak_col: str = "event_id",
) -> DataFrame:
    """First-order Markov transitions between consecutive events.

    Consecutive = adjacent in each user's (ts, tiebreak) order; the
    first event of a user has no predecessor and emits nothing.
    Returns ``(prev_type, event_type, n, prob)`` where ``prob`` is the
    row-normalized transition probability at 6dp.

    Plan shape: one shuffle (the per-user lag window), one hash
    aggregate on the tiny (prev, next) key, then a window sum over the
    aggregated rows — at most |types|^2 of them, so the second window
    is driver-trivial no matter the input size.
    """
    w = Window.partitionBy(user_col).orderBy(ts_col, tiebreak_col)
    pairs = (
        events.withColumn("prev_type", F.lag(type_col).over(w))
        .where(F.col("prev_type").isNotNull())
        .groupBy("prev_type", type_col)
        .agg(F.count("*").alias("n"))
    )
    row_tot = Window.partitionBy("prev_type")
    return pairs.select(
        "prev_type",
        F.col(type_col),
        "n",
        F.round(F.col("n") / F.sum("n").over(row_tot), 6).alias("prob"),
    )


def cohort_retention(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Retention triangle: distinct users active N days after signup.

    Cohort day = each user's first active calendar day; a user counts
    toward ``(cohort_day, offset_days)`` once per calendar day they
    appear. Returns ``(cohort_day, offset_days, n_users)``.

    Plan shape: dedup to (user, day) — one shuffle; per-user min via a
    window over the already-deduped rows — second shuffle, input is
    |user-days| not |events|; final count(distinct user) aggregates
    partial because (user, day) rows are already unique, so it lowers
    to a plain count. No joins, nothing broadcast, no driver state.
    """
    day = F.date_trunc("day", F.col(ts_col)).alias("day")
    active = events.select(F.col(user_col).alias("user"), day).distinct()
    w = Window.partitionBy("user")
    return (
        active.withColumn("cohort_day", F.min("day").over(w))
        .groupBy(
            "cohort_day",
            F.datediff(F.col("day"), F.col("cohort_day")).cast("int").alias(
                "offset_days"
            ),
        )
        .agg(F.count_distinct(F.col("user")).alias("n_users"))
    )


def temporal_reachability(
    contacts: DataFrame,
    seeds: list,
    max_sweeps: int = 30,
) -> DataFrame:
    """Earliest-arrival time-respecting reachability (contact tracing /
    information diffusion): over ``contacts`` (src, dst, t int64 —
    directed contact at time t), a path is valid only if contact times
    are NON-DECREASING along it; arrival(v) = the earliest t at which v
    can be reached from any seed. Seeds arrive at t=0 (contacts carry
    non-negative epoch micros). Returns (id, arrival) for every
    reachable node, seeds included at arrival 0.

    This is the temporal analogue of BFS — static reachability
    over-reports on event streams because it ignores causality (an
    edge that fired BEFORE you arrived cannot transmit).

    Size-dispatched (``util.size_dispatch``): a driver-sized contact
    table (500k rows for three longs) takes one time-ordered driver
    pass (:func:`_earliest_arrival_local`) instead of the sweeps, whose
    fixed per-sweep job cost dominates at that size. Larger tables run
    the distributed frontier-delta sweeps (:func:`_temporal_sweeps`),
    where ``max_sweeps`` is the backstop. Both paths compute the same
    fixpoint, so their outputs are identical (parity-tested).
    """
    if not seeds:
        raise ValueError("temporal_reachability requires at least one seed")
    return size_dispatch(
        contacts.select("src", "dst", F.col("t").cast("long")),
        lambda pdf: _earliest_arrival_local(pdf, seeds),
        lambda c: _temporal_sweeps(c, seeds, max_sweeps),
        "id {id}, arrival long",
    )


def _earliest_arrival_local(pdf: pd.DataFrame, seeds: list) -> pd.DataFrame:
    """Driver path of :func:`temporal_reachability`: one pass over the
    contacts in (t, src) order. When the pass reaches time t every node
    that will ever arrive by t already has, so a not-yet-arrived node
    reached at t arrives exactly at t. Contacts with equal t can chain
    (t >= arrival allows a same-time hop), so each equal-t group runs a
    BFS from the nodes that had arrived by t; a node arrives once, so
    the BFS work over the whole pass is bounded by the node count."""
    seed_ids = sorted(set(seeds))
    ids, inv = np.unique(
        np.concatenate(
            [pdf["src"].to_numpy(), pdf["dst"].to_numpy(), np.asarray(seed_ids)]
        ),
        return_inverse=True,
    )
    m = len(pdf)
    src, dst, seed_idx = inv[:m], inv[m : 2 * m], inv[2 * m :]
    t = pdf["t"].to_numpy(dtype=np.int64)
    order = np.lexsort((src, t))
    src, dst, t = src[order].tolist(), dst[order].tolist(), t[order].tolist()
    never = np.iinfo(np.int64).max
    arr = [never] * len(ids)
    for s in seed_idx.tolist():
        arr[s] = 0
    lo = 0
    while lo < m:
        tt = t[lo]
        hi = bisect_right(t, tt, lo)
        stack = []
        for k in range(lo, hi):
            v = dst[k]
            if arr[src[k]] <= tt < arr[v]:
                arr[v] = tt
                stack.append(v)
        while stack:  # same-time chains; src is ascending within [lo, hi)
            u = stack.pop()
            for k in range(bisect_left(src, u, lo, hi), bisect_right(src, u, lo, hi)):
                v = dst[k]
                if tt < arr[v]:
                    arr[v] = tt
                    stack.append(v)
        lo = hi
    arr = np.asarray(arr, dtype=np.int64)
    hit = arr < never
    return pd.DataFrame({"id": ids[hit], "arrival": arr[hit]})


def _temporal_sweeps(c: DataFrame, seeds: list, max_sweeps: int) -> DataFrame:
    """Distributed path of :func:`temporal_reachability` over the
    (src, dst, t long) contact table ``c``: ``graphs.relax`` with the
    seeds at 0 and each contact offering its t once it is no earlier
    than the arrival at its src. Runs to fixpoint (the oracle's
    recursive CTE does too) and raises if ``max_sweeps`` do not
    converge."""
    id_t = c.schema["src"].dataType.simpleString()
    seed_ids = sorted(set(seeds))
    labels = c.sparkSession.createDataFrame(
        pd.DataFrame({"id": seed_ids, "val": [0] * len(seed_ids)}),
        schema=f"id {id_t}, val long",
    )
    arrival, converged = relax(
        c, labels, lambda v: F.when(F.col("t") >= v, F.col("t")), max_sweeps
    )
    if not converged:
        raise RuntimeError(
            f"temporal reachability did not converge in {max_sweeps} sweeps"
        )
    return arrival.withColumnRenamed("val", "arrival")
