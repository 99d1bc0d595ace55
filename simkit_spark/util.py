"""Small shared utilities."""

from __future__ import annotations

from py4j.protocol import Py4JError
from pyspark.sql import DataFrame


def materialize(df: DataFrame, eager: bool = True) -> DataFrame:
    """Break lineage on an iterative operator's working set.

    If the session has a RELIABLE checkpoint directory configured
    (`spark.sparkContext.setCheckpointDir(...)` — HDFS/object store on
    a real cluster), use `checkpoint()`: localCheckpoint stores blocks
    on executors, so one lost executor kills a 40-sweep eigensolve or a
    CC loop at iteration 39. Without one (tests, local mode),
    `localCheckpoint()` keeps the cheap path.

    A driver-built answer (a LocalRelation, as ``size_dispatch``'s
    local path returns) comes back as it is: its rows already sit in
    the plan, so there is no lineage to break and the checkpoint would
    only be one more job."""
    if _plan_is_local(df):
        return df
    sc = df.sparkSession.sparkContext
    try:
        has_dir = sc._jsc.sc().checkpointDir().isDefined()
    except Exception:  # noqa: BLE001 — API drift safety
        has_dir = False
    if has_dir:
        ck = df.checkpoint(eager=eager)
    else:
        ck = df.localCheckpoint(eager=eager)
    return _reset_bloated_stats(ck) if eager else ck


def max_rows(df: DataFrame) -> int | None:
    """The optimizer's static bound on ``df``'s row count (a driver-built
    table's length, a ``limit``), or None when the plan has none. Reading
    it runs no job."""
    try:
        bound = df._jdf.queryExecution().optimizedPlan().maxRows()
        return int(bound.get()) if bound.isDefined() else None
    except Py4JError:  # internal-API drift: no bound
        return None


def count_rows(df: DataFrame) -> int:
    """``df.count()`` in one job: the row count of the physical plan's
    RDD. ``count()`` adds a single-partition aggregate exchange, which
    AQE runs as a job of its own."""
    try:
        rdd = df._jdf.queryExecution().toRdd()
    except Py4JError:  # internal-API drift: the plain count
        return df.count()
    return int(rdd.count())


def _plan_is_local(df: DataFrame) -> bool:
    """Whether ``df`` optimizes to a LocalRelation, under any
    repartition (``size_dispatch`` coalesces its answers)."""
    try:
        plan = df._jdf.queryExecution().optimizedPlan()
        while plan.getClass().getSimpleName() == "Repartition":
            plan = plan.child()
        return plan.getClass().getSimpleName() == "LocalRelation"
    except Py4JError:  # internal-API drift: checkpoint as before
        return False


# Catalyst's size-only stats visitor MULTIPLIES the children's
# sizeInBytes BigInts at every binary join, and checkpoint()/
# localCheckpoint() INHERIT the optimized plan's stats into the new
# LogicalRDD leaf (originStats). In a fixpoint loop that joins the
# running state against itself-derived tables, the stat's bit-length
# therefore DOUBLES per sweep — by sweep ~20 the driver spends minutes
# in million-digit Toom-Cook BigInteger multiplications inside join
# planning (measured: temporal reachability merges went 0.2 s -> 120 s
# per sweep on 100k nodes with constant 5-line plans and millisecond
# stages; jstack pinned SizeInBytesOnlyStatsPlanVisitor.visitJoin).
# Guard: when a checkpointed plan's sizeInBytes outgrows the
# threshold, rebuild the DataFrame as a fresh leaf over the SAME
# checkpointed RDD (no recompute, no extra job) with default stats.
# THRESHOLD CHOICE: a one-shot product of a handful of real tables
# legitimately exceeds 2^64 ((2^25)^3 = 2^75 for three 32 MB inputs) —
# resetting those to defaultSizeInBytes demoted static broadcast
# decisions and cost kg_transe_rank a measured 1.1 -> 6.3 s at sf0.1.
# Any value past the broadcast threshold plans as SMJ regardless of
# HOW huge it is, and BigInteger math only turns pathological at
# ~10^4+ bits, so the guard fires at 4096 bits: ordinary multi-join
# stats (hundreds of bits) pass through untouched, while a geometric
# loop crossing 4096 is capped within a sweep or two of crossing it
# (bit-length doubles per sweep) — planning identical, blowup gone.
_STATS_BITS_SANE = 4096


def _reset_bloated_stats(ck: DataFrame) -> DataFrame:
    try:
        jdf = ck._jdf
        jqe = jdf.queryExecution()
        # cached from the checkpoint job's planning — no recompute.
        # py4j hands the scala BigInt back as a Python int.
        size = int(jqe.optimizedPlan().stats().sizeInBytes())
        if size.bit_length() <= _STATS_BITS_SANE:
            return ck
        fresh = jdf.sparkSession().internalCreateDataFrame(
            jqe.toRdd(), jdf.schema(), False
        )
        return DataFrame(fresh, ck.sparkSession)
    except Exception:  # noqa: BLE001 — internal-API drift safety
        return ck


# --- local-twin dispatch sizing -------------------------------------
# The size-dispatched operators (size_dispatch below) collect
# driver-sized graphs via ONE Arrow pull and run a vectorized numpy
# twin. "Driver-sized" must be a BYTE budget, not a row count: 500k
# (src,dst) int64 edges is ~8 MB, but the same row count of wide rows
# (string IRIs, vec-weighted edges) could be hundreds of MB. The
# helper converts a byte budget into a row threshold using a static
# per-type width estimate — no sampling action, so dispatch stays one
# bounded collect.

LOCAL_DISPATCH_BYTE_BUDGET = 64 << 20  # 64 MiB of Arrow-collected columns

_STRING_BYTES = 48  # conservative for KG IRIs ("customer:12345" ~ 15)
_ARRAY_ELEMS = 16  # assumed elements when the length is unknowable


def _est_width(dt) -> int:
    """Static per-value byte estimate for a Spark DataType."""
    from pyspark.sql import types as T

    if isinstance(dt, (T.LongType, T.DoubleType, T.TimestampType)):
        return 8
    if isinstance(dt, (T.IntegerType, T.FloatType, T.DateType)):
        return 4
    if isinstance(dt, (T.ShortType,)):
        return 2
    if isinstance(dt, (T.ByteType, T.BooleanType)):
        return 1
    if isinstance(dt, T.StringType):
        return _STRING_BYTES
    if isinstance(dt, T.BinaryType):
        return 256
    if isinstance(dt, T.ArrayType):
        return 16 + _ARRAY_ELEMS * _est_width(dt.elementType)
    if isinstance(dt, T.StructType):
        return 16 + sum(_est_width(f.dataType) for f in dt.fields)
    if isinstance(dt, T.MapType):
        return 16 + _ARRAY_ELEMS * (
            _est_width(dt.keyType) + _est_width(dt.valueType)
        )
    return 16  # decimal & friends


def local_dispatch_rows(
    schema,
    default_rows: int = 500_000,
    byte_budget: int = LOCAL_DISPATCH_BYTE_BUDGET,
) -> int:
    """Row threshold under which ``size_dispatch`` collects locally:
    min(default_rows, rows-of-this-schema that fit byte_budget). For
    narrow (long,long) edge lists this returns default_rows unchanged
    (they fit 4M+ rows in the budget); wide rows shrink it so the
    driver collect is bounded in BYTES regardless of schema."""
    bytes_per_row = max(1, sum(_est_width(f.dataType) for f in schema.fields))
    return max(1_000, min(default_rows, byte_budget // bytes_per_row))


def size_dispatch(
    df: DataFrame,
    local_fn,
    dist_fn,
    schema: str,
    default_rows: int = 500_000,
) -> DataFrame:
    """The size dispatch every driver-local twin shares: run ``df``
    through ``local_fn`` on the driver when it is driver-sized, through
    ``dist_fn`` otherwise.

    - The size probe IS the collect: ``df.limit(thr + 1)`` comes back
      through Arrow in one action, ``thr`` being
      ``local_dispatch_rows(df.schema, default_rows)`` (a byte budget
      turned into rows, so wide rows dispatch earlier). If the limit
      does not bite, the result is ``local_fn(pdf)`` with no checkpoint
      and no count: a pandas frame of ``df``'s columns in, an answer
      built under the DDL ``schema`` (``{id}`` = the type of ``df``'s
      first column) out. ``local_fn`` also sees an empty input (seeds
      or a node list can make the answer to no edges non-empty); a
      zero-row answer needs no schema inference, and the frame plans as
      a LocalRelation whose cells Spark converts to Python natives with
      Arrow on or off (numpy scalars hard-error under Arrow-off row
      verification — the CORRECTNESS_r02 kmeans lesson). The answer is
      ONE partition, as AQE coalesces a driver-sized distributed
      answer: a LocalTableScan would split it into defaultParallelism
      slices, and every consumer then pays that many tasks per stage
      (measured: the nine kNN queries over the cached kNN table ran
      about 0.1 s slower each on 4 slices).
    - Otherwise the result is ``dist_fn(materialize(df))``, so the
      distributed sweeps never re-run the upstream. The trade: over
      budget, the bounded probe (at most the byte budget) is discarded
      and the upstream runs again for the checkpoint.
    - ``local_fn`` may decline by returning ``None``: a driver-sized
      input can still carry work that is not (a quadratic join space),
      and only the twin can size that from the collected frame. ``df``
      then goes to ``dist_fn`` as if it were over the row budget.

    Tests and stress scripts force either path by patching
    ``local_dispatch_rows`` in this module."""
    thr = local_dispatch_rows(df.schema, default_rows)
    pdf = df.limit(thr + 1).toPandas()
    out = local_fn(pdf) if len(pdf) <= thr else None
    if out is None:
        return dist_fn(materialize(df))
    ddl = schema.replace("{id}", df.schema.fields[0].dataType.simpleString())
    return df.sparkSession.createDataFrame(out if len(out) else [], ddl).coalesce(1)
