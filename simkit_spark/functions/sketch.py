"""KMV (k-minimum-values) distinct-count sketch — cardinality
estimation for 100-TB-scale profiling where an exact count-distinct's
shuffle is the cost ceiling (Bar-Yossef et al., RANDOM'02; the
bottom-k sketch behind Theta sketches). Keep the k smallest distinct
hash values of a column; with u_(k) = h_(k)/2^32 the k-th smallest
normalized hash, D-hat = (k-1)/u_(k) estimates the distinct count with
relative error ~ 1/sqrt(k-2).

Why not approx_count_distinct: Spark's HLL++ is neither seedable nor
reproducible against another engine, so it can never be oracle-checked.
KMV under the repo's portable md5 family is bit-deterministic — a SQL
twin computes the identical k-th hash and the identical estimate (one
correctly-rounded division of exact integers, the priority_sample
contract).

Scale shape: hash projection -> hash-distinct (partial aggregation
dedups map-side, so the exchange carries per-task distinct hashes, not
rows) -> distributed TakeOrdered(k) (per-partition top-k, one k-sized
merge). Nothing row-sized ever sorts globally. For extreme
cardinalities the classic refinement — pre-filter h < t from a prior
bound so the distinct only sees candidate minima — composes on top by
filtering before the distinct; not automated here.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from .dedup import _md5_long, _md5_word

_HASH_SPACE = 4294967296  # 2^32, the md5-prefix hash space


def kmv_distinct(
    df: DataFrame, col: str, k: int = 256, seed: int = 42
) -> DataFrame:
    """One row: (n_kept, kth_hash, est_distinct). ``n_kept`` = number
    of sketch slots filled (= k when the column has >= k distinct
    values); when the true distinct count is < k the sketch is exact
    and est_distinct = n_kept. Ties in the hash space are impossible
    within the sketch (it holds DISTINCT hash values); hash collisions
    of distinct inputs under-count by ~D^2/2^33 — negligible below ~10^4
    distinct and bounded, documented behavior above (use a 64-bit
    family for bigger spaces).
    """
    if k < 3:
        raise ValueError(f"k must be >= 3 (the estimator divides by k-2 variance-wise), got {k}")
    h = _md5_long(
        F.concat_ws(":", F.col(col).cast("string"), F.lit(str(seed)))
    )
    bottom = (
        df.select(h.alias("h"))
        .distinct()
        .orderBy(F.asc("h"))
        .limit(k)
        .localCheckpoint()
    )
    return bottom.agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.max("h").alias("kth_hash"),
    ).select(
        "n_kept",
        "kth_hash",
        F.when(F.col("n_kept") < k, F.col("n_kept").cast("double"))
        .otherwise(
            (F.lit(k - 1) * F.lit(_HASH_SPACE)).cast("double")
            / F.col("kth_hash").cast("double")
        )
        .alias("est_distinct"),
    )


def km_words(col: Column, seed: int) -> tuple[Column, Column]:
    """The two INDEPENDENT 32-bit md5 words (w1, w2) that seed every
    Kirsch-Mitzenmacher probe in this repo (Bloom bits, CMS cells,
    batch and streaming). ONE md5 per value feeds all probe rows; the
    words must be independent because affine mixes of a single word
    share every collision (see dedup._md5_word). Any edit here desyncs
    the shared _KM_POS SQL twin in __spark_entry__ — change both."""
    key = F.concat_ws(":", col.cast("string"), F.lit(str(seed)))
    return _md5_word(key, 0), _md5_word(key, 1)


def km_pos(w1: Column, w2: Column, row: int | Column, m: int) -> Column:
    """Kirsch-Mitzenmacher probe row ``row`` into a table of size
    ``m``: (w1 + r*(2*w2+1)) mod 2^32 mod m (Kirsch & Mitzenmacher,
    ESA'06). The odd stride 2*w2+1 keeps rows distinct mod the
    power-of-two hash space; unlike affine mixes of one word, a base
    collision mod a power-of-two ``m`` no longer collapses every row at
    once, so min-over-rows bounds keep their 1-2^-depth failure
    probability. Plain int64 arithmetic — the SQL twin reproduces every
    probe bit-for-bit. THE single copy of the formula: bloomjoin and
    the batch/streaming CMS all route through here."""
    r = F.lit(row) if isinstance(row, int) else row
    return F.pmod(F.pmod(w1 + r * (w2 * 2 + 1), F.lit(_HASH_SPACE)), F.lit(m))


def _cms_cell(col: Column, row: int | Column, width: int, seed: int) -> Column:
    """Row-``row`` CMS bucket of a value: km_pos over km_words. Hashes
    the value anew per call — when one value feeds several rows (batch
    cms_build, streaming_cms), compute km_words ONCE and explode the
    rows over km_pos instead (md5 is the dominant per-row cost)."""
    w1, w2 = km_words(col, seed)
    return km_pos(w1, w2, row, width)


def cms_build(
    values: DataFrame,
    col: str,
    depth: int = 4,
    width: int = 2048,
    seed: int = 42,
) -> DataFrame:
    """Count-Min sketch (Cormode & Muthukrishnan, J.Alg'05) over a
    value column, one input row = one occurrence. Returns the sketch as
    (row, cell, cnt) — depth x width cells, never the values.

    Why this shape at 100 TB: frequency estimation with FIXED memory
    (depth*width counters) and one hash aggregation — partial
    aggregation collapses each task's occurrences into <= depth*width
    cells before the exchange, so the shuffle carries the sketch, not
    the corpus, and sketches merge by cell-wise addition (the same
    reason the sketch works for streams). Estimates only ever
    OVER-count (collisions add), by <= 2*N/width with probability
    1 - 2^-depth — the standard CM bound.
    """
    if depth < 1 or width < 2:
        raise ValueError(f"need depth >= 1 and width >= 2, got {depth}x{width}")
    # hash ONCE per occurrence, THEN expand the depth rows: the md5 is
    # the dominant per-row cost and the post-explode work is plain
    # integer arithmetic (measured 168 s -> md5-bound no more at 50M
    # occurrences x depth 4 when the digest rode through the explode)
    w1, w2 = km_words(F.col(col), seed)
    digest = values.select(w1.alias("w1"), w2.alias("w2"))
    rows = F.explode(F.array(*[F.lit(r) for r in range(depth)])).alias("row")
    return (
        digest.select("w1", "w2", rows)
        .select(
            "row",
            km_pos(F.col("w1"), F.col("w2"), F.col("row"), width).alias("cell"),
        )
        .groupBy("row", "cell")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def cms_estimate(
    sketch: DataFrame,
    terms: DataFrame,
    col: str,
    depth: int = 4,
    width: int = 2048,
    seed: int = 42,
) -> DataFrame:
    """Point-query the sketch for each value in ``terms[col]``: the
    estimate is min over rows of the value's cell counter (0 when a
    cell is absent — an empty cell means nothing hashed there). The
    terms side is a small query set, so its depth-expanded probes
    broadcast onto the sketch; the sketch itself is depth*width rows,
    also broadcastable — either way no corpus-sized shuffle."""
    probes = terms.select(F.col(col).alias("term")).distinct()
    probes = probes.select(
        "term",
        F.explode(F.array(*[F.lit(r) for r in range(depth)])).alias("row"),
    ).select(
        "term", "row", _cms_cell(F.col("term"), F.col("row"), width, seed).alias("cell")
    )
    joined = probes.join(F.broadcast(sketch), ["row", "cell"], "left").select(
        "term", F.coalesce(F.col("cnt"), F.lit(0)).alias("cnt")
    )
    return joined.groupBy("term").agg(F.min("cnt").alias("est"))


def hll_distinct(
    df: DataFrame, col: str, p: int = 8, seed: int = 42
) -> DataFrame:
    """HyperLogLog distinct-count sketch (Flajolet et al., AofA'07)
    under the portable md5 family — the register-based counterpart of
    kmv_distinct, and the building block hyperanf-style neighborhood
    estimation composes at graph scale.

    m = 2^p registers; each value hashes to 32 bits, the top p bits
    pick a register, and the register keeps the max of
    rho = #leading-zeros-of-the-remaining-bits + 1. The estimate is
    alpha_m * m^2 / sum_j 2^(-M_j), with the standard linear-counting
    correction (m * ln(m / zeros)) when E <= 2.5m and empty registers
    remain.

    Returns ONE row: (m, n_filled, z_int, branch, est_distinct).
    ``z_int`` is the harmonic denominator scaled by 2^(33-p) — an
    EXACT bigint (every 2^(-M_j) is a dyadic rational), so the
    register state is order-independent and engine-reproducible;
    the only float op is the final one-division estimate (and ln in
    the small-range branch), rounded at 3 dp.

    Why not approx_count_distinct: same argument as kmv_distinct —
    Spark's HLL++ is neither seedable nor reproducible cross-engine,
    so it can never be oracle-checked; this one is bit-deterministic.

    Scale shape: hash projection -> groupBy(bucket).max(rho) — partial
    aggregation collapses each task to <= m rows, the exchange carries
    <= m * n_tasks rows, and the final agg is m rows -> 1. Nothing
    row-sized shuffles. Mergeability (register-wise max) is what makes
    the sketch composable per-partition at 100 TB.
    """
    return _hll(df, col, [], p, seed)


def hll_distinct_by(
    df: DataFrame, col: str, by: list[str], p: int = 8, seed: int = 42
) -> DataFrame:
    """Per-group HyperLogLog: :func:`hll_distinct` with the registers
    keyed by ``by`` columns — one sketch row per group (by..., m,
    n_filled, z_int, branch, est_distinct). The per-domain / per-source
    cardinality profile a curation pipeline wants ("how many distinct
    fingerprints does each crawl domain contribute") without a
    per-group exact count-distinct shuffle of the raw values.

    Same determinism contract as the global sketch: register state is
    exact-integer (z_int), the estimate is ONE shared python-double
    numerator literal divided once, so the DuckDB twin is bit-exact.

    Scale shape: groupBy(by + bucket).max(rho) partial-aggregates to
    <= m rows per group per task; the final per-group fold is m -> 1.
    Groups shuffle by their own key — skewed group sizes cost nothing
    beyond their own register rows (<= m each regardless of group
    cardinality). That bounded per-group state is the whole point of
    sketching at 100 TB: a trillion-row group still ships 2^p rows.
    """
    if not by:
        raise ValueError("hll_distinct_by needs at least one group column")
    return _hll(df, col, by, p, seed)


def _hll(df: DataFrame, col: str, by: list[str], p: int, seed: int) -> DataFrame:
    """Registers and estimate of :func:`hll_distinct` (``by`` empty: one
    global row) and :func:`hll_distinct_by` (one row per group)."""
    bucket, rho = hll_register_cols(col, p=p, seed=seed)
    n_filled, z_int, linear, est = _hll_fold(p)
    return (
        df.select(*by, bucket.alias("bucket"), rho.alias("rho"))
        .groupBy(*by, "bucket")
        .agg(F.max("rho").alias("mrho"))
        .groupBy(*by)
        .agg(
            F.lit(1 << p).alias("m"),
            n_filled.alias("n_filled"),
            z_int.alias("z_int"),
            F.when(linear, F.lit("linear")).otherwise(F.lit("hll")).alias("branch"),
            F.round(est, 3).alias("est_distinct"),
        )
    )


def _hll_fold(p: int):
    """Aggregate Columns (n_filled, z_int, linear, est) folding one
    register set — its (bucket, mrho) rows, one per filled register —
    into the HyperLogLog estimate: alpha_m * m^2 * 2^k_scale as ONE
    python-double literal divided once by the exact-integer z_int, or
    m * ln(m / zeros) when that lands <= 2.5m with empty registers left.
    hll_distinct rounds ``est``; operators.anf sums it over node ids."""
    m = 1 << p
    k_scale = 32 - p + 1  # max rho; 2^(k_scale - rho) is >= 1
    alpha = 0.7213 / (1.0 + 1.079 / m)
    numer = F.lit(alpha * m * m * float(1 << k_scale))
    n_filled = F.count(F.lit(1))
    zf = F.coalesce(
        F.sum(F.expr(f"cast(pow(2, {k_scale} - mrho) as bigint)")), F.lit(0)
    )
    z_int = (F.lit(m) - n_filled) * F.lit(1 << k_scale) + zf
    linear = (numer / z_int <= F.lit(2.5 * m)) & (n_filled < F.lit(m))
    est = F.when(
        linear, F.lit(float(m)) * F.log(F.lit(float(m)) / (F.lit(m) - n_filled))
    ).otherwise(numer / z_int)
    return n_filled, z_int, linear, est


def hll_register_cols(col, p: int = 8, seed: int = 42):
    """(bucket, rho) Column pair of the HLL register update for one
    value — the shared projection of hll_distinct / hll_distinct_by /
    streaming.streaming_hll (register state = groupBy(bucket).max(rho)
    wherever it lives: batch agg or streaming state store)."""
    if not 4 <= p <= 16:
        raise ValueError(f"p must be in [4, 16], got {p}")
    rest_bits = 32 - p
    h = _md5_long(F.concat_ws(":", F.col(col).cast("string"), F.lit(str(seed))))
    bucket = (h / F.lit(1 << rest_bits)).cast("long")  # top p bits
    rest = h % F.lit(1 << rest_bits)
    # bit length via bin(): bin(0) = '0', handled by the rest=0 branch
    rho = (
        F.lit(rest_bits)
        - F.when(rest == 0, F.lit(0)).otherwise(F.length(F.bin(rest)))
        + F.lit(1)
    )
    return bucket, rho


def hll_estimate_from_registers(registers, p: int = 8) -> dict:
    """Fold collected (bucket, mrho) register rows — e.g. one window of
    streaming_hll output — into the estimate, with EXACTLY the
    hll_distinct math (same z_int integers, same single-division
    numerator, same linear-counting branch). Returns
    {"m", "n_filled", "z_int", "branch", "est_distinct"}."""
    m = 1 << p
    rest_bits = 32 - p
    k_scale = rest_bits + 1
    regs = {int(r["bucket"]): int(r["mrho"]) for r in registers}
    n_filled = len(regs)
    zf = sum(1 << (k_scale - mrho) for mrho in regs.values())
    z_int = (m - n_filled) * (1 << k_scale) + zf
    alpha = 0.7213 / (1.0 + 1.079 / m)
    numer = alpha * m * m * float(1 << k_scale)
    import math

    if numer / z_int <= 2.5 * m and n_filled < m:
        branch = "linear"
        est = round(float(m) * math.log(float(m) / (m - n_filled)), 3)
    else:
        branch = "hll"
        est = round(numer / z_int, 3)
    return {
        "m": m, "n_filled": n_filled, "z_int": z_int,
        "branch": branch, "est_distinct": est,
    }
