"""Deduplication operators for training-data pipelines.

  * exact_dedup      — md5 fingerprint groupBy (hash partition, no skew)
  * minhash_signatures — word-shingle MinHash with md5-derived hash
                         family (cross-engine deterministic: the DuckDB
                         oracle computes bit-identical signatures)
  * minhash_band_pairs — LSH banding of the signatures -> candidate
                         near-dup pairs (the scale path: no O(n^2))
  * simhash64        — 64-bit SimHash over word tokens (bit-majority),
                       built from md5 bits so it is engine-portable
  * ngram_jaccard    — exact weighted-shingle Jaccard on candidate pairs

All are built-in Spark SQL expressions (explode/groupBy/agg) — the hash
family is md5-substring -> bigint, NOT xxhash64/crc32, because the
oracle needs the identical function on the DuckDB side.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from .text import fingerprint, tokens


def _md5_long(col: Column) -> Column:
    """First 8 hex chars of md5 as a bigint in [0, 2^32) — the portable
    hash family used by minhash/simhash."""
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long")


def _md5_word(col: Column, word: int) -> Column:
    """The ``word``-th independent 32-bit word of the md5 digest (0-3)
    as a bigint in [0, 2^32). Bloom/CMS probes need genuinely
    independent hash rows: k affine mixes of ONE word share every
    collision (a base collision mod a power-of-two width flips ALL k
    probes at once), whereas distinct digest words do not."""
    if not 0 <= word <= 3:
        raise ValueError(f"md5 has 4 32-bit words, got index {word}")
    return F.conv(F.substring(F.md5(col), 1 + 8 * word, 8), 16, 10).cast("long")


def _mix(s: Column, h) -> Column:
    """h-th member of a multiply-shift hash family over [0, 2^32):
    (s * (2h+1) + h * 2654435761) mod 2^32. Odd multipliers are
    bijections mod 2^32, so each h permutes the base md5 hash — one md5
    per shingle feeds all n_hashes minhash rows instead of n_hashes
    md5s (the round-1 bench's #1 CPU sink). Plain BIGINT arithmetic, so
    the DuckDB oracle computes bit-identical values."""
    hh = F.lit(h) if isinstance(h, int) else h
    return F.pmod(s * (hh * 2 + 1) + hh * F.lit(2654435761), F.lit(4294967296))


def exact_dedup(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(fp, keep_doc_id, n_dups): one row per distinct normalized text;
    keeper = min doc_id."""
    return (
        docs.select("doc_id", fingerprint(F.col(text_col)).alias("fp"))
        .groupBy("fp")
        .agg(F.min("doc_id").alias("keep_doc_id"), F.count(F.lit(1)).alias("n_dups"))
    )


def shingles(col: Column, n: int = 3) -> Column:
    """Word n-gram shingles over lowercased text: 'a b c d' ->
    ['a b c', 'b c d'] (distinct). Docs shorter than n words get their
    whole text as one shingle.

    The token array is bound ONCE as a higher-order lambda variable
    (transform over a 1-element wrapper array): referencing the split()
    expression directly inside the per-shingle lambda would inline and
    re-run the regexp tokenizer for every shingle — O(n^2) splits per
    doc, measured 6-10x slower on the sf0.1 corpus."""

    def body(toks):
        k = F.size(toks)
        joined = F.array_join(toks, " ")
        grams = F.transform(
            F.sequence(F.lit(0), F.greatest(k - n, F.lit(0))),
            lambda i: F.array_join(F.slice(toks, i + 1, n), " "),
        )
        return F.when(k <= n, F.array(joined)).otherwise(F.array_distinct(grams))

    return F.transform(F.array(tokens(F.lower(col))), body)[0]


def minhash_signatures(
    docs: DataFrame, text_col: str = "text", n_hashes: int = 16, shingle_n: int = 3
) -> DataFrame:
    """(doc_id, h: int in [0,n_hashes), minhash: bigint) — n_hashes rows
    per doc: min over shingles of mix_h(md5(shingle)).

    Plan shape: ONE md5 per (doc, shingle) row, then the n_hashes
    family members as arithmetic columns aggregated in a single
    groupBy(doc_id) (n_hashes min-columns, exploded afterwards) — no
    n_hashes-fold row blowup, no crossJoin."""
    sh = docs.select(
        "doc_id", F.explode(shingles(F.col(text_col), shingle_n)).alias("shingle")
    ).select("doc_id", _md5_long(F.col("shingle")).alias("s"))
    agg = sh.groupBy("doc_id").agg(
        *[F.min(_mix(F.col("s"), h)).alias(f"m{h}") for h in range(n_hashes)]
    )
    pairs = F.array(
        *[
            F.struct(
                F.lit(h).cast("long").alias("h"), F.col(f"m{h}").alias("minhash")
            )
            for h in range(n_hashes)
        ]
    )
    return agg.select("doc_id", F.explode(pairs).alias("e")).select(
        "doc_id", "e.h", "e.minhash"
    )


def minhash_band_pairs(
    signatures: DataFrame,
    n_hashes: int = 16,
    n_bands: int = 4,
    max_bucket: int | None = None,
) -> DataFrame:
    """LSH banding: docs agreeing on ALL rows of any band become
    candidate pairs (src < dst). Band key = md5 of the concatenated
    band signature (portable).

    ``max_bucket`` drops band buckets larger than the cap before the
    self-join — the no-silent-quadratic guard for degenerate corpora
    (e.g. millions of identical boilerplate docs share every band and
    would otherwise produce a quadratic bucket). None (default) keeps
    exact oracle parity; set it at scale."""
    rows_per_band = n_hashes // n_bands
    banded = (
        signatures.withColumn("band", (F.col("h") / rows_per_band).cast("int"))
        .groupBy("doc_id", "band")
        .agg(
            F.md5(F.concat_ws(",", F.sort_array(F.collect_list(F.concat_ws(":", "h", "minhash"))))).alias(
                "band_key"
            )
        )
    )
    if max_bucket is not None:
        ok = (
            banded.groupBy("band", "band_key")
            .count()
            .where(F.col("count") <= max_bucket)
            .select("band", "band_key")
        )
        banded = banded.join(ok, ["band", "band_key"], "leftsemi")
    a = banded.select("band", "band_key", F.col("doc_id").alias("src"))
    b = banded.select("band", "band_key", F.col("doc_id").alias("dst"))
    return (
        a.join(b, ["band", "band_key"])
        .where(F.col("src") < F.col("dst"))
        .select("src", "dst")
        .distinct()
    )


def simhash64(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, simhash): bit-majority SimHash over token hashes
    (16-bit variant: keeps the aggregation narrow while exercising the
    full algorithm; each bit contributes +1/-1, simhash bit = sign of
    the sum). Portable to the SQL oracle (same md5 arithmetic)."""
    tok = docs.select("doc_id", F.explode(tokens(F.lower(F.col(text_col)))).alias("t"))
    h64 = _md5_long(F.col("t"))
    bits = tok.select(
        "doc_id",
        *[
            F.when(F.shiftright(h64, i).bitwiseAND(F.lit(1).cast("long")) == 1, 1)
            .otherwise(-1)
            .alias(f"b{i}")
            for i in range(16)  # 16-bit variant keeps the agg narrow
        ],
    )
    agg = bits.groupBy("doc_id").agg(*[F.sum(f"b{i}").alias(f"s{i}") for i in range(16)])
    sim = None
    for i in range(16):
        term = F.when(F.col(f"s{i}") > 0, F.lit(1 << i).cast("long")).otherwise(F.lit(0).cast("long"))
        sim = term if sim is None else sim + term
    return agg.select("doc_id", sim.alias("simhash"))


def neardup_resolve(
    docs: DataFrame,
    tau: float = 0.6,
    text_col: str = "text",
    n_hashes: int = 16,
    n_bands: int = 4,
    shingle_n: int = 3,
) -> DataFrame:
    """Near-duplicate RESOLUTION: (doc_id, keep_doc_id, cluster_size).

    The actionable form of near-dup detection for a training corpus:
    MinHash -> LSH band candidates -> exact shingle Jaccard >= tau ->
    connected-components over the near-dup graph -> keeper = min doc_id
    per cluster. Docs in no cluster keep themselves (cluster_size 1).
    Everything up to the CC merge is the same banded plan as
    minhash_band_pairs (no O(n^2)); the merge is the pointer-doubling
    CC operator, size-dispatched."""
    from ..operators.components import connected_components

    docs = docs.localCheckpoint()
    sigs = minhash_signatures(docs, text_col, n_hashes, shingle_n)
    cand = minhash_band_pairs(sigs, n_hashes, n_bands)
    jac = ngram_jaccard_pairs(docs, cand, text_col, shingle_n)
    edges = jac.where(F.col("jaccard") >= tau).select("src", "dst")
    # doc_ids are strings; CC works on longs — map through a dictionary
    ids = docs.select(F.col("doc_id")).distinct().select(
        "doc_id", F.xxhash64("doc_id").alias("nid")
    ).localCheckpoint()
    # a 64-bit hash collision would SILENTLY merge unrelated docs into
    # one cluster and pick a wrong keeper — vanishingly rare, but
    # undetectable after the fact, so fail loudly instead (ADVICE r2 #5)
    chk = ids.agg(
        F.count(F.lit(1)).alias("n"),
        F.count_distinct("nid").alias("n_nid"),
    ).first()
    if chk["n"] != chk["n_nid"]:
        raise RuntimeError(
            f"xxhash64 collision over doc_id: {chk['n']} distinct doc_ids -> "
            f"{chk['n_nid']} distinct node ids; neardup_resolve would merge "
            "unrelated documents. Re-key doc_ids (e.g. add a salt column)."
        )
    e = (
        edges.join(ids.withColumnRenamed("doc_id", "src"), "src")
        .withColumnRenamed("nid", "src_id")
        .join(ids.withColumnRenamed("doc_id", "dst"), "dst")
        .withColumnRenamed("nid", "dst_id")
        .select(F.col("src_id").alias("src"), F.col("dst_id").alias("dst"))
    )
    comp = connected_components(e, nodes=ids.select(F.col("nid").alias("id")))
    mapped = ids.join(comp.withColumnRenamed("id", "nid"), "nid")
    # keeper = lexicographically smallest doc_id in the component (the
    # component id is a hash, not meaningful — resolve back to doc_ids)
    keep = mapped.groupBy("component").agg(
        F.min("doc_id").alias("keep_doc_id"), F.count(F.lit(1)).alias("cluster_size")
    )
    return mapped.join(keep, "component").select("doc_id", "keep_doc_id", "cluster_size")


def ngram_jaccard_pairs(
    docs: DataFrame, pairs: DataFrame, text_col: str = "text", shingle_n: int = 3
) -> DataFrame:
    """Exact shingle-set Jaccard for candidate (src, dst) pairs."""
    sh = docs.select(
        F.col("doc_id"), shingles(F.col(text_col), shingle_n).alias("sh")
    )
    a = sh.select(F.col("doc_id").alias("src"), F.col("sh").alias("sh_a"))
    b = sh.select(F.col("doc_id").alias("dst"), F.col("sh").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    return (
        pairs.join(a, "src")
        .join(b, "dst")
        .select(
            "src",
            "dst",
            F.round(inter.cast("double") / F.greatest(union, F.lit(1)), 6).alias("jaccard"),
        )
    )


def duplicate_spans(
    docs: DataFrame,
    win: int = 24,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """ExactSubstr-style cross-document duplicate-span detection (the
    windowed-hash Spark re-expression of Lee et al., ACL'22 — their
    suffix array is a single-machine structure; fixed-length windows +
    a distributed group-by find the same >= win-char cross-doc repeats
    with per-window granularity): every maximal character span whose
    length-``win`` windows each occur in >= 2 DISTINCT documents,
    merged into per-doc intervals.

    Returns (doc_id, span_start, span_end, n_windows): 0-based char
    offsets, end exclusive (= last duplicated window start + win),
    n_windows = duplicated windows merged into the span. Within-doc
    repeats alone do NOT qualify (cross-document only — the training-
    data dedup definition). Docs shorter than ``win`` drop out.

    Scale shape (100 TB): window enumeration is linear in corpus bytes
    and stays inside one codegen stage (explode of an offset sequence +
    substring on the row's own text — no re-evaluated expensive
    expression, the shingles() inlining lesson). The FIRST shuffle
    carries only (doc_id, off, xxhash64) — never the window text; the
    window text is re-derived from the doc row ONLY for candidate
    offsets whose 64-bit hash collides across docs, then verified by
    exact string equality (zero false positives from hash collisions —
    the neardup_resolve xxhash lesson). Island-merge windows partition
    by doc_id (never global). Output is intervals, not windows, so the
    result stays compact even on template-heavy corpora where most
    windows are duplicated. The window enumeration is evaluated twice
    (hot-hash agg + candidate probe) BY DESIGN: it is stateless codegen
    over the pruned column scan, and at corpus scale recomputing beats
    persisting a corpus-sized (doc, off, hash) working set.
    """
    if win < 1:
        raise ValueError(f"win must be >= 1, got {win}")
    from pyspark.sql import Window

    d = docs.select(F.col(id_col).alias("_did"), F.col(text_col).alias("_txt")).where(
        F.length("_txt") >= win
    )
    wins = d.select(
        "_did",
        "_txt",
        F.explode(F.sequence(F.lit(0), F.length("_txt") - win)).alias("off"),
    ).select(
        "_did",
        "off",
        F.xxhash64(F.expr(f"substring(_txt, off + 1, {win})")).alias("h"),
    )
    hot = (
        wins.groupBy("h")
        .agg(F.count_distinct("_did").alias("nd"))
        .where(F.col("nd") >= 2)
        .select("h")
    )
    cand = wins.join(hot.hint("shuffle_hash"), "h", "leftsemi").select("_did", "off")
    cand_sub = cand.join(d, "_did").select(
        "_did", "off", F.expr(f"substring(_txt, off + 1, {win})").alias("sub")
    )
    dup = (
        cand_sub.groupBy("sub")
        .agg(F.count_distinct("_did").alias("nd"))
        .where(F.col("nd") >= 2)
        .select("sub")
    )
    hits = cand_sub.join(dup.hint("shuffle_hash"), "sub", "leftsemi").select(
        "_did", "off"
    )
    w = Window.partitionBy("_did").orderBy("off")
    isl = hits.withColumn("grp", F.col("off") - F.row_number().over(w))
    return (
        isl.groupBy("_did", "grp")
        .agg(
            F.min("off").cast("long").alias("span_start"),
            (F.max("off") + win).cast("long").alias("span_end"),
            F.count(F.lit(1)).alias("n_windows"),
        )
        .select(
            F.col("_did").alias(id_col), "span_start", "span_end", "n_windows"
        )
    )


def oph_signatures(
    docs: DataFrame,
    text_col: str = "text",
    m: int = 64,
    shingle_n: int = 3,
) -> DataFrame:
    """One-Permutation-Hashing MinHash with forward densification
    (Li/Owen/Zhang NIPS'12; Shrivastava/Li ICML'14): ONE hash per
    (doc, shingle) — the hash's low bits pick one of ``m`` bins, its
    high bits compete for the bin minimum — instead of re-mixing every
    shingle ``m`` times. At 100 TB that k-fold saving is the
    difference between one pass and k passes' worth of hash compute;
    the bin minima are provably as accurate as k classic minhashes for
    Jaccard estimation once empty bins are densified.

    Empty bins borrow the value of the FIRST NON-EMPTY bin scanning
    forward circularly, plus the scan distance (the rotation
    tie-breaker of improved densification — without it, two docs with
    the same lone filled bin would agree on every borrowed bin).

    Returns (doc_id, bin 0..m-1, sig) — m rows per doc, directly
    band-able by the existing LSH machinery.

    Scale shape: one explode + ONE md5 per shingle, one
    (doc, bin)-keyed min agg (map-side partials), then the filled bins
    collapse to one sorted <=m struct array per doc and every target
    bin resolves by codegen array logic — no window, no per-row
    rescans; work per doc is m * |filled| <= m^2 scalar ops.
    Deterministic end-to-end (md5 family + integer arithmetic), so the
    DuckDB twin is bit-exact.
    """
    if m < 2:
        raise ValueError(f"m must be >= 2, got {m}")
    sh = docs.select(
        "doc_id", F.explode(shingles(F.col(text_col), shingle_n)).alias("shingle")
    ).select("doc_id", _md5_long(F.col("shingle")).alias("h"))
    mins = (
        sh.select("doc_id", (F.col("h") % m).alias("bin"), (F.col("h") / F.lit(m)).cast("long").alias("v"))
        .groupBy("doc_id", "bin")
        .agg(F.min("v").alias("sig0"))
    )
    # densification WITHOUT a window: the filled bins collapse to one
    # sorted <=m-element struct array per doc, and every target bin
    # resolves by branch-free array logic (first filled >= b, else
    # wrap to the first filled overall, + scan distance). The naive
    # current-row->unbounded-following IGNORE NULLS window re-scanned
    # up to 2m rows per row (O(m^2) per doc — measured ~12 s at sf0.1
    # vs ~2 s for this form); per-row work here is one filter over a
    # <=m array in whole-stage codegen. Docs with no shingles cannot
    # occur (empty text still yields the '' shingle), so arr is never
    # empty.
    arrs = mins.groupBy("doc_id").agg(
        F.sort_array(F.collect_list(F.struct("bin", "sig0"))).alias("arr")
    )
    b = F.col("bin")
    ge = F.filter(F.col("arr"), lambda x: x["bin"] >= b)
    hit = F.when(F.size(ge) > 0, F.element_at(ge, 1)).otherwise(
        F.element_at(F.col("arr"), 1)
    )
    dist = F.when(
        F.size(ge) > 0, F.element_at(ge, 1)["bin"] - b
    ).otherwise(F.element_at(F.col("arr"), 1)["bin"] + m - b)
    return (
        arrs.select(
            "doc_id",
            F.explode(F.sequence(F.lit(0), F.lit(m - 1))).alias("bin"),
            "arr",
        )
        .select(
            "doc_id",
            b.cast("long").alias("bin"),
            (hit["sig0"] + dist).cast("long").alias("sig"),
        )
    )
