"""End-to-end KG pipeline tests: corpus determinism + span invariant,
extraction fidelity, entity linking, and the headline triple P/R >= 0.95
acceptance gate (BASELINE.json metric)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from simkit_spark.catalog import TableStore
from simkit_spark.corpus import build_vocab, span_signature, synthesize
from simkit_spark.pipeline.extract import detect_mentions, explode_spans, extract_raw_triples
from simkit_spark.pipeline.run import PipelineConfig, run_pipeline, triple_prf

N_DOCS = 300


@pytest.fixture(scope="module")
def corpus(spark):
    docs, truth = synthesize(spark, n_docs=N_DOCS, n_entities=60, seed=42)
    return docs.cache(), truth.cache()


def test_corpus_deterministic_and_invariant(spark, corpus):
    docs, _ = corpus
    docs2, _ = synthesize(spark, n_docs=N_DOCS, n_entities=60, seed=42, partitions=7)
    sig1 = span_signature(docs)
    sig2 = span_signature(docs2)
    # span-sequence equality (kind, text, media_ref, order) per doc_id
    mismatches = sig1.join(sig2.withColumnRenamed("span_sig", "sig2"), "doc_id").where(
        F.col("span_sig") != F.col("sig2")
    )
    assert docs.count() == N_DOCS
    assert mismatches.count() == 0
    # different seed => different corpus
    docs3, _ = synthesize(spark, n_docs=N_DOCS, n_entities=60, seed=43)
    diff = sig1.join(span_signature(docs3).withColumnRenamed("span_sig", "sig3"), "doc_id").where(
        F.col("span_sig") != F.col("sig3")
    )
    assert diff.count() > 0


def test_spans_shape(spark, corpus):
    docs, _ = corpus
    spans = explode_spans(docs)
    kinds = {r["kind"] for r in spans.select("kind").distinct().collect()}
    assert kinds <= {"text", "image", "audio", "video"}
    assert "text" in kinds
    # media spans carry refs, text spans carry text
    assert spans.where((F.col("kind") != "text") & F.col("media_ref").isNull()).count() == 0
    assert spans.where((F.col("kind") == "text") & F.col("text").isNull()).count() == 0
    # offsets strictly increasing within doc = order preserved
    bad = (
        spans.withColumn(
            "prev",
            F.lag("offset").over(
                __import__("pyspark.sql.window", fromlist=["Window"]).Window.partitionBy(
                    "doc_id"
                ).orderBy("span_idx")
            ),
        )
        .where(F.col("prev").isNotNull() & (F.col("offset") <= F.col("prev")))
        .count()
    )
    assert bad == 0


def test_extraction_matches_truth_surfaces(spark, corpus):
    docs, truth = corpus
    raw = extract_raw_triples(explode_spans(docs))
    # every ground-truth fact sentence yields exactly one raw triple
    assert raw.count() == truth.count()
    t = truth.withColumnRenamed("pred", "pred_true")
    joined = raw.join(t, ["doc_id", "span_idx"])
    assert joined.count() == truth.count()
    assert joined.where(F.col("pred") != F.col("pred_true")).count() == 0


def test_raw_triples_from_mentions_parity(spark, corpus):
    """The pipeline's single-pass derivation (mentions with_pred=True ->
    pure-SQL groupBy) must emit exactly the same triple rows as the
    standalone second-matcher-pass extractor."""
    from simkit_spark.pipeline.extract import raw_triples_from_mentions

    docs, _ = corpus
    spans = explode_spans(docs)
    via_mentions = raw_triples_from_mentions(detect_mentions(spans, with_pred=True))
    direct = extract_raw_triples(spans)
    cols = ["doc_id", "span_idx", "subj_surface", "pred", "obj_surface"]
    assert via_mentions.count() == direct.count()
    assert via_mentions.select(*cols).exceptAll(direct.select(*cols)).count() == 0
    assert direct.select(*cols).exceptAll(via_mentions.select(*cols)).count() == 0


def test_raw_triples_parity_non_ascii_fallback(spark):
    """Non-ASCII text forces both extractors onto their scalar fallback
    paths; the single-pass derivation must still match the standalone
    extractor row-for-row (including pred_prev resolution in the scalar
    branch)."""
    from simkit_spark.pipeline.extract import raw_triples_from_mentions

    texts = [
        "Acme Corp acquired Beta Labs",          # clean triple
        "café — Gamma Inc partnered with Delta Co",  # non-ASCII + triple
        "Zürich is nice",                        # non-ASCII, no triple
        "Epsilon Ltd supplies Zeta Gmbh today",  # trailing text after obj
        "Eta Co likes Theta Co",                 # unknown predicate
        "Iota Co acquired Kappa Co and Lambda Co",  # 3 mentions -> none
        "",
    ]
    rows = [(f"d{i}", [{"kind": "text", "text": t, "media_ref": None, "offset": 0}])
            for i, t in enumerate(texts)]
    docs = spark.createDataFrame(
        rows,
        "doc_id string, spans array<struct<kind:string,text:string,"
        "media_ref:string,offset:int>>",
    )
    spans = explode_spans(docs)
    via_mentions = raw_triples_from_mentions(detect_mentions(spans, with_pred=True))
    direct = extract_raw_triples(spans)
    cols = ["doc_id", "span_idx", "subj_surface", "pred", "obj_surface"]
    got = sorted(tuple(r) for r in via_mentions.select(*cols).collect())
    want = sorted(tuple(r) for r in direct.select(*cols).collect())
    assert got == want
    assert len(got) == 3  # d0, d1, d3


def test_mention_ids_stable(spark, corpus):
    docs, _ = corpus
    m1 = detect_mentions(explode_spans(docs))
    m2 = detect_mentions(explode_spans(docs.repartition(11)))
    assert m1.select("mention_id").distinct().count() == m2.select("mention_id").distinct().count()
    assert m1.join(m2, "mention_id", "left_anti").count() == 0


def test_pipeline_prf_gate(spark, corpus, tmp_path_factory):
    docs, truth = corpus
    store = TableStore(spark, str(tmp_path_factory.mktemp("warehouse")))
    timings = {}
    out = run_pipeline(spark, docs, store, PipelineConfig(seed=42), timings=timings)
    # timings contract: every stage (+ the auto_dim probe) reports a wall
    assert set(timings) == set(out) | {"auto_dim"}, timings
    assert all(v >= 0 for v in timings.values()), timings
    vocab = build_vocab(60, 42)
    alias_rows = [(a, v["canonical"]) for v in vocab for a in v["aliases"]]
    alias_map = spark.createDataFrame(alias_rows, "surface string, canonical string")
    prf = triple_prf(out["triples"], truth, alias_map)
    print("PRF:", prf)
    assert prf["precision"] >= 0.95, prf
    assert prf["recall"] >= 0.95, prf
    # graph tables exist and are consistent
    assert out["nodes"].count() > 0
    assert out["edges"].count() > 0
    assert out["provenance"].count() == out["triples"].count()


def test_link_local_vs_distributed_parity(spark, corpus, force_distributed):
    from simkit_spark.pipeline.embed import embed_distinct_surfaces
    from simkit_spark.pipeline.extract import detect_mentions
    from simkit_spark.pipeline.link import link_entities

    docs, _ = corpus
    mentions = detect_mentions(explode_spans(docs))
    surfaces = embed_distinct_surfaces(mentions)
    # force_distributed takes the distributed LSH+CC path; default takes
    # the driver-local union-find path — identical entity maps required
    with force_distributed():
        dist = link_entities(surfaces, mentions, 256, 0.65, 42)
    loc = link_entities(surfaces, mentions, 256, 0.65, 42)
    d = {r["surface_id"]: (r["entity_id"], r["canonical"]) for r in dist.collect()}
    l = {r["surface_id"]: (r["entity_id"], r["canonical"]) for r in loc.collect()}
    assert d == l


def test_pipeline_resume_skips_stages(spark, corpus, tmp_path_factory):
    docs, _ = corpus
    wh = str(tmp_path_factory.mktemp("warehouse2"))
    store = TableStore(spark, wh)
    out1 = run_pipeline(spark, docs, store, PipelineConfig(seed=42))
    m1 = store.manifest("triples")
    out2 = run_pipeline(spark, docs, store, PipelineConfig(seed=42))
    m2 = store.manifest("triples")
    assert m1["ts"] == m2["ts"]  # not rewritten => stage skipped
    assert m1["content_hash"] == m2["content_hash"]
    assert out2["triples"].count() == out1["triples"].count()


def test_salted_join_matches_plain_join(spark):
    """salted_join must be value-identical to a plain join under a hot
    key (the 'celebrity entity' case it exists for)."""
    from simkit_spark.operators.skew import salted_join

    large = spark.createDataFrame(
        [(f"d{i}", "HotCo" if i % 10 else f"Rare{i}") for i in range(2000)],
        "doc_id string, surface string",
    )
    small = spark.createDataFrame(
        [("HotCo", 1)] + [(f"Rare{i}", i) for i in range(0, 2000, 10)],
        "surface string, entity_id long",
    )
    got = salted_join(large, small, "surface", "doc_id", n_salt=8).collect()
    want = large.join(small, "surface").collect()
    key = lambda r: (r["doc_id"], r["surface"], r["entity_id"])
    assert sorted(map(key, got)) == sorted(map(key, want))


def test_pipeline_prf_gate_distributed_link(spark, corpus, force_distributed):
    """The DISTRIBUTED linking path (LSH buckets -> similarity edges ->
    CC -> spectral refine via applyInPandas) must hit the same P/R gate
    as the driver-local dispatch the other tests exercise."""
    from simkit_spark.pipeline.embed import embed_distinct_surfaces
    from simkit_spark.pipeline.link import link_entities
    from simkit_spark.pipeline.materialize import resolve_triples

    docs, truth = corpus
    spans = explode_spans(docs)
    mentions = detect_mentions(spans)
    raw = extract_raw_triples(spans)
    surfaces = embed_distinct_surfaces(mentions)
    with force_distributed():
        emap = link_entities(surfaces, mentions, 256, 0.65, 42)
    triples = resolve_triples(raw, emap, use_salting=True)
    vocab = build_vocab(60, 42)
    alias_rows = [(a, v["canonical"]) for v in vocab for a in v["aliases"]]
    alias_map = spark.createDataFrame(alias_rows, "surface string, canonical string")
    prf = triple_prf(triples, truth, alias_map)
    assert prf["precision"] >= 0.95, prf
    assert prf["recall"] >= 0.95, prf
