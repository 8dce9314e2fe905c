"""Golden end-to-end: Spark engine == pure-Python reference oracle.

Builds the segmented compressed index from fixture transcripts on Spark, then
runs every reference query (profile sentences re-expressed as bag-of-words)
through the DataFrame engine in several modes and asserts rank-identical
docIDs, scores (float32), n_common and update_date vs the oracle.
"""
from __future__ import annotations

import math

import pytest

from similardocs_spark.fixtures import (
    END_DAYS_AGO,
    PINNED_TODAY,
    REFERENCE_QUERIES,
    docs_meta_for,
    make_transcripts,
    oracle_docs,
    transcripts_df,
)
from similardocs_spark.index.build import build_index
from similardocs_spark.oracle.refsearch import OracleIndex, OracleSearch
from similardocs_spark.query.engine import SearchEngine

N_CONVS = 100
SEED = 42


@pytest.fixture(scope="module")
def corpus(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("index"))
    turns = make_transcripts(N_CONVS, seed=SEED)
    meta = docs_meta_for(turns)
    meta_df = spark.createDataFrame(
        [(cid, m["db"], m["instance"], m["update_date"]) for cid, m in meta.items()],
        "conv_id string, db string, instance string, update_date string",
    )
    tdf = transcripts_df(spark, n_convs=N_CONVS, seed=SEED)
    paths = build_index(spark, tdf, root, docs_meta=meta_df, seg_size=32, seg_batches=2)
    engine = SearchEngine(spark, paths, PINNED_TODAY, END_DAYS_AGO)
    oracle = OracleSearch(
        OracleIndex.build(oracle_docs(turns)), PINNED_TODAY, END_DAYS_AGO
    )
    return engine, oracle


def assert_hits_equal(got, exp, ctx: str):
    assert [r.doc_id for r in got] == [h.doc_id for h in exp], ctx
    for r, h in zip(got, exp):
        assert r.conv_id == h.conv_id, ctx
        assert r.n_common == h.n_common, (ctx, r.doc_id)
        assert r.update_date == h.update_date, (ctx, r.doc_id)
        assert math.isclose(r.score, h.score, rel_tol=2e-7), (ctx, r.doc_id, r.score, h.score)


MODES = [
    dict(),
    dict(split_time=True),
    dict(sources={"MEDLINE", "LILACS"}),
    dict(last_days=400),
    dict(split_time=True, last_days=400, sources={"MEDLINE"}),
    dict(instances={"i1"}),
    dict(max_docs=25),
]


@pytest.mark.spark
@pytest.mark.parametrize("qname", sorted(REFERENCE_QUERIES))
def test_engine_matches_oracle(corpus, qname):
    engine, oracle = corpus
    text = REFERENCE_QUERIES[qname]
    for mode in MODES:
        got = engine.search(text, **mode)
        exp = oracle.search(text, **mode)
        assert_hits_equal(got, exp, f"{qname} {mode}")


@pytest.mark.spark
def test_split_time_explain_matches_oracle(corpus):
    """search(split_time=True, explain=True): the hits equal the oracle's
    ladder, and each .ngrams triple is (query rerank tokens, the doc's
    rerank_tokens as the index stores them, their common tokens)."""
    from pyspark.sql import functions as F

    engine, oracle = corpus
    for qname, text in sorted(REFERENCE_QUERIES.items()):
        got = engine.search(text, split_time=True, explain=True)
        assert_hits_equal(got, oracle.search(text, split_time=True), qname)
        _, q_rerank = engine.prepare(text)
        stored = {
            r["doc_id"]: list(r["rerank_tokens"])
            for r in engine._docs.filter(F.col("doc_id").isin([h.doc_id for h in got]))
            .select("doc_id", "rerank_tokens")
            .collect()
        }
        for h in got:
            similar = stored[h.doc_id]
            common = [t for t in q_rerank if t in set(similar)]
            assert h.ngrams == (q_rerank, similar, common), (qname, h.doc_id)
            assert set(similar) == oracle.idx.rerank_tokens[h.doc_id], (qname, h.doc_id)
            assert len(common) == h.n_common, (qname, h.doc_id)


@pytest.mark.spark
def test_empty_and_stopword_queries(corpus):
    engine, oracle = corpus
    for text in ["the and for", "a b", "...", "xyzzyplugh"]:
        got = engine.search(text)
        exp = oracle.search(text)
        assert [r.doc_id for r in got] == [h.doc_id for h in exp], text


@pytest.mark.spark
def test_last_days_below_end_days_ago_raises(corpus):
    """A last_days window that ends before end_days_ago is an inverted day
    range: search() and search_batch() refuse it with ValueError, which,
    unlike an assert, survives python -O."""
    engine, _ = corpus
    assert engine.end_days_ago == 7
    text = REFERENCE_QUERIES["profile_1"]
    with pytest.raises(ValueError, match="last_days"):
        engine.search(text, last_days=3)
    with pytest.raises(ValueError, match="last_days"):
        engine.search_batch({"q": text}, last_days=3)


@pytest.mark.spark
def test_no_preload_byte_guard(corpus):
    """Byte-aware preload guard: with preload_terms_max_bytes=0 the engine
    must skip the driver-side term dict (falling back to per-query isin
    lookups) and still match the oracle exactly."""
    engine, oracle = corpus
    eng2 = SearchEngine(
        engine.spark, engine.paths, PINNED_TODAY, END_DAYS_AGO,
        preload_terms_max_bytes=0,
    )
    assert eng2._term_df is None
    assert eng2._terms_bytes_estimate() > 0
    for qname in sorted(REFERENCE_QUERIES)[:3]:
        text = REFERENCE_QUERIES[qname]
        got = eng2.search(text)
        exp = oracle.search(text)
        assert_hits_equal(got, exp, f"no-preload {qname}")
