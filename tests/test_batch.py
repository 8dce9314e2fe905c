"""Batch search parity: search_batch results == per-query oracle results."""
from __future__ import annotations

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
from tests.test_engine_golden import assert_hits_equal

N_CONVS = 100
SEED = 42


@pytest.fixture(scope="module")
def corpus(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("batchindex"))
    turns = make_transcripts(N_CONVS, seed=SEED)
    meta = docs_meta_for(turns)
    meta_df = spark.createDataFrame(
        [(cid, m["db"], m["instance"], m["update_date"]) for cid, m in meta.items()],
        "conv_id string, db string, instance string, update_date string",
    )
    tdf = transcripts_df(spark, n_convs=N_CONVS, seed=SEED)
    paths = build_index(spark, tdf, root, docs_meta=meta_df, seg_size=32)
    engine = SearchEngine(spark, paths, PINNED_TODAY, END_DAYS_AGO)
    oracle = OracleSearch(
        OracleIndex.build(oracle_docs(turns)), PINNED_TODAY, END_DAYS_AGO
    )
    return engine, oracle


@pytest.mark.spark
@pytest.mark.parametrize("with_aliases", [False, True])
@pytest.mark.parametrize(
    "mode",
    [dict(), dict(split_time=True), dict(sources={"MEDLINE", "LILACS"}), dict(max_docs=20)],
)
def test_batch_matches_oracle(corpus, mode, with_aliases):
    """Every query of the batch equals the oracle. with_aliases adds an
    analyzer-identical alias (upper-cased text) of every query, so canonical
    dedup and alias-row copying run under each mode too, the bucket ladder's
    per-query quotas included."""
    engine, oracle = corpus
    queries = dict(REFERENCE_QUERIES)
    if with_aliases:
        queries.update({f"{n}_alias": t.upper() for n, t in REFERENCE_QUERIES.items()})
    res = engine.search_batch(queries, **mode)
    for qid in queries:
        exp = oracle.search(REFERENCE_QUERIES[qid.removesuffix("_alias")], **mode)
        assert_hits_equal(res[qid], exp, f"batch {qid} {mode}")
        assert all(r["query_id"] == qid for r in res[qid]), qid


@pytest.mark.spark
@pytest.mark.parametrize(
    "mode",
    [dict(), dict(split_time=True), dict(sources={"MEDLINE", "LILACS"})],
)
def test_batch_serving_mode_matches_oracle(spark, corpus, mode):
    """Serving mode (cache=True): docs cached pre-partitioned on doc_id,
    rerank join via shuffled-hash (docs-stationary). Must be row-identical
    to the oracle (same results as the ad hoc broadcast-join path)."""
    engine, oracle = corpus
    serving = SearchEngine(spark, engine.paths, PINNED_TODAY, END_DAYS_AGO, cache=True)
    try:
        res = serving.search_batch(dict(REFERENCE_QUERIES), **mode)
        for qname, text in REFERENCE_QUERIES.items():
            exp = oracle.search(text, **mode)
            assert_hits_equal(res[qname], exp, f"fused {qname} {mode}")
    finally:
        serving._docs.unpersist()
        serving._postings.unpersist()


@pytest.mark.spark
def test_batch_concurrent_threads_conf_restored(spark, corpus):
    """Two threads run search_batch concurrently on one session: results
    stay oracle-identical and the kernel-scope confs (AQE off, coalescing
    floor) are restored exactly once after the LAST scope exits — the
    depth-counter guard in util.kernel_exec_conf."""
    import threading

    engine, oracle = corpus
    key = "spark.sql.adaptive.enabled"
    before = spark.conf.get(key)
    names = list(REFERENCE_QUERIES)
    halves = (names[: len(names) // 2], names[len(names) // 2:])
    out: dict[int, dict] = {}
    errs: list = []

    def run(i, qnames):
        try:
            out[i] = engine.search_batch(
                {n: REFERENCE_QUERIES[n] for n in qnames}
            )
        except Exception as e:  # surfaced in the main thread
            errs.append(e)

    threads = [
        threading.Thread(target=run, args=(i, h)) for i, h in enumerate(halves)
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errs, errs
    for i, qnames in enumerate(halves):
        for n in qnames:
            assert_hits_equal(out[i][n], oracle.search(REFERENCE_QUERIES[n]),
                              f"concurrent {n}")
    assert spark.conf.get(key) == before


@pytest.mark.spark
def test_batch_mixed_filters(corpus):
    """Per-query filter overrides: every query's result equals a single
    search() with its own effective settings."""
    engine, oracle = corpus
    names = list(REFERENCE_QUERIES)
    q = {n: REFERENCE_QUERIES[n] for n in names[:4]}
    per_query = {
        names[0]: {"sources": {"MEDLINE"}},
        names[1]: {"max_docs": 3},
        names[2]: {},  # inherits shared
    }
    res = engine.search_batch_mixed(q, per_query, sources={"LILACS"})
    expect_cfg = {
        names[0]: dict(sources={"MEDLINE"}),
        names[1]: dict(sources={"LILACS"}, max_docs=3),
        names[2]: dict(sources={"LILACS"}),
        names[3]: dict(sources={"LILACS"}),
    }
    for n, cfg in expect_cfg.items():
        exp = oracle.search(REFERENCE_QUERIES[n], **cfg)
        assert_hits_equal(res[n], exp, f"mixed {n} {cfg}")


@pytest.mark.spark
def test_batch_empty_queries(corpus):
    engine, _ = corpus
    res = engine.search_batch({"e1": "the and", "e2": "zika dengue"})
    assert res["e1"] == []
    assert len(res["e2"]) > 0


@pytest.mark.spark
def test_batch_mixed_empty_set_matches_nothing(corpus):
    """Explicitly-empty sources = 'match nothing' (not 'no filter'), and the
    empty set stays in its own group: the other queries are unfiltered."""
    engine, oracle = corpus
    names = list(REFERENCE_QUERIES)
    q = {n: REFERENCE_QUERIES[n] for n in names[:3]}
    res = engine.search_batch_mixed(q, {names[0]: {"sources": set()}})
    assert res[names[0]] == []
    for n in names[1:3]:
        exp = oracle.search(REFERENCE_QUERIES[n])
        assert_hits_equal(res[n], exp, f"mixed empty-set group {n}")


@pytest.mark.spark
def test_batch_duplicate_queries_share_results(corpus):
    """Canonical dedup: textually different but analyzer-identical queries
    are scored once; every alias receives the full result list."""
    engine, oracle = corpus
    text = REFERENCE_QUERIES[list(REFERENCE_QUERIES)[0]]
    res = engine.search_batch({"a": text, "b": text.upper(), "c": text})
    exp = oracle.search(text)
    for qid in ("a", "b", "c"):
        assert_hits_equal(res[qid], exp, f"dup {qid}")
        # alias rows carry the ALIAS's query_id, not the representative's —
        # consumers flattening results to a table key off the column
        assert all(r["query_id"] == qid for r in res[qid]), qid


@pytest.mark.spark
def test_kernel_conf_scopes_keyed_per_session(spark):
    """Kernel-conf scope state is keyed by SparkSession: a scope entered on
    a second session while the first holds one open must set AND restore
    that session's own confs (round-4 ADVICE: a process-global depth
    counter skipped the second session entirely)."""
    from similardocs_spark.util import kernel_exec_conf

    s2 = spark.newSession()
    key = "spark.sql.adaptive.coalescePartitions.minPartitionSize"
    base1, base2 = spark.conf.get(key), s2.conf.get(key)
    assert base1 != "16k" and base2 != "16k"

    with kernel_exec_conf(spark):
        assert spark.conf.get(key) == "16k"
        with kernel_exec_conf(s2):
            # second session gets its own scope despite the open first scope
            assert s2.conf.get(key) == "16k"
        # and restores independently, while the first stays active
        assert s2.conf.get(key) == base2
        assert spark.conf.get(key) == "16k"
    assert spark.conf.get(key) == base1
