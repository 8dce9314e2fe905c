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


def _engine_and_oracle(spark, root: str, n_convs: int, **build_kw):
    turns = make_transcripts(n_convs, seed=SEED)
    meta = docs_meta_for(turns)
    meta_df = spark.createDataFrame(
        [(cid, m["db"], m["instance"], m["update_date"]) for cid, m in meta.items()],
        "conv_id string, db string, instance string, update_date string",
    )
    tdf = transcripts_df(spark, n_convs=n_convs, seed=SEED)
    paths = build_index(spark, tdf, root, docs_meta=meta_df, **build_kw)
    engine = SearchEngine(spark, paths, PINNED_TODAY, END_DAYS_AGO)
    oracle = OracleSearch(
        OracleIndex.build(oracle_docs(turns)), PINNED_TODAY, END_DAYS_AGO
    )
    return engine, oracle


@pytest.fixture(scope="module")
def corpus(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("batchindex"))
    return _engine_and_oracle(spark, root, N_CONVS, seg_size=32)


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
    """Serving mode (cache=True): the engine persists its doc stats and its
    term-sorted postings, and the one rerank plan reads them. Must be
    row-identical to the oracle (same results as the uncached engine). The
    two persisted frames are released, so no cached block outlives the
    test."""
    engine, oracle = corpus
    serving = SearchEngine(spark, engine.paths, PINNED_TODAY, END_DAYS_AGO, cache=True)
    try:
        res = serving.search_batch(dict(REFERENCE_QUERIES), **mode)
        for qname, text in REFERENCE_QUERIES.items():
            exp = oracle.search(text, **mode)
            assert_hits_equal(res[qname], exp, f"fused {qname} {mode}")
    finally:
        serving._doc_stats.unpersist()
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
    assert base1 != "64k" and base2 != "64k"

    with kernel_exec_conf(spark):
        assert spark.conf.get(key) == "64k"
        with kernel_exec_conf(s2):
            # second session gets its own scope despite the open first scope
            assert s2.conf.get(key) == "64k"
        # and restores independently, while the first stays active
        assert s2.conf.get(key) == base2
        assert spark.conf.get(key) == "64k"
    assert spark.conf.get(key) == base1


def _jobs_run(spark, fn) -> int:
    """The number of Spark jobs fn() runs, counted through a job group."""
    import uuid

    sc = spark.sparkContext
    group = f"jobcount-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "job count")
    try:
        fn()
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.spark
def test_search_runs_one_plan(corpus):
    """A non-split search() is one plan: at most 2 Spark jobs (with AQE, the
    kernel stage, whose inputs are read in place, and the result stage),
    one kernel cogroup with no Exchange below it, and no candidate join
    against the docs. Its Python steps, and those of a split_time ladder's
    later buckets, are Arrow UDFs: no plan holds an *InPandas node."""
    from similardocs_spark.plans.audit import audit_query_plan

    engine, _ = corpus
    text = REFERENCE_QUERIES[sorted(REFERENCE_QUERIES)[0]]
    assert engine.search(text)  # warm-up, and the search has hits
    assert _jobs_run(engine.spark, lambda: engine.search(text)) <= 2
    checks = audit_query_plan(engine, text)
    assert checks["kernel_cogroup"] and checks["no_candidate_join"], checks
    assert checks["kernel_in_place"], checks
    assert checks["no_pandas_udf"], checks


@pytest.mark.spark
@pytest.mark.parametrize("over_gate", [False, True])
@pytest.mark.parametrize("cache", [False, True])
def test_kernel_gate_sides_match_oracle(spark, corpus, monkeypatch, cache, over_gate):
    """The same searches through the one-task kernel (every plan here is
    under util.KERNEL_TASK_WORK) and, with the gate at 0, through the
    exchange path: a single search, a batch and a split_time ladder each
    equal the oracle, on an uncached and a serving (cache=True) engine. Only
    the plan under the gate reads its kernel inputs in place; on both
    engines the query terms prune the postings scan."""
    from similardocs_spark import util
    from similardocs_spark.plans.audit import audit_query_plan

    engine, oracle = corpus
    assert len(REFERENCE_QUERIES) * engine.n_docs <= util.KERNEL_TASK_WORK
    if cache:
        engine = SearchEngine(spark, engine.paths, PINNED_TODAY, END_DAYS_AGO, cache=True)
    if over_gate:
        monkeypatch.setattr(util, "KERNEL_TASK_WORK", 0)
    text = REFERENCE_QUERIES["profile_1"]
    try:
        assert_hits_equal(engine.search(text), oracle.search(text), "search")
        assert_hits_equal(
            engine.search(text, split_time=True), oracle.search(text, split_time=True), "ladder"
        )
        for mode in (dict(), dict(split_time=True)):
            res = engine.search_batch(dict(REFERENCE_QUERIES), **mode)
            for qname, q in REFERENCE_QUERIES.items():
                assert_hits_equal(res[qname], oracle.search(q, **mode), f"{qname} {mode}")
        audit = audit_query_plan(engine, text)
        assert audit["kernel_in_place"] is not over_gate
        # the term In reaches the postings scan, parquet or in-memory
        assert audit["term_filter_pushed"]
    finally:
        if cache:
            engine._doc_stats.unpersist()
            engine._postings.unpersist()


@pytest.fixture(scope="module")
def tiny(spark, tmp_path_factory):
    """A one-segment index: over the gate, a batch on it slices its queries."""
    return _engine_and_oracle(spark, str(tmp_path_factory.mktemp("tinyindex")), 30)


@pytest.mark.spark
@pytest.mark.parametrize("over_gate", [False, True])
def test_tiny_index_batch_gate_sides_match_oracle(tiny, monkeypatch, over_gate):
    """A many-query batch on a one-segment index: one kernel task under the
    gate; over it, the queries are hash-sliced across the executor slots
    (the kernel cogroups by (seg, slice) after an exchange). Both equal the
    oracle."""
    from similardocs_spark import util
    from similardocs_spark.plans.audit import _plan, _subtree
    from similardocs_spark.query.wand import wand_score_batch

    engine, oracle = tiny
    assert engine.n_docs <= engine.seg_size  # one segment
    if over_gate:
        monkeypatch.setattr(util, "KERNEL_TASK_WORK", 0)
    queries = dict(REFERENCE_QUERIES)
    queries.update({f"{n}_x": f"{t} saude" for n, t in REFERENCE_QUERIES.items()})
    res = engine.search_batch(queries)
    for qid, text in queries.items():
        assert_hits_equal(res[qid], oracle.search(text), qid)
    prepared = {qid: w for qid, (w, _) in engine._prepare_all(queries).items()}
    plan = _plan(
        wand_score_batch(engine, prepared, 30, [("19000101", "29991231")], None, None)
    )
    kernel_in = _subtree(plan, "FlatMapCoGroupsInArrow (")
    assert ("Exchange" in kernel_in) is over_gate, plan
    # the postings' join to the slices of the queries that need each term
    assert ("BroadcastHashJoin" in kernel_in) is over_gate, plan


@pytest.mark.spark
def test_plan_build_py4j_budget(corpus, monkeypatch):
    """Building a search's plan on a warm engine takes at most 250 py4j
    calls (the per-literal isin, the per-search `when` chains and windows
    took ~740), and the engine's filter-set memo of docs frames stays at its
    bound and holds plans, not persisted data."""
    import threading

    from py4j.clientserver import ClientServerConnection
    from pyspark import StorageLevel

    from similardocs_spark.oracle.refsearch import DEFAULT_MAX_DOCS, DEFAULT_MIN_NGRAMS
    from similardocs_spark.query.batch import rerank_plan
    from similardocs_spark.query.engine import BUCKET_DOCS_MEMO

    engine, _ = corpus
    text = REFERENCE_QUERIES["profile_4"]
    engine.search(text)  # warm: the engine's memo and rerank columns
    prep = engine.prepare(text)
    buckets = engine._day_buckets(*engine._day_bounds(None), False)
    calls = []
    me = threading.get_ident()
    real = ClientServerConnection.send_command

    def counted(self, command):
        if threading.get_ident() == me:  # not py4j's object-release thread
            calls.append(command)
        return real(self, command)

    monkeypatch.setattr(ClientServerConnection, "send_command", counted)
    rerank_plan(
        engine, {"q": prep}, {"q": DEFAULT_MAX_DOCS}, DEFAULT_MIN_NGRAMS, buckets, None, None
    )
    monkeypatch.undo()
    assert 0 < len(calls) <= 250, len(calls)

    assert engine._bucket_docs(buckets, None, None) is engine._bucket_docs(buckets, None, None)
    for i in range(3 * BUCKET_DOCS_MEMO):
        engine._bucket_docs(buckets, {f"src{i}"}, None)
    memo = engine._bucket_docs_memo
    assert len(memo) == BUCKET_DOCS_MEMO
    assert all(df.storageLevel == StorageLevel.NONE for df in memo.values())


@pytest.mark.spark
def test_filter_terms_sql_literals(spark):
    """filter_terms writes its In() as SQL text: quotes and backslashes in a
    term are escaped, an empty set matches nothing, and a set over
    ISIN_MAX_LITERALS takes the semi-join with the same rows."""
    from similardocs_spark.util import ISIN_MAX_LITERALS, filter_terms

    terms = ["a'b", "c\\d", "e\\'f", "plain", "~x", "other"]
    df = spark.createDataFrame([(t,) for t in terms], "term string")

    def got(ts):
        return sorted(r["term"] for r in filter_terms(df, ts).collect())

    want = ["a'b", "c\\d", "e\\'f", "~x"]
    assert got(want) == sorted(want)
    assert got([]) == []
    many = want + [f"t{i}" for i in range(ISIN_MAX_LITERALS)]
    assert got(many) == sorted(want)


@pytest.mark.spark
def test_split_time_batch_runs_two_plans(corpus):
    """The day-bucket ladder is at most two plans, the first bucket and then
    every later one at once: a split_time batch runs as many Spark jobs over
    2 ladder buckets as over all 11, and at most twice the jobs of the same
    batch over one range."""
    engine, oracle = corpus
    queries = dict(REFERENCE_QUERIES)
    # the full ladder really visits more buckets than the short one
    assert any(
        oracle.search(t, split_time=True) != oracle.search(t, split_time=True, last_days=40)
        for t in queries.values()
    )
    engine.search_batch(queries, split_time=True)  # warm-up
    one = _jobs_run(engine.spark, lambda: engine.search_batch(queries))
    short = _jobs_run(
        engine.spark, lambda: engine.search_batch(queries, split_time=True, last_days=40)
    )
    full = _jobs_run(engine.spark, lambda: engine.search_batch(queries, split_time=True))
    assert full == short <= 2 * one, (one, short, full)
