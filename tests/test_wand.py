"""Scoring-kernel parity: every query is scored by the batched per-segment
kernel (query/wand.py), with no Σdf threshold, and must equal the oracle
exactly, including under filters and the bucket ladder. Uses a tiny seg_size
so queries cross many segments, exercising per-segment pools cut to the
global top-pool."""
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

N_CONVS = 120
SEED = 7


@pytest.fixture(scope="module")
def corpus(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("wandindex"))
    turns = make_transcripts(N_CONVS, seed=SEED)
    meta = docs_meta_for(turns)
    meta_df = spark.createDataFrame(
        [(cid, m["db"], m["instance"], m["update_date"]) for cid, m in meta.items()],
        "conv_id string, db string, instance string, update_date string",
    )
    tdf = transcripts_df(spark, n_convs=N_CONVS, seed=SEED)
    paths = build_index(spark, tdf, root, docs_meta=meta_df, seg_size=16)
    engine = SearchEngine(spark, paths, PINNED_TODAY, END_DAYS_AGO)
    oracle = OracleSearch(
        OracleIndex.build(oracle_docs(turns)), PINNED_TODAY, END_DAYS_AGO
    )
    return engine, oracle


WAND_MODES = [
    dict(),
    dict(sources={"MEDLINE", "LILACS"}),
    dict(split_time=True),
    dict(max_docs=30),
]


@pytest.mark.spark
@pytest.mark.parametrize(
    "qname", ["profile_1", "profile_u5mr", "profile_ehealth", "profile_intestinales"]
)
def test_wand_matches_oracle(corpus, qname):
    engine, oracle = corpus
    text = REFERENCE_QUERIES[qname]
    for mode in WAND_MODES:
        got = engine.search(text, **mode)
        exp = oracle.search(text, **mode)
        assert_hits_equal(got, exp, f"wand {qname} {mode}")


def test_batch_score_kernel_unit():
    """Kernel-level unit test without Spark: one segment, synthetic postings
    (a list<int64> doc_ids column, as applyInArrow hands it over), two
    queries in one slice sharing a term, docs spread over 3 day buckets.
    Each (query, bucket) is cut to the pool in exact (score desc, doc_id
    asc) order — including ties that straddle the pool boundary — and a
    single-bucket input is cut over the whole segment. An empty postings or
    docs side yields no rows. Every returned table has the schema the
    kernel's applyInArrow declares, typed as the worker checks it."""
    import numpy as np
    import pyarrow as pa
    from pyspark.sql.pandas.types import from_arrow_schema, to_arrow_type

    from similardocs_spark import bm25
    from similardocs_spark.query.wand import KERNEL_SCHEMA, batch_score_kernel

    declared = [(f.name, to_arrow_type(f.dataType)) for f in from_arrow_schema(KERNEL_SCHEMA)]
    key = (pa.scalar(0, pa.int32()), pa.scalar(0, pa.int32()))
    rng = np.random.default_rng(3)
    n_docs, seg_size, avgdl = 500, 1024, 42.5
    dlq = rng.integers(5, 120, n_docs).astype(np.int64)
    tfn = bm25.tfnorm_np(dlq, avgdl)
    bucket = rng.integers(0, 3, n_docs).astype(np.int32)
    ids_by_term = {
        t: np.sort(rng.choice(n_docs, size=300, replace=False)) for t in ("aaa", "bbb")
    }
    postings = pa.table(
        {
            "term": list(ids_by_term),
            "doc_ids": pa.array(list(ids_by_term.values()), pa.list_(pa.int64())),
        }
    )
    queries = {"q1": {"aaa": 2.0, "bbb": 1.0}, "q2": {"bbb": 1.5}}

    def ranked(w_idf, in_bucket):
        truth = {}
        for term, w in w_idf.items():
            for d in ids_by_term[term]:
                if in_bucket(d):
                    truth[int(d)] = truth.get(int(d), 0.0) + float(
                        np.float32(np.float32(w) * tfn[d])
                    )
        return sorted(
            ((np.float32(s + 1.0), d) for d, s in truth.items()),
            key=lambda t: (-t[0], t[1]),
        )

    def run(postings, docs):
        got = batch_score_kernel(key, postings, docs, {0: queries}, seg_size, pool)
        assert list(zip(got.schema.names, got.schema.types)) == declared
        return got.to_pandas()

    def check(got, exp, pool):
        for (qid, b), truth in exp.items():
            rows = got[(got["query_id"] == qid) & (got["bucket"] == b)]
            assert rows["doc_id"].tolist() == [d for _, d in truth[:pool]], (qid, b)
            assert [float(x) for x in rows["score"]] == pytest.approx(
                [float(s) for s, _ in truth[:pool]], rel=1e-6
            ), (qid, b)
            # the carried docs columns stay with their doc
            assert rows["conv_id"].tolist() == [f"c{d}" for _, d in truth[:pool]], (qid, b)
            assert rows["update_date"].tolist() == [20200000 + d for _, d in truth[:pool]]
        assert len(got) == sum(min(pool, len(t)) for t in exp.values())

    exp = {
        (qid, b): ranked(w, lambda d, b=b: bucket[d] == b)
        for qid, w in queries.items()
        for b in range(3)
    }
    # q2 scores by one term, so docs of equal dlq tie: cut the pool inside
    # a tie group of bucket 0, where only the doc_id tiebreak decides
    # membership
    q2 = exp[("q2", 0)]
    pool = next(i for i in range(20, len(q2)) if q2[i - 1][0] == q2[i][0])
    docs = pa.table(
        {
            "doc_id": np.arange(n_docs, dtype=np.int64),
            "tfnorm": tfn.astype(np.float32),
            "const": np.ones(n_docs),
            "bucket": bucket,
            "update_date": (20200000 + np.arange(n_docs)).astype(np.int32),
            "conv_id": [f"c{d}" for d in range(n_docs)],
        }
    )
    check(run(postings, docs), exp, pool)

    one = docs.set_column(3, "bucket", pa.array(np.zeros(n_docs, dtype=np.int32)))
    exp_one = {(qid, 0): ranked(w, lambda d: True) for qid, w in queries.items()}
    check(run(postings, one), exp_one, pool)

    assert run(postings.slice(0, 0), docs).empty
    assert run(postings, docs.slice(0, 0)).empty


@pytest.mark.spark
def test_single_query_kernel_plans_no_cross_join(spark, tmp_path):
    """A search is a batch of one: on a one-segment index, the one-query
    kernel plan must not slice the query set, i.e. must not cross-join the
    docs into slices that hold no postings."""
    from similardocs_spark.plans.audit import _plan
    from similardocs_spark.query.wand import wand_score_batch

    paths = build_index(spark, transcripts_df(spark, n_convs=30, seed=SEED), str(tmp_path))
    engine = SearchEngine(spark, paths, PINNED_TODAY, END_DAYS_AGO)
    assert engine.n_docs <= engine.seg_size  # one segment
    assert spark.sparkContext.defaultParallelism > 1
    w_idf, _ = engine.prepare("zika dengue saude")
    df = wand_score_batch(engine, {"q": w_idf}, 30, [("19000101", "29991231")], None, None)
    plan = _plan(df)
    assert "NestedLoopJoin" not in plan and "Cartesian" not in plan, plan


@pytest.mark.spark
def test_synonym_query_search_equals_batch_without_preload(corpus):
    """search() and search_batch() share one query prep: with no preloaded
    term dictionary both resolve term dfs through the terms-table fallback,
    and a synonym-expanded query returns the same rows either way."""
    from similardocs_spark.synonyms import SynonymDict

    engine, _ = corpus
    eng = SearchEngine(
        engine.spark, engine.paths, PINNED_TODAY, END_DAYS_AGO,
        synonyms=SynonymDict({"zika": ["dengue", "virus"], "saude": ["health"]}),
        preload_terms_max=0,
    )
    assert eng._term_df is None
    text = "zika saude publica"
    w_idf, _ = eng.prepare(text)
    assert {"dengue", "virus"} & set(w_idf)  # expansion reached the terms
    cols = ("doc_id", "conv_id", "score", "n_common", "update_date")
    for mode in (dict(), dict(split_time=True)):
        single = [tuple(r[c] for c in cols) for r in eng.search(text, **mode)]
        batch = [tuple(r[c] for c in cols) for r in eng.search_batch({"q": text}, **mode)["q"]]
        assert single, mode
        assert single == batch, mode
