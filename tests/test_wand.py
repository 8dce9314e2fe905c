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


def test_batch_score_kernel_unit(monkeypatch):
    """Kernel-level unit test without Spark: one segment, synthetic postings,
    two queries in one slice sharing a term (decoded once), each cut to its
    own pool in exact (score desc, doc_id asc) order — including ties that
    straddle the pool boundary."""
    import numpy as np
    import pandas as pd

    from similardocs_spark import bm25
    from similardocs_spark.index import codec
    from similardocs_spark.query.wand import batch_score_kernel

    rng = np.random.default_rng(3)
    n_docs, seg_size, avgdl = 500, 1024, 42.5
    dlq = rng.integers(5, 120, n_docs).astype(np.int64)
    tfn = bm25.tfnorm_np(dlq, avgdl)
    docs = pd.DataFrame(
        {"doc_id": np.arange(n_docs), "tfnorm": tfn, "const": np.ones(n_docs)}
    )
    ids_by_term = {
        t: np.sort(rng.choice(n_docs, size=200, replace=False)) for t in ("aaa", "bbb")
    }
    postings = pd.DataFrame(
        [{"term": t, "blob": codec.encode_docids(ids)} for t, ids in ids_by_term.items()]
    )
    queries = {"q1": {"aaa": 2.0, "bbb": 1.0}, "q2": {"bbb": 1.5}}

    def ranked(w_idf):
        truth = {}
        for term, w in w_idf.items():
            for d in ids_by_term[term]:
                truth[int(d)] = truth.get(int(d), 0.0) + float(
                    np.float32(np.float32(w) * tfn[d])
                )
        return sorted(
            ((np.float32(s + 1.0), d) for d, s in truth.items()),
            key=lambda t: (-t[0], t[1]),
        )

    exp = {qid: ranked(w) for qid, w in queries.items()}
    # q2 scores by one term, so docs of equal dlq tie: cut q2's pool inside
    # a tie group, where only the doc_id tiebreak decides membership
    pool2 = next(
        i for i in range(20, len(exp["q2"])) if exp["q2"][i - 1][0] == exp["q2"][i][0]
    )
    pools = {"q1": 50, "q2": pool2}

    decodes = []
    real_decode = codec.decode_docids
    monkeypatch.setattr(
        codec, "decode_docids", lambda blob: decodes.append(1) or real_decode(blob)
    )
    got = batch_score_kernel((0, 0), postings, docs, {0: queries}, seg_size, pools)
    assert len(decodes) == len(ids_by_term)
    for qid, pool in pools.items():
        rows = got[got["query_id"] == qid]
        assert rows["doc_id"].tolist() == [d for _, d in exp[qid][:pool]], qid
        assert [float(x) for x in rows["score"]] == pytest.approx(
            [float(s) for s, _ in exp[qid][:pool]], rel=1e-6
        ), qid


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
    df = wand_score_batch(engine, {"q": w_idf}, {"q": 30}, "19000101", "29991231", None, None)
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
