"""Oracle parity at a less-toy scale: on a Zipf-vocabulary corpus (3k
conversations, ~50k-term vocabulary, multiple segments, doc ids taken from
the conv_id by `doc_id_expr`) search() and search_batch() must both equal the
pure-Python reference oracle built from the same rows."""
from __future__ import annotations

import pytest

from similardocs_spark.fixtures import END_DAYS_AGO, PINNED_TODAY
from similardocs_spark.index.build import build_index
from similardocs_spark.query.engine import SearchEngine
from tests.test_engine_golden import assert_hits_equal

QUERIES = {
    "hot": "w0 w1 w2 w3",  # every word shorter than 3 chars: an empty query
    "hot3": "w10 w11 w12 w13",  # the most frequent words that survive prep
    "mixed": "w5 w123 w4321 w911",
    "rare": "w31000 w44321 w27777",
    "single": "w17",
    "many": "w0 w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 w12 w13 w14 w15",
}
# conv_id "conv%09d" → its number as the doc id
DOC_ID_EXPR = "cast(substring(conv_id, 5, 9) as bigint)"


@pytest.fixture(scope="module")
def corpus(spark, tmp_path_factory):
    import bench
    from similardocs_spark.index.build import IndexPaths
    from similardocs_spark.oracle.refsearch import OracleDoc, OracleIndex, OracleSearch

    root = str(tmp_path_factory.mktemp("zipfidx"))
    tdf = bench.synth_transcripts_zipf(spark, n_convs=3000, turns_per_conv=3, words_per_turn=30)
    build_index(spark, tdf, root, seg_size=512, doc_id_expr=DOC_ID_EXPR)
    engine = SearchEngine(spark, IndexPaths(root), PINNED_TODAY, END_DAYS_AGO)

    by_conv: dict[str, list] = {}
    for r in tdf.collect():
        by_conv.setdefault(r["conv_id"], []).append(r)
    docs = []
    for conv_id, turns in by_conv.items():
        turns.sort(key=lambda t: t["turn_idx"])
        docs.append(
            OracleDoc(
                doc_id=int(conv_id[4:]),  # DOC_ID_EXPR
                conv_id=conv_id,
                turn_texts=[t["text"] for t in turns],
                update_date=max(t["ts"] for t in turns).strftime("%Y%m%d"),
            )
        )
    oracle = OracleSearch(OracleIndex.build(docs), PINNED_TODAY, END_DAYS_AGO)
    return engine, oracle


@pytest.mark.spark
def test_zipf_matches_oracle(corpus):
    from similardocs_spark.oracle.refsearch import MAX_LOWER_LIMIT, days_ago_str
    from similardocs_spark.synonyms import expanded_query_terms

    engine, oracle = corpus
    assert engine.n_docs == 3000
    batch = engine.search_batch(dict(QUERIES))
    lo = days_ago_str(PINNED_TODAY, MAX_LOWER_LIMIT)
    hi = days_ago_str(PINNED_TODAY, END_DAYS_AGO)
    for name, text in QUERIES.items():
        exp = oracle.search(text)
        assert_hits_equal(engine.search(text), exp, f"search {name}")
        assert_hits_equal(batch[name], exp, f"batch {name}")
        # the rerank leaves some of these queries no hits: check the
        # kernel's BM25 candidate pool itself, before the rerank filters it
        prep = engine.prepare(text)
        if prep is None:  # "hot": no term survives the query prep
            continue
        got = engine.score_bucket(prep[0], lo, hi, 1500, None, None).collect()
        exp_pool = oracle._bm25_candidates(
            expanded_query_terms(text, None), None, None, lo, hi, 1500
        )
        assert exp_pool, name
        assert [r.doc_id for r in got] == [d for d, _ in exp_pool], name
        assert [r.score for r in got] == pytest.approx(
            [float(s) for _, s in exp_pool], rel=2e-7
        ), name
