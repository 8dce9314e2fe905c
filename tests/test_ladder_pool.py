"""Day-bucket ladder with a binding per-bucket pool cut.

Under split_time the reference takes, in each ladder bucket, the BM25 pool
of 150·remaining candidates and reranks it (SimDocsSearch.scala:185-211,
:301). The other split_time corpora are too small for that cut to bind.
This one is built so that it does, in a bucket reached with a shrunken
quota, for two queries:

- "ladder": bucket 0 (7–10 days ago) holds one eligible doc, so bucket 1
  (11–40 days ago) is reached with remaining = 1 and a pool of 150;
- "deep": bucket 0 holds nothing, bucket 1 one eligible doc, so bucket 2
  (41–70 days ago) is reached with remaining = 1 and a pool of 150.

The bucket reached with remaining = 1 holds 160 short decoys that match two
query terms (high BM25, n_common 2) and 2 very long docs that match all four
(BM25 rank 161–162, n_common 4). The long docs outrank every decoy in rerank
order, yet lie outside the pool, so the reference returns a decoy. The
engine scores bucket 0 alone and then every later bucket in one plan, so
"ladder" meets the cut in the first bucket of that plan and "deep" in a
later one.

A pool of 150·max_docs in every bucket, or a rerank cut that mixes BM25
tiers, returns a long doc (or nothing) instead.
"""
from __future__ import annotations

from datetime import timedelta

import pytest

from similardocs_spark.fixtures import (
    END_DAYS_AGO,
    PINNED_NOW,
    PINNED_TODAY,
    Turn,
    docs_meta_for,
    oracle_docs,
)
from similardocs_spark.index.build import build_index
from similardocs_spark.oracle.refsearch import (
    CANDIDATE_FACTOR,
    DAY_BUCKETS,
    OracleIndex,
    OracleSearch,
    days_ago_str,
)
from similardocs_spark.query.engine import SearchEngine
from tests.test_engine_golden import assert_hits_equal

MAX_DOCS = 2
N_DECOYS = CANDIDATE_FACTOR + 10
QUERIES = {
    "ladder": "alphax bravox charly deltax",
    "deep": "echoxx foxtro golfxx hotelx",
    "plain": "alphax bravox",
}
# query → (days ago of the one-doc buckets, days ago of the binding bucket)
LAYOUT = {"ladder": ([8], 20), "deep": ([20], 50)}


def _filler(i: int) -> str:
    """A distinct 6-letter non-word, so its prefix token is distinct too."""
    s = ""
    for _ in range(4):
        i, r = divmod(i, 26)
        s += chr(97 + r)
    return "zz" + s


def _ladder_turns() -> list[Turn]:
    def turn(conv_id: str, text: str, days_ago: int) -> Turn:
        return Turn(conv_id, 0, "user", text, None, PINNED_NOW - timedelta(days=days_ago))

    long_tail = " ".join(_filler(10_000 + j) for j in range(1200))
    turns = []
    for qid, (anchors, binding) in LAYOUT.items():
        terms = QUERIES[qid].split()
        turns += [
            turn(f"{qid}_anchor{i}", " ".join(terms[:3]), days)
            for i, days in enumerate(anchors)
        ]
        turns += [
            turn(f"{qid}_decoy{i:03d}", " ".join(terms[:2]), binding)
            for i in range(N_DECOYS)
        ]
        turns += [
            turn(f"{qid}_long{i}", f"{QUERIES[qid]} {long_tail}", binding + 5)
            for i in range(MAX_DOCS)
        ]
    # docs without query terms: they keep the decoy terms' idf above zero
    turns += [
        turn(f"d_fill{i:03d}", " ".join(_filler(i * 10 + j) for j in range(10)), 100)
        for i in range(300)
    ]
    return turns


@pytest.fixture(scope="module")
def ladder(spark, tmp_path_factory):
    from pyspark.sql import types as T

    turns = _ladder_turns()
    schema = T.StructType(
        [
            T.StructField("conv_id", T.StringType()),
            T.StructField("turn_idx", T.IntegerType()),
            T.StructField("role", T.StringType()),
            T.StructField("text", T.StringType()),
            T.StructField("tool", T.StringType()),
            T.StructField("ts", T.TimestampType()),
        ]
    )
    tdf = spark.createDataFrame(
        [(t.conv_id, t.turn_idx, t.role, t.text, t.tool, t.ts) for t in turns], schema
    )
    meta_df = spark.createDataFrame(
        [(c, m["db"], m["instance"], m["update_date"]) for c, m in docs_meta_for(turns).items()],
        "conv_id string, db string, instance string, update_date string",
    )
    root = str(tmp_path_factory.mktemp("ladderindex"))
    paths = build_index(spark, tdf, root, docs_meta=meta_df, seg_size=128)
    engine = SearchEngine(spark, paths, PINNED_TODAY, END_DAYS_AGO)
    oracle = OracleSearch(OracleIndex.build(oracle_docs(turns)), PINNED_TODAY, END_DAYS_AGO)
    return engine, oracle


@pytest.mark.parametrize("qid", sorted(LAYOUT))
def test_fixture_binds_the_bucket_pool(ladder, qid):
    """Oracle-only: the binding bucket is reached with remaining = 1, and a
    pool of 150·max_docs there would change its hit (the cut binds)."""
    _, oracle = ladder
    from similardocs_spark.synonyms import expanded_query_terms
    from similardocs_spark.textnorm import query_rerank_tokens

    def bucket_of(days: int) -> tuple[str, str]:
        lo, hi = next(b for b in DAY_BUCKETS if b[0] <= days <= b[1])
        return days_ago_str(PINNED_TODAY, hi), days_ago_str(PINNED_TODAY, max(lo, END_DAYS_AGO))

    text = QUERIES[qid]
    anchors, binding = LAYOUT[qid]
    hits = oracle.search(text, max_docs=MAX_DOCS, split_time=True)
    assert len(hits) == MAX_DOCS
    for h, days in zip(hits, [*anchors, binding]):
        lo, hi = bucket_of(days)
        assert lo <= h.update_date <= hi, (h.update_date, days)
    weights = expanded_query_terms(text, None)
    q_rerank = frozenset(query_rerank_tokens(text))
    b = bucket_of(binding)
    in_pool = oracle._get_doc_meta(weights, q_rerank, 2, 1, None, None, *b)
    wide_pool = oracle._get_doc_meta(weights, q_rerank, 2, MAX_DOCS, None, None, *b)
    assert in_pool[0].doc_id == hits[-1].doc_id
    assert in_pool[0].n_common == 2
    assert [h.n_common for h in wide_pool] == [4] * MAX_DOCS


@pytest.mark.spark
def test_ladder_pool_cut_matches_oracle(ladder):
    """search_batch and search under split_time equal the oracle's ladder:
    rank-identical ids, float32-equal scores."""
    engine, oracle = ladder
    res = engine.search_batch(QUERIES, max_docs=MAX_DOCS, split_time=True)
    for qid, text in QUERIES.items():
        exp = oracle.search(text, max_docs=MAX_DOCS, split_time=True)
        assert exp, qid
        assert_hits_equal(res[qid], exp, f"batch {qid}")
        assert_hits_equal(
            engine.search(text, max_docs=MAX_DOCS, split_time=True), exp, f"search {qid}"
        )
