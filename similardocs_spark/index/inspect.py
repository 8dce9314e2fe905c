"""Index inspection tools — the CLI debug surface of the reference:
ShowTotalHits (per-term counts), IdSearch/ShowLastModified (doc-state lookup),
SearchExplain (per-token hit counts, OR/AND totals), IndexTest (sanity).
"""
from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from ..textnorm import analyze, uniform_text
from . import codec


@pandas_udf(T.ArrayType(T.LongType()))
def _decode_udf(blobs: pd.Series) -> pd.Series:
    # per-BLOB loop (variable-length codec; one iteration per posting list,
    # not per doc) returning int64 ndarrays directly — Arrow consumes them
    # without the per-element tolist() boxing round-trip
    return pd.Series(
        [codec.decode_docids(bytes(b)) for b in blobs], index=blobs.index
    )


def show_total_hits(engine) -> DataFrame:
    """All terms with their global df, ordered by term
    (ShowTotalHits.scala:49-75)."""
    return engine._terms.orderBy("term").select("term", "df")


def id_search(engine, conv_id: str) -> list:
    """Stored-fields lookup by external id (IdSearch.scala:20-23)."""
    return (
        engine._docs.filter(F.col("conv_id") == conv_id)
        .select("doc_id", "conv_id", "update_date", "db", "instance", "dl", "dlq")
        .collect()
    )


def search_explain(engine, text: str) -> dict:
    """Per-token hit counts + OR/AND totals (SearchExplain.scala:25-148)."""
    tokens = analyze(" ".join(uniform_text(text)))
    per_token = {}
    dfs = engine._term_df or {}
    for t in tokens:
        if engine._term_df is not None:
            per_token[t] = dfs.get(t, 0)
        else:
            per_token[t] = (
                engine._terms.filter(F.col("term") == t).select("df").collect() or [[0]]
            )[0][0]
    prep = engine.prepare(text)
    or_total = 0
    and_total = 0
    if prep is not None:
        w_idf, _ = prep
        if w_idf:
            decoded = engine._postings.filter(
                F.col("term").isin(sorted(w_idf))
            ).select("term", "df_seg")
            counts = decoded.groupBy().agg(F.sum("df_seg")).collect()[0][0]
            or_total = int(counts or 0)
            and_total = _and_total(engine, sorted(w_idf))
    return {"tokens": per_token, "or_total_postings": or_total, "and_total_docs": and_total}


def _and_total(engine, terms: list[str]) -> int:
    """#docs containing ALL query terms (the reference's AND probe)."""
    decoded = (
        engine._postings.filter(F.col("term").isin(terms))
        .select("term", F.explode(_decode_udf(F.col("blob"))).alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count_distinct("term").alias("nt"))
        .filter(F.col("nt") == len(terms))
        .count()
    )
    return int(decoded)


STORED_FIELDS = ["doc_id", "conv_id", "update_date", "db", "instance", "dl", "dlq"]


def term_search(engine, field: str, value: str, max_hits: int = 1000) -> dict:
    """Exact keyword term lookup on a stored/indexed field → hit count +
    first `max_hits` docIDs (TermSearch.scala:23-47; its 1000-doc cap kept).
    `field='term'` probes the inverted index itself (postings docIDs);
    any stored-field name probes the docs table."""
    if field == "term":
        hits = (
            engine._postings.filter(F.col("term") == value)
            .select(F.explode(_decode_udf(F.col("blob"))).alias("doc_id"))
            .orderBy("doc_id")
        )
    else:
        hits = engine._docs.filter(F.col(field) == value).select("doc_id").orderBy(
            "doc_id"
        )
    ids = [r["doc_id"] for r in hits.limit(max_hits).collect()]
    n = len(ids) if len(ids) < max_hits else int(hits.count())
    return {"hits": n, "doc_ids": ids}


def show_docs(engine, doc_id: int | None = None, max_docs: int = 1000) -> list:
    """Stored-fields dump of one document, or of the whole index in docID
    order (ShowDocs.scala:44-77; deleted-docs marking is moot here — merges
    rewrite segments, so the live table never carries tombstones)."""
    d = engine._docs.select(*STORED_FIELDS)
    if doc_id is not None:
        return d.filter(F.col("doc_id") == doc_id).collect()
    return d.orderBy("doc_id").limit(max_docs).collect()


def show_new_doc_ids(engine, days: int, max_docs: int = 1000) -> list:
    """(conv_id, update_date) of docs whose update_date falls within the last
    `days` days of the engine's pinned clock (ShowNewDocIds.scala:47-79;
    the reference's TermRangeQuery on the date field = a between filter on
    the update_date column, pushed to the parquet scan)."""
    from ..oracle.refsearch import days_ago_str

    lo = days_ago_str(engine.today, days)
    hi = days_ago_str(engine.today, 0)
    return (
        engine._docs.filter(F.col("update_date").between(lo, hi))
        .select("conv_id", "update_date", "doc_id")
        .orderBy("update_date", "doc_id")
        .limit(max_docs)
        .collect()
    )


def iterate_documents(engine, page_size: int = 1000, fields: list[str] | None = None):
    """Paginated full-index scan (DocumentIterator.scala:56-64, K5): yields
    stored-field rows in docID order, one bounded page per round trip —
    keyset pagination on the dense docID, so each page is a pushed-down
    range filter + limit, never OFFSET (which would rescan from zero) and
    never a whole-table collect."""
    cols = fields or STORED_FIELDS
    last = -1
    while True:
        page = (
            engine._docs.filter(F.col("doc_id") > last)
            .orderBy("doc_id")
            .limit(page_size)
            .select(*cols)
            .collect()
        )
        if not page:
            return
        yield from page
        last = page[-1]["doc_id"]


def index_test(engine, term: str = "dengue") -> int:
    """Index sanity probe (IndexTest.scala:19-76): n_docs > 0 and term df."""
    assert engine.n_docs > 0
    if engine._term_df is not None:
        return engine._term_df.get(analyze(term)[0] if analyze(term) else term, 0)
    rows = engine._terms.filter(F.col("term") == term).collect()
    return rows[0]["df"] if rows else 0
