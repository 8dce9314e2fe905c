"""Batched per-segment scoring kernel — the engine's one scoring plan.

Executes per (SEGMENT × query-slice) via `cogroup(...).applyInPandas`: the
segment's postings rows (term, doc_ids) for the batch's terms and rerank
tokens, cogrouped with its filtered doc stats (doc_id, tfnorm, const,
bucket, update_date, conv_id). All of a term's postings for a doc range are
co-located by the index layout, and Arrow hands each posting list to the
kernel as an int64 array, so the kernel localizes every needed list once,
scatter-adds each query's float32 term contributions into a dense
per-segment float64 accumulator (term-at-a-time, exhaustive), counts each
doc's common rerank tokens the same way from the rerank postings, and emits
≤ pool rows per (segment, query, bucket). `bucket` is a doc's day-bucket in
the split_time ladder (0 for every doc of a single range), so one pass
scores a whole ladder. Every search and every batch is scored here, whatever
the query terms' Σdf; one search is a batch of one (query/batch.py).

Design note — no block-max skipping. Per-block (last docID, min doc length)
metadata could skip blocks that cannot reach the current top-k, but on a
vectorized (numpy) runtime the Python loop over blocks costs more than it
saves. Measured on one segment without Spark (4 synthetic terms, one query,
one core of a 4-vCPU x86 host), outputs identical: a block-max WAND kernel
took 7.3 / 31.1 / 109 ms at 8k / 64k / 262k docs (pool 1500) against 3.2 /
9.8 / 34.3 ms for this kernel, and 23.4 vs 9.7 ms at 64k docs with pool 30,
where skipping should help most.
"""
from __future__ import annotations

from typing import NamedTuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..index.sortbuild import RERANK_NS


# docs columns the kernel reads; every other docs column rides along to the
# rows it emits
_KERNEL_DOC_COLS = ("seg", "slice", "doc_id", "tfnorm", "const", "bucket")


class Rerank(NamedTuple):
    """A query's rerank: its rerank tokens, the fewest of them a hit must
    share (min2) and the hits it still needs (quota). The kernel emits
    min2 and quota on every row, so the plan needs no per-query join."""

    tokens: list[str]
    min2: int
    quota: int


_NO_RERANK = Rerank([], 0, 0)


def batch_score_kernel(
    key,
    postings: pd.DataFrame,
    docs: pd.DataFrame,
    by_slice: dict[int, dict[str, dict[str, float]]],
    seg_size: int,
    pool: int,
    rerank: dict[str, Rerank] | None = None,
) -> pd.DataFrame:
    """Per-(segment, query-slice) batched scoring: localize every needed
    posting list ONCE, then scatter-add each query's term contributions into
    a dense per-segment accumulator. Float discipline is the pinned spec
    (bm25.py): f32 per-term product, f64 accumulate + const, final f32.
    Emits ≤ pool rows per (segment, query, bucket), in (bucket, score desc,
    doc_id asc) order. Each row's `n_common` counts the query's `rerank`
    tokens whose rerank posting list (term RERANK_NS + token) holds the doc,
    a scatter-add of list membership like the score's; the row also carries
    the query's rerank `min2` and `quota` (0 for a query without a Rerank)."""
    carry = [c for c in docs.columns if c not in _KERNEL_DOC_COLS]
    empty = pd.DataFrame(
        {
            "query_id": pd.Series(dtype="object"),
            "doc_id": pd.Series(dtype="int64"),
            "score": pd.Series(dtype="float32"),
            "bucket": pd.Series(dtype="int32"),
            "n_common": pd.Series(dtype="int32"),
            "min2": pd.Series(dtype="int32"),
            "quota": pd.Series(dtype="int32"),
            **{c: docs[c].iloc[:0] for c in carry},
        }
    )
    queries = by_slice.get(int(key[1]), {})
    if len(docs) == 0 or len(postings) == 0 or not queries:
        return empty
    seg = int(key[0])
    base = seg * seg_size
    rerank = rerank or {}

    local = docs["doc_id"].to_numpy() - base
    n_local = int(local.max()) + 1
    tfnorm = np.full(n_local, np.nan, dtype=np.float32)
    tfnorm[local] = docs["tfnorm"].to_numpy(dtype=np.float32)
    const = np.zeros(n_local, dtype=np.float64)
    const[local] = docs["const"].to_numpy(dtype=np.float64)
    allowed = np.zeros(n_local, dtype=bool)
    allowed[local] = True
    bucket = np.zeros(n_local, dtype=np.int32)
    bucket[local] = docs["bucket"].to_numpy(dtype=np.int32)
    row_of = np.zeros(n_local, dtype=np.int64)
    row_of[local] = np.arange(len(docs))

    ids_by_term: dict[str, np.ndarray] = {}
    for row in postings.itertuples(index=False):
        if row.term not in ids_by_term:
            ids = np.asarray(row.doc_ids, dtype=np.int64) - base
            # docs outside the filtered window were never materialized in
            # the dense arrays; clip before indexing (NaN tfnorm + allowed
            # mask handles in-range disallowed docs)
            ids_by_term[row.term] = ids[(ids >= 0) & (ids < n_local)]

    frames: list[pd.DataFrame] = []
    acc = np.zeros(n_local, dtype=np.float64)
    matched = np.zeros(n_local, dtype=bool)
    common = np.zeros(n_local, dtype=np.int32)
    for qid, w_idf in queries.items():
        terms = [t for t in w_idf if t in ids_by_term]
        if not terms:
            continue
        acc[:] = 0.0
        matched[:] = False
        for t in terms:
            ids = ids_by_term[t]
            contrib = (np.float32(w_idf[t]) * tfnorm[ids]).astype(np.float32)
            acc[ids] += contrib.astype(np.float64)
            matched[ids] = True
        idxs = np.nonzero(matched & allowed)[0]
        if idxs.size == 0:
            continue
        rr = rerank.get(qid, _NO_RERANK)
        common[:] = 0
        for t in set(rr.tokens):
            ids = ids_by_term.get(RERANK_NS + t)
            if ids is not None:
                common[ids] += 1
        scores = (acc[idxs] + const[idxs]).astype(np.float32)
        # exact (bucket, score desc, doc_id asc) order; n_local ≤ seg_size so
        # a full lexsort is micro-cheap and tiebreak-correct at the pool
        # boundary; a row's rank is its offset from its bucket's first row
        order = np.lexsort((idxs, -scores, bucket[idxs]))
        b = bucket[idxs[order]]
        order = order[np.arange(order.size) - np.searchsorted(b, b) < pool]
        hit = idxs[order]
        frames.append(
            pd.DataFrame(
                {
                    "query_id": qid,
                    "doc_id": (hit + base).astype(np.int64),
                    "score": scores[order],
                    "bucket": bucket[hit],
                    "n_common": common[hit],
                    "min2": np.int32(rr.min2),
                    "quota": np.int32(rr.quota),
                    **{c: docs[c].to_numpy()[row_of[hit]] for c in carry},
                }
            )
        )
    return pd.concat(frames, ignore_index=True) if frames else empty


def wand_score_batch(
    engine,
    w_idf_by_qid: dict[str, dict[str, float]],
    pool: int,
    buckets: list[tuple[str, str]],
    sources: set[str] | None,
    instances: set[str] | None,
    rerank: dict[str, Rerank] | None = None,
) -> DataFrame:
    """Per-segment top-`pool` candidates of each of `buckets` for EVERY query
    in one cogrouped pass → DataFrame(query_id, doc_id, score f32, bucket,
    n_common, min2, quota, update_date int (yyyyMMdd), conv_id), n_common
    against the query's `rerank` tokens. Parallelism
    axis is (segment × query-slice): with few segments
    (small corpora) the queries are hash-sliced so the kernel still fans out
    across all executor slots; postings rows are replicated only to the
    slices whose queries need that term (bounded duplication, factor ≤
    n_slices). There are never more slices than queries: an empty slice
    would only cross-join docs that meet no postings."""
    import math
    import zlib

    spark = engine.spark
    rerank = rerank or {}
    n_segs = max(1, math.ceil(engine.n_docs / engine.seg_size))
    par = spark.sparkContext.defaultParallelism
    n_slices = max(1, min(8, math.ceil(par / n_segs), len(w_idf_by_qid)))

    def slice_of(qid: str) -> int:
        return zlib.crc32(qid.encode()) % n_slices

    by_slice: dict[int, dict[str, dict[str, float]]] = {}
    term_slices: set[tuple[str, int]] = set()
    for qid, w_idf in w_idf_by_qid.items():
        s = slice_of(qid)
        by_slice.setdefault(s, {})[qid] = w_idf
        term_slices.update((t, s) for t in w_idf)
        term_slices.update((RERANK_NS + t, s) for t in rerank.get(qid, _NO_RERANK).tokens)
    all_terms = sorted({t for t, _ in term_slices})

    from ..util import filter_terms

    postings = filter_terms(engine._postings, all_terms)
    if n_slices == 1:
        # no query slicing needed (enough segments for full fan-out, or a
        # single query): skip the term→slice join and the docs replication
        postings = postings.select("seg", "term", "doc_ids", F.lit(0).alias("slice"))
        docs = engine._bucket_docs(buckets, sources, instances, F.lit(0).alias("slice"))
    else:
        from ..util import local_df

        ts_df = F.broadcast(
            local_df(spark, sorted(term_slices), "term string, slice int")
        )
        postings = postings.select("seg", "term", "doc_ids").join(ts_df, "term")
        slices_df = F.broadcast(
            local_df(spark, [(s,) for s in range(n_slices)], "slice int")
        )
        docs = engine._bucket_docs(buckets, sources, instances).crossJoin(slices_df)

    seg_size = engine.seg_size

    def kernel(key, p, d):
        return batch_score_kernel(key, p, d, by_slice, seg_size, pool, rerank)

    return (
        postings.groupBy("seg", "slice")
        .cogroup(docs.groupBy("seg", "slice"))
        .applyInPandas(
            kernel,
            schema="query_id string, doc_id long, score float, bucket int, n_common int, "
            "min2 int, quota int, update_date int, conv_id string",
        )
    )
