"""Batched per-segment scoring kernel — the engine's one scoring plan.

Executes per SEGMENT via `cogroup(...).applyInArrow`: the segment's postings
rows (term, doc_ids) for the batch's terms and rerank tokens, cogrouped with
its filtered doc stats (doc_id, tfnorm, const, bucket, update_date,
conv_id). A plan of at most util.KERNEL_TASK_WORK doc·query pairs (a serve
search, a profile sweep on a small index) reads both sides through one
partition and scores every segment in one task, with no exchange before
the kernel; a larger one shuffles both sides on (segment × query-slice), so
the kernel fans out over the executors. All of a term's postings for a doc
range are co-located by the index layout, and the kernel reads each posting
list as a slice of the Arrow `list<int64>` column's one values buffer, with
no pandas in between (the round trip cost more than the numpy it wrapped). It
localizes every needed list once, scatter-adds each query's float32 term
contributions into a dense per-segment float64 accumulator
(term-at-a-time, exhaustive), counts each doc's common rerank tokens the
same way from the rerank postings, and emits ≤ pool rows per (segment,
query, bucket) as one Arrow table. `bucket` is a doc's day-bucket in
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
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import from_arrow_schema

from ..index.sortbuild import RERANK_NS

# the kernel's rows, the schema its applyInArrow declares; the columns after
# `quota` ride along from the docs side
KERNEL_SCHEMA = pa.schema(
    [
        ("query_id", pa.string()),
        ("doc_id", pa.int64()),
        ("score", pa.float32()),
        ("bucket", pa.int32()),
        ("n_common", pa.int32()),
        ("min2", pa.int32()),
        ("quota", pa.int32()),
        ("update_date", pa.int32()),
        ("conv_id", pa.string()),
    ]
)
KERNEL_SPARK_SCHEMA = from_arrow_schema(KERNEL_SCHEMA)
_CARRY = KERNEL_SCHEMA.names[KERNEL_SCHEMA.get_field_index("quota") + 1:]


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
    postings: pa.Table,
    docs: pa.Table,
    by_slice: dict[int, dict[str, dict[str, float]]],
    seg_size: int,
    pool: int,
    rerank: dict[str, Rerank] | None = None,
) -> pa.Table:
    """Per-(segment, query-slice) batched scoring: localize every needed
    posting list ONCE, then scatter-add each query's term contributions into
    a dense per-segment accumulator. `key` is the (seg, slice) pair of
    Arrow scalars, or (seg,) alone for an unsliced plan. Float discipline
    is the pinned spec (bm25.py): f32 per-term product, f64 accumulate +
    const, final f32. Emits ≤ pool rows per (segment, query, bucket), in
    (bucket, score desc, doc_id asc) order, as a KERNEL_SCHEMA table. Each
    row's `n_common` counts the query's `rerank` tokens whose rerank posting
    list (term RERANK_NS + token) holds the doc, a scatter-add of list
    membership like the score's; the row also carries the query's rerank
    `min2` and `quota` (0 for a query without a Rerank)."""
    queries = by_slice.get(key[1].as_py() if len(key) > 1 else 0, {})
    if docs.num_rows == 0 or postings.num_rows == 0 or not queries:
        return KERNEL_SCHEMA.empty_table()
    base = key[0].as_py() * seg_size
    rerank = rerank or {}

    def col(name: str, dtype) -> np.ndarray:
        return docs.column(name).to_numpy().astype(dtype, copy=False)

    local = col("doc_id", np.int64) - base
    n_local = int(local.max()) + 1
    tfnorm = np.full(n_local, np.nan, dtype=np.float32)
    tfnorm[local] = col("tfnorm", np.float32)
    const = np.zeros(n_local, dtype=np.float64)
    const[local] = col("const", np.float64)
    allowed = np.zeros(n_local, dtype=bool)
    allowed[local] = True
    bucket = np.zeros(n_local, dtype=np.int32)
    bucket[local] = col("bucket", np.int32)
    row_of = np.zeros(n_local, dtype=np.int64)
    row_of[local] = np.arange(docs.num_rows)

    # each list is a slice of the ListArray's one values buffer
    lists = postings.column("doc_ids").combine_chunks()
    offsets = lists.offsets.to_numpy()
    values = lists.values.to_numpy()
    ids_by_term: dict[str, np.ndarray] = {}
    for i, term in enumerate(postings.column("term").to_pylist()):
        if term not in ids_by_term:
            ids = values[offsets[i]:offsets[i + 1]] - base
            # docs outside the filtered window were never materialized in
            # the dense arrays; clip before indexing (NaN tfnorm + allowed
            # mask handles in-range disallowed docs)
            ids_by_term[term] = ids[(ids >= 0) & (ids < n_local)]

    # per emitting query: (qid, its Rerank, hit docs, their scores, n_common)
    out: list[tuple[str, Rerank, np.ndarray, np.ndarray, np.ndarray]] = []
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
        out.append((qid, rr, hit, scores[order], common[hit]))
    if not out:
        return KERNEL_SCHEMA.empty_table()
    qids, rrs, hits, hit_scores, hit_common = zip(*out)
    hit = np.concatenate(hits)
    of_query = np.repeat(np.arange(len(out)), [h.size for h in hits])

    def per_query(values) -> pa.Array:
        return pa.array(np.asarray(values, dtype=np.int32)[of_query])

    return pa.Table.from_arrays(
        [
            pa.array(qids, pa.string()).take(of_query),
            pa.array(hit + base),
            pa.array(np.concatenate(hit_scores)),
            pa.array(bucket[hit]),
            pa.array(np.concatenate(hit_common)),
            per_query([r.min2 for r in rrs]),
            per_query([r.quota for r in rrs]),
            *(docs.column(c).take(row_of[hit]) for c in _CARRY),
        ],
        schema=KERNEL_SCHEMA,
    )


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
    against the query's `rerank` tokens.

    A plan whose work, queries × the index's docs, is at most
    util.KERNEL_TASK_WORK runs its kernel as ONE task: both inputs are read
    through coalesce(1) and cogrouped by segment, so neither is shuffled.
    A larger plan shuffles both on (segment × query-slice), and AQE's
    coalescing floor picks the task count: with few segments (small
    corpora) the queries are hash-sliced so the kernel still fans out
    across all executor slots; postings rows are replicated only to the
    slices whose queries need that term (bounded duplication, factor ≤
    n_slices). There are never more slices than queries: an empty slice
    would only cross-join docs that meet no postings."""
    import math
    import zlib

    from ..util import KERNEL_TASK_WORK, filter_terms, local_df

    spark = engine.spark
    rerank = rerank or {}
    one_task = len(w_idf_by_qid) * engine.n_docs <= KERNEL_TASK_WORK
    n_slices = 1
    if not one_task:
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

    postings = filter_terms(engine._postings, {t for t, _ in term_slices})
    docs = engine._bucket_docs(buckets, sources, instances)
    if n_slices == 1:
        # no query slicing: no term→slice join, no docs replication
        keys = ["seg"]
        postings = postings.select("seg", "term", "doc_ids")
        if one_task:
            # one partition on each side satisfies the cogroup's clustering
            # as it is: no exchange, one kernel task
            postings, docs = postings.coalesce(1), docs.coalesce(1)
    else:
        keys = ["seg", "slice"]
        ts_df = F.broadcast(
            local_df(spark, sorted(term_slices), "term string, slice int")
        )
        postings = postings.select("seg", "term", "doc_ids").join(ts_df, "term")
        slices_df = F.broadcast(
            local_df(spark, [(s,) for s in range(n_slices)], "slice int")
        )
        docs = docs.crossJoin(slices_df)

    seg_size = engine.seg_size

    def kernel(key, p, d):
        return batch_score_kernel(key, p, d, by_slice, seg_size, pool, rerank)

    return (
        postings.groupBy(*keys)
        .cogroup(docs.groupBy(*keys))
        .applyInArrow(kernel, schema=KERNEL_SPARK_SCHEMA)
    )
