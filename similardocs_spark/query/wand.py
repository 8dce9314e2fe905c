"""Batched per-segment scoring kernel — the engine's one scoring plan.

Executes per (SEGMENT × query-slice) via `cogroup(...).applyInPandas`: the
segment's postings rows (term, blob) for the batch's terms, cogrouped with
its bucket-filtered doc stats (doc_id, tfnorm, const). All of a term's
postings for a doc range are co-located by the index layout, so the kernel
decodes every needed posting list once, scatter-adds each query's float32
term contributions into a dense per-segment float64 accumulator
(term-at-a-time, exhaustive) and emits ≤ pool rows per (segment, query).
Every search and every batch is scored here, whatever the query terms' Σdf;
one search is a batch of one (SearchEngine.score_bucket).

Design note — no block-max skipping. The codec's per-block metadata could
skip blocks that cannot reach the current top-k, but on a vectorized
(numpy) runtime the Python loop over blocks costs more than it saves.
Measured on one segment without Spark (4 synthetic terms, one query, one
core of a 4-vCPU x86 host), outputs identical: a block-max WAND kernel took
7.3 / 31.1 / 109 ms at 8k / 64k / 262k docs (pool 1500) against 3.2 / 9.8 /
34.3 ms for this kernel, and 23.4 vs 9.7 ms at 64k docs with pool 30, where
skipping should help most.
"""
from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..index import codec


def batch_score_kernel(
    key,
    postings: pd.DataFrame,
    docs: pd.DataFrame,
    by_slice: dict[int, dict[str, dict[str, float]]],
    seg_size: int,
    pools: dict[str, int],
) -> pd.DataFrame:
    """Per-(segment, query-slice) batched scoring: decode every needed
    posting list ONCE, then scatter-add each query's term contributions into
    a dense per-segment accumulator. Float discipline is the pinned spec
    (bm25.py): f32 per-term product, f64 accumulate + const, final f32.
    Emits ≤ pool rows per (segment, query), in (score desc, doc_id asc)
    order."""
    empty = pd.DataFrame(
        {
            "query_id": pd.Series(dtype="object"),
            "doc_id": pd.Series(dtype="int64"),
            "score": pd.Series(dtype="float32"),
        }
    )
    queries = by_slice.get(int(key[1]), {})
    if len(docs) == 0 or len(postings) == 0 or not queries:
        return empty
    seg = int(key[0])
    base = seg * seg_size

    local = docs["doc_id"].to_numpy() - base
    n_local = int(local.max()) + 1
    tfnorm = np.full(n_local, np.nan, dtype=np.float32)
    tfnorm[local] = docs["tfnorm"].to_numpy(dtype=np.float32)
    const = np.zeros(n_local, dtype=np.float64)
    const[local] = docs["const"].to_numpy(dtype=np.float64)
    allowed = np.zeros(n_local, dtype=bool)
    allowed[local] = True

    decoded: dict[str, np.ndarray] = {}
    for row in postings.itertuples(index=False):
        if row.term not in decoded:
            ids = codec.decode_docids(bytes(row.blob)) - base
            # docs outside the filtered window were never materialized in
            # the dense arrays; clip before indexing (NaN tfnorm + allowed
            # mask handles in-range disallowed docs)
            decoded[row.term] = ids[(ids >= 0) & (ids < n_local)]

    frames: list[pd.DataFrame] = []
    acc = np.zeros(n_local, dtype=np.float64)
    matched = np.zeros(n_local, dtype=bool)
    for qid, w_idf in queries.items():
        terms = [t for t in w_idf if t in decoded]
        if not terms:
            continue
        acc[:] = 0.0
        matched[:] = False
        for t in terms:
            ids = decoded[t]
            contrib = (np.float32(w_idf[t]) * tfnorm[ids]).astype(np.float32)
            acc[ids] += contrib.astype(np.float64)
            matched[ids] = True
        idxs = np.nonzero(matched & allowed)[0]
        if idxs.size == 0:
            continue
        scores = (acc[idxs] + const[idxs]).astype(np.float32)
        # exact (score desc, doc_id asc) order; n_local ≤ seg_size so a full
        # lexsort is micro-cheap and tiebreak-correct at the pool boundary
        order = np.lexsort((idxs, -scores))[: pools.get(qid, 0)]
        frames.append(
            pd.DataFrame(
                {
                    "query_id": qid,
                    "doc_id": (idxs[order] + base).astype(np.int64),
                    "score": scores[order],
                }
            )
        )
    return pd.concat(frames, ignore_index=True) if frames else empty


def wand_score_batch(
    engine,
    w_idf_by_qid: dict[str, dict[str, float]],
    pools: dict[str, int],
    from_str: str,
    to_str: str,
    sources: set[str] | None,
    instances: set[str] | None,
) -> DataFrame:
    """Per-segment top-`pool` candidates for EVERY query in one cogrouped
    pass → DataFrame(query_id, doc_id, score f32). Parallelism axis is
    (segment × query-slice): with few segments (small corpora) the queries
    are hash-sliced so the kernel still fans out across all executor slots;
    postings rows are replicated only to the slices whose queries need that
    term (bounded decode duplication, factor ≤ n_slices). There are never
    more slices than queries: an empty slice would only cross-join docs
    that meet no postings."""
    import math
    import zlib

    spark = engine.spark
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
    all_terms = sorted({t for t, _ in term_slices})

    from ..util import filter_terms

    postings = filter_terms(engine._postings, all_terms).select(
        "seg", "term", "blob"
    )
    docs = engine._bucket_docs(from_str, to_str, sources, instances).select(
        "seg",
        "doc_id",
        "tfnorm",
        engine._const_for(sources, instances).alias("const"),
    )
    if n_slices == 1:
        # no query slicing needed (enough segments for full fan-out, or a
        # single query): skip the term→slice join and the docs replication
        postings = postings.withColumn("slice", F.lit(0))
        docs = docs.withColumn("slice", F.lit(0))
    else:
        from ..util import local_df

        ts_df = F.broadcast(
            local_df(spark, sorted(term_slices), "term string, slice int")
        )
        postings = postings.join(ts_df, "term")
        slices_df = F.broadcast(
            local_df(spark, [(s,) for s in range(n_slices)], "slice int")
        )
        docs = docs.crossJoin(slices_df)

    seg_size = engine.seg_size

    def kernel(key, p, d):
        return batch_score_kernel(key, p, d, by_slice, seg_size, pools)

    return (
        postings.groupBy("seg", "slice")
        .cogroup(docs.groupBy("seg", "slice"))
        .applyInPandas(kernel, schema="query_id string, doc_id long, score float")
    )
