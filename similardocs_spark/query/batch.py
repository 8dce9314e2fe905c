"""Batched similarity search: N queries in ONE DataFrame plan.

The reference serves one query per servlet request; on Spark the q/s story is
amortization — scoring 1,000 queries costs barely more than one, because the
postings scan, joins and shuffles are shared:

  postings (term-pruned scan) cogroup doc stats (filters pushed to the
  parquet scan, each doc tagged with its day bucket), per (segment × slice)
    → batched per-segment kernel (query/wand.py): each posting list read
      ONCE, float32-spec scoring, ≤ pool rows per (segment, query, bucket)
    → per-(query, bucket) candidate pool via ranked window (150·max_docs)
    → overlap rerank vs per-query token arrays → per-(query, bucket, tier)
      top-max_docs window → per-query bucket quotas settled on the executors
    → one collect of ≤ max_docs rows per query

All queries in a batch share the filter settings (sources/instances/last_days/
split_time), like a profile-updater sweep does. The split_time day-bucket
ladder (SimDocsSearch.scala:185-211) takes at most two such plans: the first
bucket, then every later bucket at once for the queries still short; see
ladder_hits. search(split_time=True) runs it as a batch of one.
"""
from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Row, Window
from pyspark.sql import functions as F

from ..oracle.refsearch import (
    CANDIDATE_FACTOR,
    DEFAULT_MAX_DOCS,
    DEFAULT_MIN_NGRAMS,
    get_min_ngrams,
)
from .engine import HIT_COLS

BatchHit = Row("query_id", "rank", *HIT_COLS)


def ladder_hits(
    engine,
    qinfo: dict[str, tuple[dict[str, float], list[str]]],
    max_docs: int,
    min_ngrams: int,
    sources: set[str] | None,
    instances: set[str] | None,
    buckets: list[tuple[str, str]],
    explain: bool = False,
) -> dict[str, list]:
    """{query_id: hit rows in result order} of every (term weights, rerank
    tokens) in `qinfo` over `buckets` (one range, or the split_time ladder),
    in at most two plans: the first bucket, so a batch whose queries fill
    there scores nothing older; then ONE plan over every later bucket for
    the queries still short, their shortfall as the quota.

    The reference reranks bucket b's top-150·remaining_b BM25 pool. A doc's
    score does not depend on its bucket, and a top-150·r pool is a prefix of
    the top-150·quota pool. So a plan numbers each (query, bucket)'s top
    150·quota by (score desc, doc_id asc) as `_r` and keeps the rerank's top
    quota per (query, bucket, tier = (_r-1) // 150). The tier cut is exact: a
    hit of tier t is among the top r ≤ quota of its bucket's pool, which
    holds all of tier t. A plan's first bucket is visited with the whole
    quota, so it is one tier, and over one bucket the window already ranks
    the hits; over several, `_settle` walks each query's buckets on the
    executors. Either way the collect is ≤ quota rows per query."""
    from ..util import kernel_exec_conf, local_df
    from .wand import wand_score_batch

    wc = Window.partitionBy("query_id", "bucket").orderBy(F.desc("score"), F.asc("doc_id"))
    wf = Window.partitionBy("query_id", "bucket", "tier").orderBy(
        F.desc("n_common"), F.desc("update_date"), F.desc("score"), F.asc("doc_id")
    )
    tier = F.floor((F.col("_r") - 1) / CANDIDATE_FACTOR)
    docs_fields = engine._docs.select(
        "doc_id", "conv_id", "update_date", "rerank_tokens"
    )
    hits: dict[str, list] = {qid: [] for qid in qinfo}
    for part in (buckets[:1], buckets[1:]):
        quota = {q: max_docs - len(rows) for q, rows in hits.items() if len(rows) < max_docs}
        if not part or not quota:
            break
        # local_df: an Arrow LocalRelation broadcasts without a Python-task stage
        qmeta = F.broadcast(
            local_df(
                engine.spark,
                [
                    (qid, qinfo[qid][1], get_min_ngrams(min_ngrams, len(qinfo[qid][1])), k)
                    for qid, k in quota.items()
                ],
                "query_id string, q_rerank array<string>, min2 int, quota int",
            )
        )
        pool = CANDIDATE_FACTOR * max(quota.values())
        scored = wand_score_batch(
            engine, {qid: qinfo[qid][0] for qid in quota}, pool, part, sources, instances
        )
        # PRE-CUT plan: the pool cut runs before the rerank join, and
        # q_rerank joins after it. A FUSED variant (join docs first, pool
        # cut + rank in one exchange) lost at 4x4 (11.3 vs 8.0 s) and 8x2
        # (13.4 vs 6.9 s): per-SEGMENT pools rode through the join (283 MB
        # vs 65+1.5 MB) (evidence/PROFILE_FUSED_AB_8X2.json,
        # evidence/PROFILE_4X4_FUSED.json).
        cands = (
            scored.withColumn("_r", F.row_number().over(wc))
            .filter(F.col("_r") <= pool)
            .withColumn("tier", F.when(F.col("bucket") > 0, tier).otherwise(0))
        )
        # docs-stationary join: the candidate side is bounded, and shuffling
        # the docs side moved 284 MB of rerank_tokens per batch call
        # (measured). cache=True: docs are cached pre-partitioned on doc_id,
        # so a shuffled-hash join moves only the candidates (a broadcast
        # built the full candidate relation per executor JVM, ~4.5 s each at
        # 8 executors). cache=False: broadcast the candidates to the docs scan.
        if engine.cache:
            joined = cands.hint("shuffle_hash").join(docs_fields, "doc_id")
        else:
            joined = F.broadcast(cands).join(docs_fields, "doc_id")
        ranked = (
            joined.join(qmeta, "query_id")
            .filter(F.col("_r") <= CANDIDATE_FACTOR * F.col("quota"))
            .withColumn(
                "n_common", F.size(F.array_intersect("rerank_tokens", "q_rerank"))
            )
            .filter(F.col("n_common") >= F.col("min2"))
            # one exchange for the tier window and the per-query settle
            .repartition("query_id")
            .withColumn("rank", F.row_number().over(wf))
            .filter(F.col("rank") <= F.col("quota"))
            .select(
                "query_id", "quota", "bucket", "_r", *HIT_COLS,
                *(["rerank_tokens"] if explain else []), "rank",
            )
        )
        if len(part) > 1:
            ranked = ranked.groupBy("query_id").applyInPandas(_settle, ranked.schema)
        with kernel_exec_conf(engine.spark):
            rows = ranked.collect()
        for r in sorted(rows, key=lambda r: r["rank"]):
            hits[r["query_id"]].append(r)
    return hits


def _settle(pdf: pd.DataFrame) -> pd.DataFrame:
    """One query's survivors → its hits, `rank` renumbered in result order:
    in bucket order, the first `remaining` survivors of pool rank _r ≤
    150·remaining, in rerank order (n_common desc, update_date desc, then
    the pool order that _r numbers)."""
    days = np.unique(pdf["update_date"].to_numpy(), return_inverse=True)[1]
    pdf = pdf.iloc[np.lexsort((pdf["_r"], -days, -pdf["n_common"], pdf["bucket"]))]
    b, r = pdf["bucket"].to_numpy(), pdf["_r"].to_numpy()
    starts = np.flatnonzero(np.r_[True, b[1:] != b[:-1]])
    left = int(pdf["quota"].iat[0])
    keep: list = []
    for s, e in zip(starts, [*starts[1:], len(b)]):
        got = s + np.flatnonzero(r[s:e] <= CANDIDATE_FACTOR * left)[:left]
        keep.extend(got)
        left -= len(got)
    return pdf.iloc[keep].assign(rank=np.arange(1, len(keep) + 1, dtype=np.int32))


def search_batch_mixed(
    engine,
    queries: dict[str, str],
    per_query: dict[str, dict],
    **shared,
) -> dict[str, list]:
    """Batch with PER-QUERY filter overrides: `per_query[qid]` may set any of
    sources/instances/last_days/max_docs/min_ngrams for that query; everything
    else inherits `shared`. Queries are grouped by their effective filter
    tuple and each group runs as one shared-filter batch plan — the grouping
    is driver-side bookkeeping only, so a mixed workload of G distinct filter
    sets costs G batch plans instead of |queries| single-query jobs."""
    groups: dict[tuple, dict[str, str]] = {}
    for qid, text in queries.items():
        over = per_query.get(qid, {})
        cfg = dict(shared)
        cfg.update(over)
        # EVERY effective setting is part of the group key (deriving any of
        # them from a per-query cfg would let one query's override leak to
        # its whole group), and an explicitly-empty sources/instances set is
        # kept distinct from None: empty set = 'match nothing' (isin([])),
        # None = 'no filter'.
        key = (
            None if cfg.get("sources") is None else frozenset(cfg["sources"]),
            None if cfg.get("instances") is None else frozenset(cfg["instances"]),
            cfg.get("last_days"),
            cfg.get("max_docs", DEFAULT_MAX_DOCS),
            cfg.get("min_ngrams", DEFAULT_MIN_NGRAMS),
            cfg.get("split_time", False),
        )
        groups.setdefault(key, {})[qid] = text
    results: dict[str, list] = {}
    for key, group in groups.items():
        srcs, insts, last_days, max_docs, min_ngrams, split_time = key
        results.update(
            search_batch(
                engine,
                group,
                max_docs=max_docs,
                min_ngrams=min_ngrams,
                sources=None if srcs is None else set(srcs),
                instances=None if insts is None else set(insts),
                last_days=last_days,
                split_time=split_time,
            )
        )
    return results


def search_batch(
    engine,
    queries: dict[str, str],
    max_docs: int = DEFAULT_MAX_DOCS,
    min_ngrams: int = DEFAULT_MIN_NGRAMS,
    sources: set[str] | None = None,
    instances: set[str] | None = None,
    last_days: int | None = None,
    split_time: bool = False,
) -> dict[str, list]:
    """→ {query_id: [rows ordered by rank]}, rank = 1-based position in the
    query's result list; per-query results identical to
    engine.search(text, ...) with the same settings; like search(), raises
    ValueError when `last_days` is below engine.end_days_ago. Queries whose
    effective (term weights, rerank tokens) are identical are scored once
    and the result rows are copied to every alias with the alias's own
    query_id substituted (the query_id column always matches the dict key).
    Applies to search_batch_mixed too (it groups into search_batch calls).
    For per-query filter overrides see search_batch_mixed."""
    lower, upper = engine._day_bounds(last_days)
    qinfo = {
        qid: (w_idf, rerank)
        for qid, (w_idf, rerank) in engine._prepare_all(queries).items()
        if w_idf
    }
    results: dict[str, list] = {qid: [] for qid in queries}
    if not qinfo:
        return results
    # canonical dedup: queries with identical effective (w_idf, rerank) are
    # scored ONCE and the result list is shared to every alias — profile
    # sweeps routinely contain duplicated profiles, and every duplicate
    # would otherwise repeat full kernel scoring + rerank
    canon: dict[tuple, str] = {}
    alias_of: dict[str, str] = {}
    for qid in sorted(qinfo):
        w_idf, rerank = qinfo[qid]
        key = (tuple(sorted(w_idf.items())), tuple(rerank))
        rep = canon.setdefault(key, qid)
        if rep != qid:
            alias_of[qid] = rep
    for qid in alias_of:
        del qinfo[qid]

    hits = ladder_hits(
        engine, qinfo, max_docs, min_ngrams, sources, instances,
        engine._day_buckets(lower, upper, split_time),
    )
    for qid, rows in hits.items():
        results[qid] = [
            BatchHit(qid, rank, *(r[c] for c in HIT_COLS))
            for rank, r in enumerate(rows, 1)
        ]
    # an alias's rows carry its own query_id, so the column always names the
    # dict key it lives under (consumers that flatten results to a table
    # would otherwise misattribute alias hits to the representative)
    for qid, rep in alias_of.items():
        results[qid] = [BatchHit(qid, *r[1:]) for r in results[rep]]
    return results
