"""Batched similarity search: N queries in ONE DataFrame plan.

The reference serves one query per servlet request; on Spark the q/s story is
amortization — scoring 1,000 queries costs barely more than one, because the
postings scan and the shuffles are shared:

  postings (term-pruned scan: query terms and rerank tokens) cogroup doc
  stats (filters pushed to the parquet scan, each doc tagged with its day
  bucket), per segment: read in place into one task when queries × docs is
  at most util.KERNEL_TASK_WORK, else shuffled per (segment × slice)
    → batched per-segment kernel (query/wand.py, cogroup applyInArrow):
      each posting list read ONCE, float32-spec scoring and the rerank's
      n_common, ≤ pool rows per (segment, query, bucket)
    → one exchange on query_id
    → per-(query, bucket) candidate pool via ranked window (150·quota)
    → n_common ≥ min2 → per-(query, bucket, tier) top-quota window →
      per-query bucket quotas settled on the executors (_settle, a
      groupBy(query_id) applyInArrow, over several buckets only)
    → one collect of ≤ max_docs rows per query

Both Python steps take and return Arrow tables: no pandas frame is built on
the query path.

All queries in a batch share the filter settings (sources/instances/last_days/
split_time), like a profile-updater sweep does. The split_time day-bucket
ladder (SimDocsSearch.scala:185-211) takes at most two such plans: the first
bucket, then every later bucket at once for the queries still short; see
ladder_hits. search() runs the same plans as a batch of one.
"""
from __future__ import annotations

from typing import NamedTuple

import numpy as np
import pyarrow as pa
from pyspark.sql import Column, DataFrame, Row, Window
from pyspark.sql import functions as F

from ..oracle.refsearch import (
    CANDIDATE_FACTOR,
    DEFAULT_MAX_DOCS,
    DEFAULT_MIN_NGRAMS,
    get_min_ngrams,
)
from .engine import HIT_COLS, Hit

BatchHit = Row("query_id", "rank", *HIT_COLS)


def ladder_hits(
    engine,
    qinfo: dict[str, tuple[dict[str, float], list[str]]],
    max_docs: int,
    min_ngrams: int,
    sources: set[str] | None,
    instances: set[str] | None,
    buckets: list[tuple[str, str]],
) -> dict[str, list[Hit]]:
    """{query_id: hits in result order} of every (term weights, rerank
    tokens) in `qinfo` over `buckets` (one range, or the split_time ladder),
    in at most two plans: the first bucket, so a batch whose queries fill
    there scores nothing older; then ONE plan over every later bucket for
    the queries still short, their shortfall as the quota."""
    from ..util import kernel_exec_conf

    hits: dict[str, list[Hit]] = {qid: [] for qid in qinfo}
    for part in (buckets[:1], buckets[1:]):
        quota = {q: max_docs - len(rows) for q, rows in hits.items() if len(rows) < max_docs}
        if not part or not quota:
            break
        plan = rerank_plan(engine, qinfo, quota, min_ngrams, part, sources, instances)
        with kernel_exec_conf(engine.spark):
            rows = plan.collect()
        for r in sorted(rows, key=lambda r: r["rank"]):
            hits[r["query_id"]].append(
                Hit(r["doc_id"], r["conv_id"], r["score"], r["n_common"], str(r["update_date"]))
            )
    return hits


def rerank_plan(
    engine,
    qinfo: dict[str, tuple[dict[str, float], list[str]]],
    quota: dict[str, int],
    min_ngrams: int,
    buckets: list[tuple[str, str]],
    sources: set[str] | None,
    instances: set[str] | None,
) -> DataFrame:
    """The one plan of a search or batch over `buckets`: each query in
    `quota` gets its first quota hits, as rows (query_id, quota, bucket, _r,
    *HIT_COLS, rank), update_date an int.

    kernel (scores and n_common per pool row) → one exchange on query_id →
    pool cut → rerank filter → rerank window → _settle. The reference
    reranks bucket b's top-150·remaining_b BM25 pool. A doc's score does not
    depend on its bucket, and a top-150·r pool is a prefix of the top
    150·quota pool. So the plan numbers each (query, bucket)'s top 150·quota
    by (score desc, doc_id asc) as `_r` and keeps the rerank's top quota per
    (query, bucket, tier = (_r-1) // 150). The tier cut is exact: a hit of
    tier t is among the top r ≤ quota of its bucket's pool, which holds all
    of tier t. A plan's first bucket is visited with the whole quota, so it
    is one tier, and over one bucket the window already ranks the hits;
    over several, `_settle` walks each query's buckets on the executors.
    Either way the collect is ≤ quota rows per query."""
    from .wand import Rerank, wand_score_batch

    cols = engine._rerank_cols
    ranked = (
        wand_score_batch(
            engine,
            {qid: qinfo[qid][0] for qid in quota},
            CANDIDATE_FACTOR * max(quota.values()),
            buckets,
            sources,
            instances,
            {
                qid: Rerank(qinfo[qid][1], get_min_ngrams(min_ngrams, len(qinfo[qid][1])), k)
                for qid, k in quota.items()
            },
        )
        # one exchange for both windows and the per-query settle
        .repartition("query_id")
        .select(*cols.pool_rank)
        .filter(cols.pool_cut)
        .select(*cols.rerank_rank)
        .filter(cols.rerank_cut)
    )
    if len(buckets) > 1:
        ranked = ranked.groupBy("query_id").applyInArrow(_settle, ranked.schema)
    return ranked


class RerankCols(NamedTuple):
    """rerank_plan's query-independent columns: a SearchEngine builds them
    once (each Column call is several py4j round trips)."""

    pool_rank: list[Column]
    pool_cut: Column
    rerank_rank: list[Column]
    rerank_cut: Column

    @classmethod
    def build(cls) -> RerankCols:
        wc = Window.partitionBy("query_id", "bucket").orderBy(
            F.desc("score"), F.asc("doc_id")
        )
        tier = F.when(F.col("bucket") > 0, F.floor((F.col("_r") - 1) / CANDIDATE_FACTOR))
        wf = Window.partitionBy("query_id", "bucket", tier.otherwise(0)).orderBy(
            F.desc("n_common"), F.desc("update_date"), F.desc("score"), F.asc("doc_id")
        )
        return cls(
            [F.col("*"), F.row_number().over(wc).alias("_r")],
            (F.col("_r") <= CANDIDATE_FACTOR * F.col("quota"))
            & (F.col("n_common") >= F.col("min2")),
            [
                *map(F.col, ("query_id", "quota", "bucket", "_r", *HIT_COLS)),
                F.row_number().over(wf).alias("rank"),
            ],
            F.col("rank") <= F.col("quota"),
        )


def _settle(table: pa.Table) -> pa.Table:
    """One query's survivors → its hits, `rank` renumbered in result order:
    in bucket order, the first `remaining` survivors of pool rank _r ≤
    150·remaining, in rerank order (n_common desc, update_date desc, then
    the pool order that _r numbers)."""

    def col(name: str) -> np.ndarray:
        return table.column(name).to_numpy()

    days = np.unique(col("update_date"), return_inverse=True)[1]
    order = np.lexsort((col("_r"), -days, -col("n_common"), col("bucket")))
    b, r = col("bucket")[order], col("_r")[order]
    starts = np.flatnonzero(np.r_[True, b[1:] != b[:-1]])
    left = table.column("quota")[0].as_py()
    keep: list[np.ndarray] = []
    for s, e in zip(starts, [*starts[1:], len(b)]):
        got = s + np.flatnonzero(r[s:e] <= CANDIDATE_FACTOR * left)[:left]
        keep.append(got)
        left -= len(got)
    kept = order[np.concatenate(keep)]
    i = table.schema.get_field_index("rank")
    return table.take(kept).set_column(
        i, table.schema.field(i), pa.array(np.arange(1, kept.size + 1, dtype=np.int32))
    )


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
        results[qid] = [BatchHit(qid, rank, *hit) for rank, hit in enumerate(rows, 1)]
    # an alias's rows carry its own query_id, so the column always names the
    # dict key it lives under (consumers that flatten results to a table
    # would otherwise misattribute alias hits to the representative)
    for qid, rep in alias_of.items():
        results[qid] = [BatchHit(qid, *r[1:]) for r in results[rep]]
    return results
