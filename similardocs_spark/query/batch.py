"""Batched similarity search: N queries in ONE DataFrame plan.

The reference serves one query per servlet request; on Spark the q/s story is
amortization — scoring 1,000 queries costs barely more than one, because the
postings scan, decode, joins and shuffles are shared:

  postings (term-pruned scan) cogroup doc stats (bucket/categorical filters
  pushed to the parquet scan), per (segment × query-slice)
    → batched per-segment kernel (query/wand.py): each posting list decoded
      ONCE, float32-spec scoring, ≤ pool rows per (segment, query)
    → per-query candidate pool via ranked window (150·k)
    → overlap rerank vs per-query token arrays → per-query top-k window

All queries in a batch share the filter settings (sources/instances/last_days/
split_time), like a profile-updater sweep does; the bucket ladder loops
driver-side with per-query remaining quotas, exactly mirroring the reference
recursion (SimDocsSearch.scala:185-211) per query.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..oracle.refsearch import (
    CANDIDATE_FACTOR,
    DEFAULT_MAX_DOCS,
    DEFAULT_MIN_NGRAMS,
    get_min_ngrams,
)


def _batch_bucket(
    engine,
    qinfo: dict[str, tuple[dict[str, float], list[str]]],
    remaining: dict[str, int],
    min_ngrams: int,
    sources: set[str] | None,
    instances: set[str] | None,
    from_str: str,
    to_str: str,
) -> DataFrame:
    spark = engine.spark
    active = {q: qinfo[q] for q, k in remaining.items() if k > 0 and q in qinfo}
    meta_rows = [
        (
            qid,
            rerank,
            get_min_ngrams(min_ngrams, len(rerank)),
            remaining[qid],
            CANDIDATE_FACTOR * remaining[qid],
        )
        for qid, (_, rerank) in active.items()
    ]
    # Arrow LocalRelations: materializing a broadcast of a plain
    # createDataFrame(list) runs a full Python-task stage per table
    # (~1.2 s each measured) — local_df makes them free
    from ..util import local_df

    qmeta = F.broadcast(
        local_df(
            spark,
            meta_rows,
            "query_id string, q_rerank array<string>, min2 int, k int, pool int",
        )
    )
    # batched per-segment kernel: shared decode, numpy scoring, ≤ pool rows
    # per (segment, query) enter the plan — no posting×query row explosion
    from .wand import wand_score_batch

    scored = wand_score_batch(
        engine,
        {qid: w_idf for qid, (w_idf, _) in active.items()},
        {qid: CANDIDATE_FACTOR * remaining[qid] for qid in active},
        from_str,
        to_str,
        sources,
        instances,
    )
    docs_fields = engine._docs.select(
        "doc_id", "conv_id", "update_date", "rerank_tokens"
    )
    wc = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
    wf = Window.partitionBy("query_id").orderBy(
        F.desc("n_common"), F.desc("update_date"), F.desc("score"), F.asc("doc_id")
    )
    # PRE-CUT plan: global pool cut before the rerank join, with a pool-only
    # broadcast (q_rerank arrays must not ride along: they'd be replicated
    # onto every pre-cut candidate row).
    #
    # Negative result, measured (round 4, PROFILE_FUSED_AB_8X2.json +
    # PROFILE_4X4_FUSED.json): a FUSED variant that joined docs first and
    # did pool-cut + rank in ONE query_id exchange (one fewer shuffle
    # stage) LOSES at both 4x4 (11.3 s vs 8.0 s warm) and 8x2 (13.4 s vs
    # 6.9 s best-of-3 interleaved): without the pre-cut, per-SEGMENT pools
    # (n_segs× rows, 283 MB vs 65+1.5 MB here) ride through the rerank
    # join and the exchange. The pool cut's data reduction is worth more
    # than a stage — keep cuts as early as possible.
    qpool = F.broadcast(
        local_df(
            spark,
            [(qid, CANDIDATE_FACTOR * remaining[qid]) for qid in active],
            "query_id string, pool int",
        )
    )
    cands = (
        scored.withColumn("_r", F.row_number().over(wc))
        .join(qpool, "query_id")
        .filter(F.col("_r") <= F.col("pool"))
        .select("query_id", "doc_id", "score")
    )
    # candidate side is bounded (≤ |queries|·pool id/score rows — ~17 MB for
    # 1152 queries); the docs side must NOT be shuffled (measured 284 MB of
    # rerank_tokens arrays through a sort-merge join per batch call) and the
    # 100-TB-safe orientation is docs-stationary. Two docs-stationary shapes:
    # - cache=True (serving): docs are cached pre-partitioned on doc_id →
    #   shuffled-hash join: only the candidate side shuffles (to the cached
    #   partitioning) and each task hash-builds its own candidate slice.
    #   Broadcasting instead builds the FULL candidate hash relation once
    #   per executor JVM (~4.5 s each at 8 executors, measured) — broadcast
    #   cost scales with executor count, per-task hash builds don't.
    # - cache=False (ad hoc): broadcast the candidates; the docs scan stays
    #   wherever the source partitions are.
    # q_rerank/min2/k attach AFTER the join, once per surviving row.
    if engine.cache:
        joined = cands.hint("shuffle_hash").join(docs_fields, "doc_id")
    else:
        joined = F.broadcast(cands).join(docs_fields, "doc_id")
    enriched = (
        joined.join(qmeta, "query_id")
        .withColumn(
            "n_common", F.size(F.array_intersect("rerank_tokens", "q_rerank"))
        )
        .filter(F.col("n_common") >= F.col("min2"))
    )
    return (
        enriched.withColumn("rank", F.row_number().over(wf))
        .filter(F.col("rank") <= F.col("k"))
        .select("query_id", "rank", "doc_id", "conv_id", "score", "n_common", "update_date")
    )


def _alias_rows(rep_rows: list, qid: str) -> list:
    """Copy a canonical representative's result rows for an alias query,
    substituting the alias's own query_id — so the query_id COLUMN always
    names the dict key it lives under (consumers that flatten results to a
    table would otherwise silently misattribute alias hits to the rep)."""
    from pyspark.sql import Row

    return [Row(**{**r.asDict(), "query_id": qid}) for r in rep_rows]


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
    """→ {query_id: [rows ordered by rank]}; per-query results identical to
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

    from ..util import kernel_exec_conf

    # one bucket, or the day ladder shared by all queries with per-query
    # remaining quotas
    remaining = {qid: max_docs for qid in qinfo}
    with kernel_exec_conf(engine.spark):
        for from_str, to_str in engine._day_buckets(lower, upper, split_time):
            if not any(k > 0 for k in remaining.values()):
                break
            rows = _batch_bucket(
                engine, qinfo, remaining, min_ngrams, sources, instances, from_str, to_str
            ).collect()
            for r in sorted(rows, key=lambda r: (r["query_id"], r["rank"])):
                results[r["query_id"]].append(r)
                remaining[r["query_id"]] -= 1
    for qid, rep in alias_of.items():
        results[qid] = _alias_rows(results[rep], qid)
    return results
