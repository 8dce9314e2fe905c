"""BM25 top-k query engine over the segmented index.

One scoring plan, whatever the postings volume Σdf of the query terms: a
search is scored by the batched per-segment kernel (query/wand.py) as a
batch of one, as search_batch scores N queries. Per-executor work is one
segment's postings for the query terms only, score accumulation never leaves
the executor, and only ≤ pool rows per segment cross the wire before the
global top-pool cut (orderBy+limit → TakeOrderedAndProject, no global sort).

Query lifecycle (reference SimDocsSearch.scala:122-347): text → word prep →
term weights (duplicate-prefix boosts) → per-day-bucket retrieval (optional
ladder recursion with shrinking k) → MUST-clause score constants → candidate
pool 150·k by (score desc, docID asc) → overlap rerank vs adaptive threshold →
(n_common desc, update_date desc) → take k.
"""
from __future__ import annotations

from dataclasses import dataclass
from datetime import date

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import bm25
from ..index.build import IndexPaths
from ..oracle.refsearch import (
    CANDIDATE_FACTOR,
    DEFAULT_MAX_DOCS,
    DEFAULT_MIN_NGRAMS,
    MAX_LOWER_LIMIT,
    days_ago_str,
    get_day_range,
    get_min_ngrams,
)
from ..synonyms import SynonymDict, expanded_query_terms
from ..textnorm import query_rerank_tokens, uniform_text

# No package code reads this: every query takes the kernel, whatever its
# postings volume Σdf. It stays because the benchmark's `wand_auto_share`
# (the share of queries with Σdf ≥ this) imports it; at 0 that share is 1.
WAND_AUTO_MIN_POSTINGS = 0


@dataclass
class SearchEngine:
    """Loaded index handle + pinned clock (the reference derives its date
    anchor from the Solr server's lastModified at startup; we pin it —
    SimDocsSearch.scala:52-58)."""

    spark: SparkSession
    paths: IndexPaths
    today: date
    end_days_ago: int = 7
    synonyms: SynonymDict | None = None
    cache: bool = False  # persist doc stats in executor memory (serving mode)
    preload_terms_max: int = 2_000_000  # term dict ≤ this many rows → preload
    # byte-aware guard: estimated on-disk size of the terms table above which
    # the driver-side preload is skipped regardless of row count (driver heap
    # protection — parquet bytes are a conservative proxy for dict memory)
    preload_terms_max_bytes: int = 256 * 1024 * 1024

    def __post_init__(self) -> None:
        # all index reads go through the substrate the index was COMMITTED
        # with (recorded in its lineage journal) — on an Iceberg deployment
        # the index lives as catalog tables, not raw parquet paths
        from ..index.catalog import get_io_for_index

        io = get_io_for_index(self.spark, self.paths)
        self._io = io
        row = io.read(self.spark, self.paths.stats).collect()[0]
        self.n_docs: int = row["n_docs"]
        self.avgdl: float = row["avgdl"]
        self.seg_size: int = row["seg_size"]
        self.meta_df: dict[tuple[str, str], int] = {
            (r["field"], r["value"]): r["df"]
            for r in io.read(self.spark, self.paths.meta_stats).collect()
        }
        # tfnorm derived at query time from LIVE avgdl (survives incremental
        # updates; Lucene likewise computes avgdl from index stats per search)
        self._docs = io.read(self.spark, self.paths.docs).withColumn(
            "seg", F.col("seg").cast("long")
        ).withColumn(
            "tfnorm",
            (
                F.lit(1.0)
                / (
                    F.lit(1.0)
                    + F.lit(bm25.K1)
                    * (
                        F.lit(1.0 - bm25.B)
                        + F.lit(bm25.B) * F.col("dlq") / F.lit(self.avgdl)
                    )
                )
            ).cast("float"),
        )
        self._postings = io.read(self.spark, self.paths.postings).withColumn(
            "seg", F.col("seg").cast("long")
        )
        self._terms = io.read(self.spark, self.paths.terms)
        self._term_df: dict[str, int] | None = None
        if (
            self._terms_bytes_estimate() <= self.preload_terms_max_bytes
            and self._terms.count() <= self.preload_terms_max
        ):
            # small term dictionary → one collect at init kills a Spark job
            # per query (prefix-6 tokens bound the dictionary hard: ≤ ~37^6).
            # Beyond either guard the engine runs WITHOUT the preload:
            # _prepare_all falls back to one term-pruned read of the terms
            # table per prepare.
            self._term_df = {
                r["term"]: r["df"] for r in self._terms.collect()
            }
        if self.cache:
            # serving mode: cache docs PRE-PARTITIONED on doc_id so candidate
            # joins (batch rerank enrichment) reuse the cached partitioning —
            # only the bounded candidate side shuffles; the docs side never
            # moves and, unlike a broadcast build, no per-executor hash
            # relation of the full candidate set is built (measured: the
            # broadcast variant cost ~4.5 s per executor JVM at 8 executors)
            n_part = int(
                self.spark.conf.get("spark.sql.shuffle.partitions", "64")
            )
            self._docs = self._docs.repartition(n_part, "doc_id").persist()
            self._postings = self._postings.persist()

    def _terms_bytes_estimate(self) -> int:
        """On-disk byte size of the terms table (cheap driver-side walk for
        the parquet substrate; 0 = unknown → the row-count guard decides).
        Collecting a dict whose parquet footprint is hundreds of MB would
        multiply into driver-heap GBs — the byte guard catches that before
        the count() ever materializes the rows."""
        import os

        path = self.paths.terms
        if not os.path.isdir(path):
            return 0
        total = 0
        for dirpath, _, files in os.walk(path):
            for f in files:
                try:
                    total += os.path.getsize(os.path.join(dirpath, f))
                except OSError:
                    pass
        return total

    # ------------------------------------------------------------ query prep

    def _prepare_all(
        self, queries: dict[str, str]
    ) -> dict[str, tuple[dict[str, float], list[str]]]:
        """prepare() of every query with ONE term-df lookup for the union of
        their terms; queries whose normalized text is empty are left out."""
        analyzed = {}
        for qid, text in queries.items():
            words = uniform_text(text)
            if words:
                text2 = " ".join(words)
                analyzed[qid] = (
                    expanded_query_terms(text2, self.synonyms),
                    query_rerank_tokens(text2),
                )
        if not analyzed:
            return {}
        terms = {t for weights, _ in analyzed.values() for t in weights}
        if self._term_df is not None:
            dfs = {t: self._term_df[t] for t in terms if t in self._term_df}
        else:
            from ..util import filter_terms

            dfs = {
                r["term"]: r["df"] for r in filter_terms(self._terms, terms).collect()
            }
        return {
            qid: (
                {
                    t: float(np.float32(np.float32(w) * bm25.idf(dfs[t], self.n_docs)))
                    for t, w in weights.items()
                    if t in dfs
                },
                rerank,
            )
            for qid, (weights, rerank) in analyzed.items()
        }

    def prepare(self, text: str) -> tuple[dict[str, float], list[str]] | None:
        """→ (term → float32 weight·idf, query rerank tokens) or None if the
        normalized query is empty."""
        return self._prepare_all({"q": text}).get("q")

    def _const_for(self, sources: set[str] | None, instances: set[str] | None):
        """MUST-clause constant score pieces: date range always +1.0; keyword
        filters add a per-value constant → returned as a Column expression."""
        const = F.lit(float(bm25.DATE_RANGE_CONST)).cast("double")
        for fld, values, col in (
            ("db", sources, "db"),
            ("instance", instances, "instance"),
        ):
            if values is not None:
                mapping = F.lit(0.0)
                for v in sorted(values):
                    df = self.meta_df.get((fld, v), 0)
                    c = float(bm25.keyword_clause_score(df, self.n_docs)) if df else 0.0
                    mapping = F.when(F.col(col) == v, F.lit(c)).otherwise(mapping)
                const = const + mapping.cast("double")
        return const

    # -------------------------------------------------------- bucket scoring

    def _bucket_docs(
        self,
        from_str: str,
        to_str: str,
        sources: set[str] | None,
        instances: set[str] | None,
    ) -> DataFrame:
        """Doc stats of the date bucket, narrowed by the db/instance filters
        (all pushed to the docs parquet scan)."""
        docs = self._docs.filter(F.col("update_date").between(from_str, to_str))
        if sources is not None:
            docs = docs.filter(F.col("db").isin(sorted(sources)))
        if instances is not None:
            docs = docs.filter(F.col("instance").isin(sorted(instances)))
        return docs

    def _kernel_cut(
        self,
        w_idf: dict[str, float],
        from_str: str,
        to_str: str,
        pool: int,
        sources: set[str] | None,
        instances: set[str] | None,
    ) -> DataFrame:
        """The kernel run as a batch of one, cut to the top-`pool` by
        (score desc, doc_id asc): the plan score_bucket collects."""
        from .wand import wand_score_batch

        return (
            wand_score_batch(
                self, {"q": w_idf}, {"q": pool}, from_str, to_str, sources, instances
            )
            .select("doc_id", "score")
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(pool)
        )

    def score_bucket(
        self,
        w_idf: dict[str, float],
        from_str: str,
        to_str: str,
        pool: int,
        sources: set[str] | None,
        instances: set[str] | None,
    ) -> DataFrame:
        """Top-`pool` candidates (doc_id, score f32) within a date bucket.
        The kernel must run under its execution confs, so the cut is
        collected inside the scope and the rerank plan starts from its rows."""
        from ..util import kernel_exec_conf, local_df

        with kernel_exec_conf(self.spark):
            rows = self._kernel_cut(
                w_idf, from_str, to_str, pool, sources, instances
            ).collect()
        return local_df(
            self.spark, [(r["doc_id"], r["score"]) for r in rows], "doc_id long, score float"
        )

    # ------------------------------------------------------------ one bucket

    def _bucket_hits(
        self,
        w_idf: dict[str, float],
        q_rerank: list[str],
        min_ngrams: int,
        max_docs: int,
        sources: set[str] | None,
        instances: set[str] | None,
        from_str: str,
        to_str: str,
        explain: bool = False,
    ) -> DataFrame:
        min2 = get_min_ngrams(min_ngrams, len(q_rerank))
        pool = CANDIDATE_FACTOR * max_docs
        cands = self.score_bucket(w_idf, from_str, to_str, pool, sources, instances)
        enriched = (
            F.broadcast(cands)
            .join(
                self._docs.select("doc_id", "conv_id", "update_date", "rerank_tokens"),
                "doc_id",
            )
            .withColumn(
                "n_common",
                F.size(
                    F.array_intersect(
                        F.col("rerank_tokens"),
                        F.array(*[F.lit(t) for t in q_rerank]),
                    )
                ),
            )
            .filter(F.col("n_common") >= min2)
        )
        cols = ["doc_id", "conv_id", "score", "n_common", "update_date"]
        if explain:
            cols.append("rerank_tokens")
        return (
            enriched.orderBy(
                F.desc("n_common"), F.desc("update_date"), F.desc("score"), F.asc("doc_id")
            )
            .limit(max_docs)
            .select(*cols)
        )

    # ------------------------------------------------------------ entrypoint

    def _day_bounds(self, last_days: int | None) -> tuple[int, int]:
        """(lower, upper) days-ago bounds of a search or batch: `last_days`
        back (default MAX_LOWER_LIMIT) to the engine's end_days_ago. Raises
        ValueError when `last_days` ends before end_days_ago, which would
        leave the bucket ladder an inverted range."""
        lower = last_days if last_days else MAX_LOWER_LIMIT
        if lower < self.end_days_ago:
            raise ValueError(
                f"last_days={last_days} is below end_days_ago={self.end_days_ago}"
            )
        return lower, self.end_days_ago

    def _day_buckets(self, lower: int, upper: int, split_time: bool):
        """(from_str, to_str) date ranges a search visits in order: the whole
        [lower, upper] range, or with split_time the reference's day-bucket
        ladder (SimDocsSearch.scala:185-211). Callers stop once filled."""
        if not split_time:
            yield days_ago_str(self.today, lower), days_ago_str(self.today, upper)
            return
        cur_day = self.end_days_ago
        while (rng := get_day_range(cur_day, lower, upper)) is not None:
            begin, end = rng
            yield days_ago_str(self.today, begin), days_ago_str(self.today, end)
            cur_day = begin + 1

    def search_batch(self, queries: dict[str, str], **kwargs) -> dict[str, list]:
        """N queries in one DataFrame plan — see query/batch.py."""
        from .batch import search_batch

        return search_batch(self, queries, **kwargs)

    def search_batch_mixed(
        self, queries: dict[str, str], per_query: dict[str, dict], **shared
    ) -> dict[str, list]:
        """Batch with per-query filter overrides (grouped into one plan per
        distinct filter set) — see query/batch.py."""
        from .batch import search_batch_mixed

        return search_batch_mixed(self, queries, per_query, **shared)

    def search(
        self,
        text: str,
        max_docs: int = DEFAULT_MAX_DOCS,
        min_ngrams: int = DEFAULT_MIN_NGRAMS,
        sources: set[str] | None = None,
        instances: set[str] | None = None,
        last_days: int | None = None,
        split_time: bool = False,
        explain: bool = False,
        parse_syntax: bool = False,
    ) -> list:
        """Full reference search; returns collected rows (driver-side result,
        like the reference servlet). Each row: doc_id, conv_id, score,
        n_common, update_date; with explain=True each result also carries
        `.ngrams` = (original, similar, common) token lists (the reference's
        `explain` servlet parameter — SimDocsSearch.scala:98-106).

        parse_syntax=True first runs query/parse.sanitize_query (the Lucene
        QueryParser edge: paren strip, boolean-marker drop, field:value →
        db/instance filters — SimDocsSearch.scala:395-403); explicit
        sources/instances arguments take precedence over parsed ones."""
        lower, upper = self._day_bounds(last_days)
        if parse_syntax:
            from .parse import sanitize_query

            text, p_sources, p_instances = sanitize_query(text)
            sources = sources if sources is not None else p_sources
            instances = instances if instances is not None else p_instances
        prep = self.prepare(text)
        if prep is None:
            return []
        w_idf, q_rerank = prep
        if not w_idf:
            return []

        hits: list = []
        remaining = max_docs
        for from_str, to_str in self._day_buckets(lower, upper, split_time):
            if remaining <= 0:
                break
            got = self._bucket_hits(
                w_idf, q_rerank, min_ngrams, remaining, sources, instances,
                from_str, to_str, explain,
            ).collect()
            hits.extend(_maybe_explain(got, q_rerank, explain))
            remaining -= len(got)
        return hits


class ExplainedHit:
    """Hit + (original, similar, common) ngram triple (explain mode)."""

    __slots__ = ("doc_id", "conv_id", "score", "n_common", "update_date", "ngrams")

    def __init__(self, row, q_rerank: list[str]):
        self.doc_id = row["doc_id"]
        self.conv_id = row["conv_id"]
        self.score = row["score"]
        self.n_common = row["n_common"]
        self.update_date = row["update_date"]
        similar = list(row["rerank_tokens"])
        sim_set = set(similar)
        common = [t for t in q_rerank if t in sim_set]
        self.ngrams = (list(q_rerank), similar, common)


def _maybe_explain(rows: list, q_rerank: list[str], explain: bool) -> list:
    if not explain:
        return rows
    return [ExplainedHit(r, q_rerank) for r in rows]
