"""BM25 top-k query engine over the segmented index.

One plan per search, whatever the postings volume Σdf of the query terms: a
search is a batch of one (query/batch.py:rerank_plan), as search_batch scores
N queries. The per-segment kernel (query/wand.py) reads one segment's
postings for the query terms and the query's rerank tokens only, scores the
docs and counts each pool row's common rerank tokens on the executor; on an
index of up to util.KERNEL_TASK_WORK docs a search scores every segment in
one task, reading both inputs in place. The kernel's ≤ pool rows per segment
meet in one exchange on query_id, where a window cuts the global pool and a
second one reranks it. Nothing joins the docs: conv_id and update_date ride
through the kernel, and only explain=True reads `rerank_tokens`, for its own
hits. What a plan shares with the engine's other searches is built once: the
docs side per filter set (_bucket_docs) and the rerank's windows
(_rerank_cols), so a warm search's plan takes ~120 py4j calls.

Query lifecycle (reference SimDocsSearch.scala:122-347): text → word prep →
term weights (duplicate-prefix boosts) → MUST-clause score constants →
candidate pool 150·k by (score desc, docID asc) → overlap rerank vs adaptive
threshold → (n_common desc, update_date desc) → take k. split_time repeats
that per day bucket with a shrinking k: one plan scores the first bucket and
one more scores all later buckets at once (query/batch.py:ladder_hits).
"""
from __future__ import annotations

import threading
from dataclasses import dataclass
from datetime import date
from functools import cached_property

import numpy as np
from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import functions as F

from .. import bm25
from ..index.build import IndexPaths
from ..index.sortbuild import check_postings_format
from ..oracle.refsearch import (
    DEFAULT_MAX_DOCS,
    DEFAULT_MIN_NGRAMS,
    MAX_LOWER_LIMIT,
    days_ago_str,
    get_day_range,
)
from ..synonyms import SynonymDict, expanded_query_terms
from ..textnorm import query_rerank_tokens, uniform_text

# No package code reads this: every query takes the kernel, whatever its
# postings volume Σdf. It stays because the benchmark's `wand_auto_share`
# (the share of queries with Σdf ≥ this) imports it; at 0 that share is 1.
# It goes with the benchmark's next revision, like score_bucket.
WAND_AUTO_MIN_POSTINGS = 0

# filter sets whose _bucket_docs frame an engine keeps
BUCKET_DOCS_MEMO = 8

# a search hit; search_batch rows carry query_id and rank in front
HIT_COLS = ("doc_id", "conv_id", "score", "n_common", "update_date")
Hit = Row(*HIT_COLS)


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
        self._bucket_docs_memo: dict[tuple, DataFrame] = {}
        self._memo_lock = threading.Lock()
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
        # the doc columns a search reads: the scoring plan's and conv_id
        self._doc_stats = self._docs.select(
            "seg", "doc_id", "tfnorm", "update_date", "db", "instance", "conv_id"
        )
        self._postings = io.read(self.spark, self.paths.postings).withColumn(
            "seg", F.col("seg").cast("long")
        )
        check_postings_format(self._postings)
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
            # serving mode: the search columns stay in executor memory as
            # read, unshuffled (the scoring plan shuffles them by segment
            # anyway); tokens and rerank_tokens never enter it
            self._doc_stats = self._doc_stats.persist()
            # postings term-sorted in 1000-row column batches: each batch's
            # term min/max lets the scan skip it. Measured on the benchmark's
            # serve index (341k rows, 4 partitions): 0.157 s of executor CPU
            # per term filter at the default 10k-row batches, 0.021 s so
            from ..util import scoped_conf

            with scoped_conf(
                self.spark, {"spark.sql.inMemoryColumnarStorage.batchSize": "1000"}
            ):
                self._postings = self._postings.sortWithinPartitions("term").persist()

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
        buckets: list[tuple[str, str]],
        sources: set[str] | None,
        instances: set[str] | None,
    ) -> DataFrame:
        """The kernel's docs side: the doc stats of the span of `buckets`
        (_day_buckets), narrowed by the db/instance filters (all pushed to the
        docs scan), as (seg, doc_id, tfnorm, const, bucket, update_date int,
        conv_id). `bucket` is the index of the doc's range in `buckets`;
        update_date stays yyyyMMdd as an int. The frame depends on nothing
        but its filter set, so the last BUCKET_DOCS_MEMO of them are kept
        (unpersisted plans, not data): a serve loop's searches share one and
        skip the ~100 py4j calls of its `when` chains."""
        key = (
            tuple(buckets),
            None if sources is None else frozenset(sources),
            None if instances is None else frozenset(instances),
        )
        with self._memo_lock:
            docs = self._bucket_docs_memo.pop(key, None)
            if docs is None:
                docs = self._filtered_docs(buckets, sources, instances)
            self._bucket_docs_memo[key] = docs
            while len(self._bucket_docs_memo) > BUCKET_DOCS_MEMO:
                del self._bucket_docs_memo[next(iter(self._bucket_docs_memo))]
        return docs

    def _filtered_docs(
        self,
        buckets: list[tuple[str, str]],
        sources: set[str] | None,
        instances: set[str] | None,
    ) -> DataFrame:
        cond = F.col("update_date").between(buckets[-1][0], buckets[0][1])
        if sources is not None:
            cond = cond & F.col("db").isin(sorted(sources))
        if instances is not None:
            cond = cond & F.col("instance").isin(sorted(instances))
        bucket = F.lit(len(buckets) - 1)
        for i in range(len(buckets) - 2, -1, -1):
            bucket = F.when(F.col("update_date") >= buckets[i][0], i).otherwise(bucket)
        return self._doc_stats.filter(cond).select(
            "seg",
            "doc_id",
            "tfnorm",
            self._const_for(sources, instances).alias("const"),
            bucket.cast("int").alias("bucket"),
            F.col("update_date").cast("int").alias("update_date"),
            "conv_id",
        )

    @cached_property
    def _rerank_cols(self):
        """The rerank plan's query-independent windows, cuts and select list
        (query/batch.py:RerankCols), built once per engine."""
        from .batch import RerankCols

        return RerankCols.build()

    def score_bucket(
        self,
        w_idf: dict[str, float],
        from_str: str,
        to_str: str,
        pool: int,
        sources: set[str] | None,
        instances: set[str] | None,
    ) -> DataFrame:
        """One query's top-`pool` BM25 candidates (doc_id, score f32) within a
        date bucket, in pool order (score desc, doc_id asc): the kernel's
        candidate pool before the rerank, as a lazy plan. Searches take the
        rerank plan (query/batch.py), which cuts this pool per query inside
        it; this view of the pool alone stays for pool-level checks."""
        from .wand import wand_score_batch

        return (
            wand_score_batch(
                self, {"q": w_idf}, pool, [(from_str, to_str)], sources, instances
            )
            .select("doc_id", "score")
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(pool)
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

    def _day_buckets(
        self, lower: int, upper: int, split_time: bool
    ) -> list[tuple[str, str]]:
        """(from_str, to_str) date ranges of a search, newest first: the
        whole [lower, upper] range, or with split_time the reference's
        day-bucket ladder (SimDocsSearch.scala:185-211). Ladder buckets are
        adjacent and disjoint, so one plan can score several (query/batch.py)."""
        if not split_time:
            return [(days_ago_str(self.today, lower), days_ago_str(self.today, upper))]
        out, cur_day = [], self.end_days_ago
        while (rng := get_day_range(cur_day, lower, upper)) is not None:
            out.append((days_ago_str(self.today, rng[0]), days_ago_str(self.today, rng[1])))
            cur_day = rng[0] + 1
        return out

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

        from .batch import ladder_hits

        hits = ladder_hits(
            self, {"q": (w_idf, q_rerank)}, max_docs, min_ngrams, sources,
            instances, self._day_buckets(lower, upper, split_time),
        )["q"]
        if not explain or not hits:
            return hits
        tokens = {
            r["doc_id"]: list(r["rerank_tokens"])
            for r in self._docs.filter(F.col("doc_id").isin([h.doc_id for h in hits]))
            .select("doc_id", "rerank_tokens")
            .collect()
        }
        return [ExplainedHit(h, tokens[h.doc_id], q_rerank) for h in hits]


class ExplainedHit:
    """Hit + (original, similar, common) ngram triple (explain mode)."""

    __slots__ = (*HIT_COLS, "ngrams")

    def __init__(self, hit, similar: list[str], q_rerank: list[str]):
        for c in HIT_COLS:
            setattr(self, c, getattr(hit, c))
        sim_set = set(similar)
        common = [t for t in q_rerank if t in sim_set]
        self.ngrams = (list(q_rerank), similar, common)
