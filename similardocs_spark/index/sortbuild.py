"""Sort-based posting construction and the one postings format.

The hash-aggregation path (groupBy(seg, term) + collect_list) materializes
every posting as JVM objects inside the aggregation hash map; at 32 local
threads the allocation/GC pressure makes it ANTI-scale. This module replaces
it with the classic sort-based index build (what Lucene's segment flush and
every serious indexer does):

    explode(tokens) → repartitionByRange(seg, term)      [one shuffle]
      → sortWithinPartitions(seg, term, doc_id)          [spillable sort]
      → mapInPandas stream-encoder                       [Arrow, zero JVM agg]

The encoder walks each partition's sorted run once, slicing contiguous
(seg, term) groups into numpy arrays and emitting one posting row per group,
carrying partial groups across Arrow batch boundaries. Range partitioning
guarantees a (seg, term) group never spans partitions; the sort spills to
disk instead of growing a hash map, so executor memory stays flat regardless
of posting-list length.

Postings format (POSTINGS_SCHEMA): one row per (seg, term), the docID-sorted
global ids as a parquet-native array column. Parquet's v2 writer with
dictionary encoding off stores them DELTA_BINARY_PACKED — delta + bit-packed
frame-of-reference blocks (_WRITER_OPTIONS; Spark's default v1 writer would
dictionary-encode them).

The same table holds the rerank postings: one row per (seg, RERANK_NS +
token) for each token of the docs' `rerank_tokens`. The analyzer only emits
[a-z0-9_-], so no index term carries the prefix, and a search reads the lists
of its query terms and of its rerank tokens in one postings scan. The terms
table and every df leave these rows out (build.build_terms).
"""
from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

POSTINGS_SCHEMA = "seg long, term string, df_seg long, doc_ids array<long>"
# prefix of a rerank posting's term; sorts after every analyzer token
RERANK_NS = "~"
_COLUMNS = ["seg", "term", "df_seg", "doc_ids"]

_WRITER_OPTIONS = {
    "parquet.writer.version": "v2",
    "parquet.enable.dictionary": "false",
}


def _encode_groups(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Stream sorted (seg, term, doc_id) rows into one posting row per
    (seg, term) group."""
    carry_key: tuple[int, str] | None = None
    carry_ids: list[np.ndarray] = []
    out: list[tuple] = []

    def flush(seg: int, term: str) -> None:
        ids = np.concatenate(carry_ids) if len(carry_ids) > 1 else carry_ids[0]
        out.append((seg, term, len(ids), ids))

    for pdf in batches:
        if not len(pdf):
            continue
        seg = pdf["seg"].to_numpy(dtype=np.int64)
        ids = pdf["doc_id"].to_numpy(dtype=np.int64)
        term = pdf["term"].to_numpy(dtype=object)
        # boundaries of contiguous (seg, term) runs
        change = np.empty(len(pdf), dtype=bool)
        change[0] = True
        change[1:] = (seg[1:] != seg[:-1]) | (term[1:] != term[:-1])
        starts = np.flatnonzero(change)
        ends = np.append(starts[1:], len(pdf))
        for s, e in zip(starts, ends):
            key = (int(seg[s]), term[s])
            if carry_key is not None and key != carry_key:
                flush(*carry_key)
                carry_ids = []
            carry_key = key
            carry_ids.append(ids[s:e])
        if out:
            yield pd.DataFrame(out, columns=_COLUMNS)
            out = []
    if carry_key is not None:
        flush(*carry_key)
    if out:
        yield pd.DataFrame(out, columns=_COLUMNS)


def build_postings_sorted(docs: DataFrame, partitions: int | None = None) -> DataFrame:
    """docs(seg, doc_id, tokens, rerank_tokens) → postings DataFrame
    (POSTINGS_SCHEMA) of the index terms and the namespaced rerank tokens."""
    spark = docs.sparkSession
    n_part = partitions or spark.sparkContext.defaultParallelism
    terms = F.concat(
        "tokens", F.transform("rerank_tokens", lambda t: F.concat(F.lit(RERANK_NS), t))
    )
    exploded = docs.select("seg", "doc_id", F.explode(terms).alias("term"))
    sorted_run = exploded.repartitionByRange(n_part, "seg", "term").sortWithinPartitions(
        "seg", "term", "doc_id"
    )
    return sorted_run.mapInPandas(_encode_groups, schema=POSTINGS_SCHEMA)


def write_postings(io, encoded: DataFrame, path: str) -> None:
    """Overwrite ONLY the seg partitions present in `encoded`
    (build_postings_sorted output, already range-partitioned on (seg, term)).
    Re-range-partitioning here would add a shuffle AND a sampling pass that
    re-runs the whole explode→sort→encode pipeline (measured ~2× on the
    postings phase); the task-local sort keeps each file term-sorted, so
    row-group min/max stats prune non-query terms at scan."""
    io.overwrite_dynamic(
        encoded.sortWithinPartitions("seg", "term"), path, options=_WRITER_OPTIONS
    )


def check_postings_format(postings: DataFrame) -> None:
    """Fail loudly on an index whose postings predate the current format:
    an encoded `blob` column instead of doc_ids (read from the schema), or
    no rerank postings (one probe for a RERANK_NS row; a second, for any
    row, runs only when the first finds none)."""
    if "doc_ids" not in postings.columns:
        missing = "lack doc_ids"
    elif not postings.filter(F.col("term").startswith(RERANK_NS)).head(1) and postings.head(1):
        missing = "hold no rerank postings"
    else:
        return
    raise ValueError(
        f"the index's postings {missing}: the index predates the current postings "
        "format; run index.incremental.optimize() to rewrite every segment's "
        "postings from the docs table"
    )
