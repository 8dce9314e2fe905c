"""Continuous dedup ingestion: a landing-directory stream of candidate
documents drained through the persistent banded signature state
(`operators/dedup_state.BandedDedupState`).

Output is two tables, BOTH partitioned by `ingest_batch` and BOTH written
as per-batch dynamic partition overwrites through the storage-substrate
shim:

  corpus_dir — accepted documents (what a training pipeline reads);
  state_dir  — BandedDedupState root: signatures + pre-banded rows +
               materialized bucket counts (what new batches are checked
               against; corpus texts are never re-shingled, and a tick's
               shuffle is O(batch), never O(corpus) — the batch's touched
               buckets are broadcast and the state is streamed map-side).

The tick runs through `streaming.gated_ingest`, the exactly-once driver
shared with `ann_stream` (the `streaming` package docstring holds the
crash/replay argument).
"""
from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import types as T

from ..operators.dedup import MAX_BUCKET, N_BANDS, N_HASHES
from ..operators.dedup_state import BandedDedupState
from . import gated_ingest

DOC_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("source", T.StringType()),
    ]
)


def run_dedup_ingest(
    spark: SparkSession,
    landing_dir: str,
    corpus_dir: str,
    state_dir: str,
    checkpoint_dir: str,
    min_jaccard: float | None = None,
    n_hashes: int = N_HASHES,
    n_bands: int = N_BANDS,
    max_bucket: int = MAX_BUCKET,
    compact_state_every: int | None = None,
) -> list[dict]:
    """Drain the landing directory; per batch: adjudicate against the
    banded state, overwrite the batch's corpus + state partitions.
    `compact_state_every=k` folds the state's per-tick partitions into one
    after every k batches (bounds small-file growth across ticks; safe —
    the state survives a crash at any point of the fold). Returns
    per-batch counters (arrived / replayed / accepted / rejected)."""
    state = BandedDedupState(spark, state_dir, n_hashes, n_bands)
    return gated_ingest(
        spark,
        state,
        DOC_SCHEMA,
        landing_dir,
        corpus_dir,
        checkpoint_dir,
        compact_state_every,
        state.compact,
        min_jaccard=min_jaccard,
        max_bucket=max_bucket,
    )
