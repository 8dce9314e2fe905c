"""Continuous EMBEDDING ingestion with near-duplicate gating: the vector
edition of `dedup_stream`, draining (vec_id, embedding) rows through the
persistent LSH state (`operators/ann_state.VectorDedupState`) with the
same driver, `streaming.gated_ingest`. `reband_bits_fn(n_state_rows)`
(e.g. `ann.lsh_bits_for`) lets each compaction re-size the bucket space
as the corpus grows — the maintenance dial ANN_TICK_SCALING.json
measures.
"""
from __future__ import annotations

from typing import Callable

from pyspark.sql import SparkSession
from pyspark.sql import types as T

from ..operators.ann_state import VectorDedupState
from . import gated_ingest

VEC_SCHEMA = T.StructType(
    [
        T.StructField("vec_id", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.FloatType())),
    ]
)


def run_embedding_ingest(
    spark: SparkSession,
    landing_dir: str,
    corpus_dir: str,
    state_dir: str,
    checkpoint_dir: str,
    dim: int,
    threshold: float = 0.9,
    bits: int | None = None,
    tables: int | None = None,
    seed: int | None = None,
    max_bucket: int = 2000,
    compact_state_every: int | None = None,
    reband_bits_fn: Callable[[int], int] | None = None,
) -> list[dict]:
    """Drain the landing directory; per batch: adjudicate against the LSH
    state, overwrite the batch's corpus + state partitions. Returns
    per-batch counters (arrived / replayed / accepted / rejected /
    pairs)."""
    state = VectorDedupState(
        spark, state_dir, dim=dim, bits=bits, tables=tables, seed=seed
    )

    def compact() -> None:
        rb = None
        if reband_bits_fn is not None:
            rb = reband_bits_fn(state.read_state().count())
        state.compact(reband_bits=rb)

    return gated_ingest(
        spark,
        state,
        VEC_SCHEMA,
        landing_dir,
        corpus_dir,
        checkpoint_dir,
        compact_state_every,
        compact,
        threshold=threshold,
        max_bucket=max_bucket,
    )
