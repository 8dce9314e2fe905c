"""Structured-Streaming front door for incremental index maintenance.

The reference is batch + a polling background updater (no watermarks/stateful
streaming anywhere — SURVEY.md §2.9); its incremental loop re-reads dumps and
upserts changed docs. The Spark-native equivalent: a file-source stream over a
transcripts landing directory, `Trigger.AvailableNow` (drain-what's-there then
stop — the scheduled-batch semantics the reference's poller approximates),
each micro-batch fed through the same MERGE path as offline incremental
updates (index/incremental.py). Checkpointing makes redelivery exactly-once
at the batch level; the MERGE's update_date gate makes replays idempotent.
"""
from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import types as T

from ..index.build import IndexPaths
from ..index.incremental import incremental_update
from . import drain

TRANSCRIPT_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType()),
        T.StructField("turn_idx", T.IntegerType()),
        T.StructField("role", T.StringType()),
        T.StructField("text", T.StringType()),
        T.StructField("tool", T.StringType()),
        T.StructField("ts", T.TimestampType()),
    ]
)


def run_available_now(
    spark: SparkSession,
    landing_dir: str,
    index_root: str,
    checkpoint_dir: str,
) -> list[dict]:
    """Drain the landing directory into the index; returns per-batch merge
    counters. Each micro-batch is one MERGE (bounded seg rewrites)."""
    results: list[dict] = []
    paths = IndexPaths(index_root)

    def apply_batch(batch_df, batch_id: int) -> None:
        res = incremental_update(spark, paths, batch_df)
        res["batch_id"] = batch_id
        results.append(res)

    drain(spark, TRANSCRIPT_SCHEMA, landing_dir, checkpoint_dir, apply_batch)
    return results
