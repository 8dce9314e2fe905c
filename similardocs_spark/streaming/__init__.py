"""Streaming ingest flows over the persistent operator states.

`drain` is the one AvailableNow file-source loop. `gated_ingest` is the
one exactly-once driver both dedup streams (`dedup_stream`, `ann_stream`)
run their state through.

Exactly-once tick protocol: Structured Streaming redelivers an
uncommitted micro-batch with the SAME batch_id, and every write is a
dynamic overwrite of the partition `ingest_batch=<salt>_b<batch_id>` — a
replay REPLACES its own partitions with recomputed-identical content
instead of appending next to them. Replays are deterministic because
(a) state reads exclude the in-flight batch's own partition and (b) the
existence gate drops arrivals whose ids the state already holds, so docs
adjudicated by a crashed-but-state-committed run are skipped. The corpus
partition is written BEFORE the state partition: at every crash point the
replay either recomputes the identical accepted set (state not yet
written) or finds the corpus partition already present (state written ⇒
corpus was written first) — no duplicate rows, no lost docs, including
when `compact_every` folds the state between crash and replay (see
dedup_state.py's crash/replay matrix).

Counter cost: ONE scan of the arriving batch per tick — arrived/replayed
are one aggregate over the gate's join; accepted/rejected counts read the
tick's localCheckpointed outputs.
"""
from __future__ import annotations

import uuid
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..index.catalog import get_io
from ..operators.dedup_state import BATCH_COL


def incarnation_salt(spark: SparkSession, checkpoint_dir: str) -> str:
    """Per-incarnation partition-label salt, persisted INSIDE the
    checkpoint directory as `_incarnation_id`.

    Batch ids restart at 0 in a fresh or deleted-and-recreated checkpoint,
    so a label derived from them (or from the checkpoint path) would make
    the dynamic overwrite REPLACE an older incarnation's accepted
    partitions. A uuid minted on first run and reused on restart is stable
    across restarts of the SAME checkpoint and distinct across
    incarnations. The marker goes through the Hadoop FileSystem of the
    checkpoint path, the one `checkpointLocation` itself uses, so a URI
    checkpoint (file://, hdfs://, s3a://) keeps its salt wherever the
    driver restarts. It is minted as a tmp file renamed into place, so a
    crash mid-mint never leaves a half-written salt; a rename that loses a
    race (the target exists) reads the winner's salt. An empty marker
    counts as absent."""
    hadoop = spark._jvm.org.apache.hadoop.fs  # type: ignore[union-attr]
    ckpt = hadoop.Path(checkpoint_dir)
    fs = ckpt.getFileSystem(spark._jsc.hadoopConfiguration())
    marker = hadoop.Path(ckpt, "_incarnation_id")
    salt = _read_salt(spark, fs, marker)
    if salt:
        return salt
    fs.delete(marker, False)
    salt = uuid.uuid4().hex[:8]
    tmp = hadoop.Path(ckpt, f"_incarnation_id.{salt}.tmp")
    out = fs.create(tmp, True)
    try:
        out.write(salt.encode())
    finally:
        out.close()
    if not fs.rename(tmp, marker):
        fs.delete(tmp, False)
        salt = _read_salt(spark, fs, marker)
    return salt


def _read_salt(spark: SparkSession, fs, marker) -> str:
    if not fs.exists(marker):
        return ""
    jio = spark._jvm.java.io  # type: ignore[union-attr]
    reader = jio.BufferedReader(jio.InputStreamReader(fs.open(marker), "UTF-8"))
    try:
        return (reader.readLine() or "").strip()
    finally:
        reader.close()


def drain(
    spark: SparkSession,
    schema: T.StructType,
    landing_dir: str,
    checkpoint_dir: str,
    apply_batch: Callable[[DataFrame, int], None],
) -> None:
    """Feed every non-empty micro-batch of the parquet files in
    `landing_dir` to `apply_batch(df, batch_id)`, then stop
    (`Trigger.AvailableNow`: drain what is there). The checkpoint makes
    redelivery exactly-once at the batch level."""

    def non_empty(batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.isEmpty():
            apply_batch(batch_df, batch_id)

    (
        spark.readStream.schema(schema)
        .parquet(landing_dir)
        .writeStream.foreachBatch(non_empty)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


def gated_ingest(
    spark: SparkSession,
    state,
    schema: T.StructType,
    landing_dir: str,
    corpus_dir: str,
    checkpoint_dir: str,
    compact_every: int | None,
    compact: Callable[[], None],
    **adjudicate_options,
) -> list[dict]:
    """Drain `landing_dir` through an opened dedup state (a
    `BandedDedupState` or `VectorDedupState`); per batch: gate the
    arrivals on the state's `ids`, adjudicate, overwrite the batch's
    corpus partition, then commit its state partition (the order the
    module docstring argues). `compact()` runs after every
    `compact_every` batches. Returns per-batch counters (arrived /
    replayed / accepted / rejected / pairs)."""
    io = get_io(spark, corpus_dir)
    results: list[dict] = []
    # labels are salted per incarnation: both a fresh checkpoint dir AND a
    # deleted-and-recreated one restart batch ids at 0, and an unsalted
    # label would dynamic-overwrite an older incarnation's partition
    salt = incarnation_salt(spark, checkpoint_dir)

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        label = f"{salt}_b{batch_id}"
        # existence gate, batch-shaped: only the batch's own ids can match,
        # so semi-join the state down to that subset FIRST (state streamed
        # map-side against the broadcast batch ids — no state shuffle),
        # then flag arrivals with one small broadcast join. Eager: the flags
        # are a snapshot of the state taken before this tick commits to it
        ids = state.ids(exclude=label)
        key = ids.columns[0]
        seen = ids.join(F.broadcast(batch_df.select(key)), key, "left_semi")
        flagged = batch_df.join(
            F.broadcast(seen.withColumn("_seen", F.lit(True))), key, "left"
        ).localCheckpoint(eager=True)
        counts = flagged.agg(
            F.count("*").alias("arrived"),
            F.count(F.when(F.col("_seen").isNull(), 1)).alias("fresh"),
        ).collect()[0]
        fresh = flagged.filter(F.col("_seen").isNull()).drop("_seen")

        accepted, pairs, state_rows = state.adjudicate(
            fresh, label, **adjudicate_options
        )
        io.overwrite_dynamic(
            accepted.withColumn(BATCH_COL, F.lit(label)),
            corpus_dir,
            col=BATCH_COL,
        )
        state.commit_batch(state_rows, label)
        n_accepted = accepted.count()
        results.append(
            {
                "batch_id": batch_id,
                "n_arrived": counts["arrived"],
                "n_replayed": counts["arrived"] - counts["fresh"],
                "n_accepted": n_accepted,
                "n_rejected": counts["fresh"] - n_accepted,
                "n_pairs": pairs.count(),
            }
        )
        if compact_every and len(results) % compact_every == 0:
            compact()

    drain(spark, schema, landing_dir, checkpoint_dir, apply_batch)
    return results
