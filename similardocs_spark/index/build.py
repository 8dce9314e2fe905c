"""Distributed inverted-index build — segmented, compressed, checkpointed.

Dataflow (all DataFrame/Arrow; reference semantics cited per stage):

  transcripts (conv_id, turn_idx, role, text, tool, ts)
    → per-conversation doc assembly: turn texts sorted by turn_idx, each
      truncated to 10,000 chars (LuceneIndexAkka.scala:282-283), space-joined
      into ONE catenated searchable text (the `_indexed_` equivalent,
      LuceneIndexAkka.scala:295); rerank source = DISTINCT turn texts in
      first-occurrence order (getCommonNGrams docSet, SimDocsSearch.scala:513-518)
    → deterministic dense docID = global rank of conv_id (range partition +
      per-partition offsets; no single-partition window)
    → doc segment = docID // seg_size  ("Lucene segment" equivalent: the unit
      of DAAT scoring, checkpointing and skew defusal — a term's postings
      WITHIN a segment are bounded by seg_size, so the groupBy(seg, term)
      shuffle key structurally spreads hot terms across reducers)
    → tokenize (vectorized UDF) → explode → sort on (seg, term, docID) →
      one docID-sorted array per (seg, term), parquet DELTA_BINARY_PACKED
      (sortbuild.py); the rerank tokens get posting lists too, under the
      term prefix sortbuild.RERANK_NS
    → per-segment-batch Iceberg-style commits with lineage rows
      (rows/bytes/status) enabling resume without recomputation

Index layout under <root>/ (parquet; an Iceberg catalog would swap in behind
the same paths — the runtime jar is absent in this sandbox):
  docs/       doc_id, conv_id, seg, db, instance, update_date, dl, dlq,
              tfnorm, rerank_tokens              (repartitioned by seg)
  postings/   seg, term, df_seg, doc_ids        (sortbuild.POSTINGS_SCHEMA;
              index terms and RERANK_NS-prefixed rerank tokens;
              one partition per seg batch, sorted by term → parquet
              row-group min/max stats prune non-query terms at scan)
  terms/      term, df, idf                       (global term stats)
  stats/      n_docs, sum_dl, avgdl
  meta_stats/ field, value, df                    (db/instance keyword stats)
  lineage/    phase, seg, rows, bytes, status
"""
from __future__ import annotations

import os
import time
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .. import bm25
from ..functions.tokenize import tokenize_with_rerank as tokenize_both_udf
from ..util import local_df, scoped_conf

TRUNCATE_CHARS = 10_000
DEFAULT_SEG_SIZE = 1 << 20

# AQE coalesces post-shuffle partitions by BYTES; the build's doc-assembly
# shuffle feeds the CPU-per-byte-heavy tokenizer kernel, so at small corpus
# sizes byte-based coalescing collapses the tokenizer stage to a handful of
# cores (measured sf0.1 local[32]: staging write 3.1 s → 1.8 s with the
# floor). util._kernel_confs sets the same kind of floor for the scoring
# kernel; at production shuffle sizes every partition is far above the
# floor and the setting is inert.
_BUILD_CONFS = {"spark.sql.adaptive.coalescePartitions.minPartitionSize": "16k"}


@dataclass
class IndexPaths:
    root: str

    @property
    def docs(self) -> str:
        return os.path.join(self.root, "docs")

    @property
    def postings(self) -> str:
        return os.path.join(self.root, "postings")

    @property
    def terms(self) -> str:
        return os.path.join(self.root, "terms")

    @property
    def stats(self) -> str:
        return os.path.join(self.root, "stats")

    @property
    def meta_stats(self) -> str:
        return os.path.join(self.root, "meta_stats")

    @property
    def lineage(self) -> str:
        return os.path.join(self.root, "lineage")


def quantize_dl_col(dl):
    """JVM-native quantize_dl (bm25.quantize_dl round-trip) as a Column —
    exact bit-length via length(bin(v)), down-round by masking the low
    shift bits (v − v mod 2^shift; 2^shift is exact in double far past any
    doc length). Replaces a pandas-UDF hop with codegen arithmetic (guide
    §4.1); parity with quantize_dl pinned by test_r07_optimizations."""
    v = dl - F.lit(bm25._NUM_FREE_VALUES)
    shift = F.greatest(F.length(F.bin(v)) - F.lit(4), F.lit(0))
    p2 = F.pow(F.lit(2.0), shift).cast("long")
    quant = v - F.pmod(v, p2)
    return (
        F.when(dl < bm25._NUM_FREE_VALUES, dl)
        .otherwise(F.lit(bm25._NUM_FREE_VALUES) + quant)
        .cast("long")
    )


def assemble_docs(transcripts: DataFrame, docs_meta: DataFrame | None = None) -> DataFrame:
    """transcripts → one row per conversation with catenated text, rerank
    source, and categorical metadata. No docID yet."""
    per_turn = transcripts.select(
        "conv_id",
        "turn_idx",
        F.substring("text", 1, TRUNCATE_CHARS).alias("turn_text"),
        "ts",
    )
    docs = per_turn.groupBy("conv_id").agg(
        F.array_sort(F.collect_list(F.struct("turn_idx", "turn_text"))).alias("turns"),
        F.max("ts").alias("max_ts"),
        F.count("*").alias("n_turns"),
    )
    docs = docs.select(
        "conv_id",
        F.concat_ws(" ", F.transform("turns", lambda x: x.turn_text)).alias("text"),
        F.concat_ws(
            " ", F.array_distinct(F.transform("turns", lambda x: x.turn_text))
        ).alias("rerank_source"),
        "max_ts",
        "n_turns",
    )
    if docs_meta is not None:
        docs = docs.join(F.broadcast(docs_meta), "conv_id", "left")
    else:
        docs = docs.withColumn("db", F.lit(None).cast("string")).withColumn(
            "instance", F.lit(None).cast("string")
        )
        docs = docs.withColumn("update_date", F.date_format("max_ts", "yyyyMMdd"))
    return docs


def assign_doc_ids(docs: DataFrame, partitions: int | None = None) -> DataFrame:
    """Deterministic dense docID = global rank of conv_id, computed scalably:
    range-repartition on conv_id, local sort, per-partition row counts →
    cumulative offsets (driver; one tiny collect), offset + local row_number.
    The result is independent of partition boundary placement, so it is
    reproducible across cluster sizes."""
    n_part = partitions or docs.sparkSession.sparkContext.defaultParallelism
    ranged = docs.repartitionByRange(n_part, "conv_id").withColumn(
        "_pid", F.spark_partition_id()
    )
    # localCheckpoint (eager), not persist: range sampling is nondeterministic
    # across re-executions, so the snapshot the counts were collected from
    # must be the one scored below — and checkpoint blocks are released by
    # the ContextCleaner when this DataFrame goes out of scope (a bare
    # .persist() here leaked cache for the rest of the build)
    ranged = ranged.localCheckpoint()
    counts = {r["_pid"]: r["cnt"] for r in ranged.groupBy("_pid").agg(F.count("*").alias("cnt")).collect()}
    offsets, acc = {}, 0
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]
    offsets_df = F.broadcast(
        local_df(
            docs.sparkSession,
            [(pid, off) for pid, off in offsets.items()], "_pid int, _offset long",
        )
    )
    w = Window.partitionBy("_pid").orderBy("conv_id")
    out = (
        ranged.join(offsets_df, "_pid")
        .withColumn("doc_id", F.row_number().over(w) - 1 + F.col("_offset"))
        .drop("_pid", "_offset")
    )
    return out


def tokenize_docs(docs: DataFrame) -> DataFrame:
    # ONE fused Python eval (tokens + rerank tokens in a single crossing)
    # and JVM-native length quantization — the round-6 form ran three
    # ArrowEvalPython nodes per doc row (guide §4.1)
    return (
        docs.withColumn(
            "_tk", tokenize_both_udf(F.col("text"), F.col("rerank_source"))
        )
        .withColumn("tokens", F.col("_tk.tokens"))
        .withColumn("rr_tokens", F.col("_tk.rr_tokens"))
        .drop("_tk")
        .withColumn("dl", F.size("tokens").cast("long"))
        .withColumn("dlq", quantize_dl_col(F.col("dl")))
    )


def build_index(
    spark: SparkSession,
    transcripts: DataFrame,
    root: str,
    docs_meta: DataFrame | None = None,
    seg_size: int = DEFAULT_SEG_SIZE,
    seg_batches: int = 1,
    resume: bool = False,
    doc_id_expr: str | None = None,
    lineage_counts: bool = True,
) -> IndexPaths:
    """Full index build. With seg_batches > 1, postings are committed in
    per-segment-range batches with lineage rows; `resume=True` skips batches
    already marked done (checkpoint/restart without recomputation).

    doc_id_expr: optional SQL expression producing a TRUSTED dense unique
    docID from the assembled doc row (e.g. for inputs whose conv_id embeds a
    dense integer) — skips the generic rank-assignment passes (sampling +
    per-partition offsets). lineage_counts=False skips the per-batch postings
    read-back counting job (rows are logged as -1)."""
    with scoped_conf(spark, _BUILD_CONFS):
        return _build_index_impl(
            spark, transcripts, root, docs_meta=docs_meta, seg_size=seg_size,
            seg_batches=seg_batches, resume=resume, doc_id_expr=doc_id_expr,
            lineage_counts=lineage_counts,
        )


def _build_index_impl(
    spark: SparkSession,
    transcripts: DataFrame,
    root: str,
    docs_meta: DataFrame | None = None,
    seg_size: int = DEFAULT_SEG_SIZE,
    seg_batches: int = 1,
    resume: bool = False,
    doc_id_expr: str | None = None,
    lineage_counts: bool = True,
) -> IndexPaths:
    paths = IndexPaths(root)
    os.makedirs(root, exist_ok=True)
    from .catalog import get_io

    io = get_io(spark, root)
    # every index self-describes its commit substrate (parquet vs iceberg);
    # the lineage journal itself stays parquet — it is the build's own
    # crash-repair record and must be readable before any catalog exists
    _log_lineage(spark, paths, [("substrate", -1, 0, 0, io.mode)])
    timing = os.environ.get("SIMDOCS_BUILD_TIMING")

    def _t(label: str, t0: float) -> float:
        if timing:
            print(f"[build] {label}: {time.time() - t0:.1f}s", flush=True)
        return time.time()

    t0 = time.time()
    done_docs = resume and _phase_done(spark, paths, "docs")
    if not done_docs:
        # STREAMING build: the tokenized docs are never cached as JVM objects
        # (caching 10^7+ token strings is itself an allocation/GC bottleneck
        # that anti-scales with thread count). The docs parquet write IS the
        # materialization; every later phase reads back only the columns it
        # needs (Catalyst column pruning keeps those scans near-free).
        base = tokenize_docs(assemble_docs(transcripts, docs_meta))
        if doc_id_expr is not None:
            docs = base.withColumn("doc_id", F.expr(doc_id_expr).cast("long"))
        else:
            # generic dense-rank ids: stage the tokenized docs to parquet
            # first so the range-partitioner's sampling pass reads columnar
            # data instead of re-running the tokenizer chain
            staging = os.path.join(root, "_staging_docs")
            base.write.mode("overwrite").parquet(staging)
            t0 = _t("staging write", t0)
            docs = assign_doc_ids(spark.read.parquet(staging))
        docs = docs.withColumn("seg", (F.col("doc_id") / F.lit(seg_size)).cast("long"))
        out_docs = (
            docs.select(
                "doc_id", "conv_id", "seg", "db", "instance", "update_date",
                "dl", "dlq", F.col("rr_tokens").alias("rerank_tokens"),
                "tokens",
            )
            # NO pre-write shuffle: measured A/B showed repartition(seg,
            # doc_id) costs a full shuffle of the token-heavy rows and buys
            # nothing — hash(seg, doc_id) scatters rows so each task still
            # writes one file per seg it touches (identical file count), and
            # the task-local sort below already gives in-file doc_id order.
            # (repartitionByRange would be worse still: its sampling pass
            # re-runs the whole tokenizer chain.)
            .sortWithinPartitions("seg", "doc_id")
        )
        io.overwrite_partitioned(out_docs, paths.docs)
        t0 = _t("docs write", t0)
        if doc_id_expr is None:
            import shutil

            shutil.rmtree(os.path.join(root, "_staging_docs"), ignore_errors=True)

        docs_w = io.read(spark, paths.docs)
        stats = docs_w.agg(
            F.count("*").alias("n_docs"), F.sum("dl").alias("sum_dl")
        ).collect()[0]
        t0 = _t("stats agg", t0)
        n_docs, sum_dl = stats["n_docs"], stats["sum_dl"] or 0
        avgdl = float(sum_dl) / max(1, n_docs)
        io.overwrite(
            local_df(
                spark,
                [(n_docs, int(sum_dl), avgdl, seg_size)],
                "n_docs long, sum_dl long, avgdl double, seg_size long",
            ),
            paths.stats,
        )
        t0 = _t("stats write", t0)
        _log_lineage(spark, paths, [("docs", -1, n_docs, _dir_bytes(paths.docs), "done")])
        t0 = _t("stats lineage", t0)

        # meta keyword stats (column-pruned scan); skipped without metadata
        if docs_meta is not None:
            meta = (
                docs_w.filter(F.col("db").isNotNull())
                .groupBy(F.lit("db").alias("field"), F.col("db").alias("value"))
                .agg(F.count("*").alias("df"))
                .unionByName(
                    docs_w.filter(F.col("instance").isNotNull())
                    .groupBy(
                        F.lit("instance").alias("field"), F.col("instance").alias("value")
                    )
                    .agg(F.count("*").alias("df"))
                )
            )
            io.overwrite(meta.coalesce(1), paths.meta_stats)
        else:
            io.overwrite(
                local_df(spark, [], "field string, value string, df long"),
                paths.meta_stats,
            )
        t0 = _t("meta stats", t0)

    # generic-path doc_ids are the dense rank 0..n_docs-1 by construction,
    # so the segment list is arithmetic — skip build_postings' distinct-seg
    # discovery job. doc_id_expr ids are contract-dense but not provably
    # 0-based; that path (and standalone/resume calls) keeps the discovery.
    segs_hint = None
    if not done_docs and doc_id_expr is None:
        segs_hint = list(range((n_docs + seg_size - 1) // seg_size))
    build_postings(
        spark, paths, seg_size=seg_size, seg_batches=seg_batches, resume=resume,
        lineage_counts=lineage_counts, segs=segs_hint,
    )
    t0 = _t("postings", t0)
    build_terms(spark, paths)
    _t("terms", t0)
    return paths


def build_postings(
    spark: SparkSession,
    paths: IndexPaths,
    seg_size: int = DEFAULT_SEG_SIZE,
    seg_batches: int = 1,
    resume: bool = False,
    max_batches: int | None = None,
    lineage_counts: bool = True,
    segs: list[int] | None = None,
) -> None:
    """Postings per (seg, term): the docID-sorted ids as one array column
    (sortbuild.py owns the format). Committed in seg batches (resume skips
    done ones).
    `segs` (trusted caller knowledge, e.g. dense-rank builds) skips the
    distinct-seg discovery job."""
    from .catalog import get_io_for_index

    io = get_io_for_index(spark, paths)
    docs = io.read(spark, paths.docs).withColumn("seg", F.col("seg").cast("long"))
    if segs is None:
        segs = sorted(
            int(r["seg"]) for r in docs.select("seg").distinct().collect()
        )
    else:
        segs = sorted(int(s) for s in segs)
    batches = [segs[i::seg_batches] for i in range(seg_batches)]
    done: set[int] = set()
    if resume:
        done = _done_segs(spark, paths, "postings")

    processed = 0
    for i, batch in enumerate(batches):
        if max_batches is not None and processed >= max_batches:
            break
        todo = [s for s in batch if s not in done]
        if not todo:
            continue
        d = docs.filter(F.col("seg").isin([int(s) for s in batch]))
        # sort-based build (see sortbuild.py): the hash-agg/collect_list
        # alternative anti-scales under thread-count growth (JVM agg garbage).
        # The write touches ONLY this batch's seg dirs — an idempotent
        # per-segment commit (a crash between write and lineage log is
        # repaired by redoing the batch; no duplicate rows possible)
        from .sortbuild import build_postings_sorted, write_postings

        write_postings(io, build_postings_sorted(d), paths.postings)
        rows_by_seg = {}
        if lineage_counts:
            rows_by_seg = {
                r["seg"]: r["cnt"]
                for r in io.read(spark, paths.postings)
                .filter(F.col("seg").isin([int(s) for s in batch]))
                .groupBy("seg")
                .agg(F.count("*").alias("cnt"))
                .collect()
            }
        _log_lineage(
            spark,
            paths,
            [
                (
                    "postings",
                    int(s),
                    int(rows_by_seg.get(s, -1)),
                    _dir_bytes(os.path.join(paths.postings, f"seg={int(s)}")),
                    "done",
                )
                for s in batch
            ],
        )
        processed += 1


def build_terms(spark: SparkSession, paths: IndexPaths) -> None:
    """Global term stats: df = Σ per-segment df (two-phase agg: the partial
    per-(seg,term) counts already exist → map-side combine into global).
    Rerank postings are not index terms and stay out."""
    from .catalog import get_io_for_index
    from .sortbuild import RERANK_NS

    io = get_io_for_index(spark, paths)
    n_docs = io.read(spark, paths.stats).collect()[0]["n_docs"]
    postings = io.read(spark, paths.postings).filter(~F.col("term").startswith(RERANK_NS))
    terms = postings.groupBy("term").agg(F.sum("df_seg").alias("df"))
    terms = terms.withColumn(
        "idf",
        F.log1p((F.lit(float(n_docs)) - F.col("df") + 0.5) / (F.col("df") + 0.5)).cast("float"),
    )
    io.overwrite(terms, paths.terms)


# ------------------------------------------------------------------- lineage


def _log_lineage(spark: SparkSession, paths: IndexPaths, rows: list[tuple]) -> None:
    df = local_df(
        spark, rows, "phase string, seg long, rows long, bytes long, status string"
    )
    mode = "append" if os.path.exists(paths.lineage) else "overwrite"
    df.write.mode(mode).parquet(paths.lineage)


def _phase_done(spark: SparkSession, paths: IndexPaths, phase: str) -> bool:
    if not os.path.exists(paths.lineage):
        return False
    df = spark.read.parquet(paths.lineage)
    return df.filter((F.col("phase") == phase) & (F.col("status") == "done")).count() > 0


def _done_segs(spark: SparkSession, paths: IndexPaths, phase: str) -> set[int]:
    if not os.path.exists(paths.lineage):
        return set()
    df = spark.read.parquet(paths.lineage)
    return {
        r["seg"]
        for r in df.filter((F.col("phase") == phase) & (F.col("status") == "done"))
        .select("seg")
        .collect()
    }


def _dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(dirpath, f))
    return total
