"""Incremental MERGE semantics + resume-from-checkpoint without recomputation."""
from __future__ import annotations

import glob
import os

import pytest
from pyspark.sql import functions as F

from similardocs_spark.fixtures import (
    END_DAYS_AGO,
    PINNED_TODAY,
    make_transcripts,
    oracle_docs,
    transcripts_df,
)
from similardocs_spark.index.build import IndexPaths, build_index, build_postings
from similardocs_spark.index.incremental import incremental_update
from similardocs_spark.oracle.refsearch import OracleDoc, OracleIndex, OracleSearch
from similardocs_spark.query.engine import SearchEngine
from tests.test_engine_golden import assert_hits_equal

QUERIES = ["zika dengue", "mortalidade infantil", "saude brasil brazil"]


@pytest.mark.spark
def test_incremental_merge_matches_oracle(spark, tmp_path):
    root = str(tmp_path / "idx")
    base = transcripts_df(spark, n_convs=60, seed=42)
    build_index(spark, base, root, seg_size=16)

    # delta: 8 updated convs (newer date, different text), 5 stale (older
    # date → skipped), 7 brand-new convs
    upd = (
        base.filter(F.col("conv_id") < "conv00000008")
        .withColumn("text", F.concat(F.lit("dengue zika atualizado "), "text"))
        .withColumn("ts", F.col("ts") + F.expr("INTERVAL 3000 DAYS"))
    )
    stale = base.filter(
        (F.col("conv_id") >= "conv00000008") & (F.col("conv_id") < "conv00000013")
    ).withColumn("ts", F.col("ts") - F.expr("INTERVAL 1000 DAYS"))
    new = (
        transcripts_df(spark, n_convs=7, seed=99)
        .withColumn("conv_id", F.concat(F.lit("nv"), "conv_id"))
    )
    delta = upd.unionByName(stale).unionByName(new)

    res = incremental_update(spark, IndexPaths(root), delta)
    assert res["updates"] == 8 and res["inserts"] == 7 and res["skips"] == 5

    # docID stability: updated convs keep their ids; inserts appended after max
    docs = spark.read.parquet(os.path.join(root, "docs"))
    base_ids = {
        r["conv_id"]: r["doc_id"]
        for r in docs.filter(~F.col("conv_id").startswith("nv")).collect()
    }
    new_ids = sorted(
        r["doc_id"] for r in docs.filter(F.col("conv_id").startswith("nv")).collect()
    )
    assert new_ids == list(range(60, 67))

    # oracle over the MERGED corpus (updates applied, stale skipped, news appended)
    def turns_of(df):
        rows = df.collect()
        by_conv = {}
        for r in rows:
            by_conv.setdefault(r["conv_id"], []).append(r)
        return {
            c: [t for t in sorted(v, key=lambda t: t["turn_idx"])] for c, v in by_conv.items()
        }

    base_t, upd_t, new_t = turns_of(base), turns_of(upd), turns_of(new)
    merged_docs = []
    for conv_id in sorted(base_t):
        src = upd_t.get(conv_id, base_t[conv_id])
        ud = max(t["ts"] for t in src).strftime("%Y%m%d")
        merged_docs.append(
            OracleDoc(
                doc_id=base_ids[conv_id], conv_id=conv_id,
                turn_texts=[t["text"] for t in src], db=None, instance=None,
                update_date=ud,
            )
        )
    for i, conv_id in enumerate(sorted(new_t)):
        src = new_t[conv_id]
        merged_docs.append(
            OracleDoc(
                doc_id=60 + i, conv_id=conv_id,
                turn_texts=[t["text"] for t in src], db=None, instance=None,
                update_date=max(t["ts"] for t in src).strftime("%Y%m%d"),
            )
        )
    oracle = OracleSearch(OracleIndex.build(merged_docs), PINNED_TODAY, END_DAYS_AGO)
    engine = SearchEngine(spark, IndexPaths(root), PINNED_TODAY, END_DAYS_AGO)
    for q in QUERIES:
        got = engine.search(q)
        exp = oracle.search(q)
        assert_hits_equal(got, exp, f"incremental {q}")


@pytest.mark.spark
def test_incremental_crash_repair(spark, tmp_path, monkeypatch):
    """A merge that dies between the staging write and the live commit leaves
    the live table's pre-image intact; resume_incremental redoes the commit
    from staging and converges to the uninterrupted result."""
    import similardocs_spark.index.incremental as I

    base = transcripts_df(spark, n_convs=40, seed=42)
    delta = (
        base.filter(F.col("conv_id") < "conv00000006")
        .withColumn("text", F.concat(F.lit("dengue zika atualizado "), "text"))
        .withColumn("ts", F.col("ts") + F.expr("INTERVAL 3000 DAYS"))
    ).unionByName(
        transcripts_df(spark, n_convs=4, seed=7).withColumn(
            "conv_id", F.concat(F.lit("nv"), "conv_id")
        )
    )

    root_a, root_b = str(tmp_path / "a"), str(tmp_path / "b")
    for root in (root_a, root_b):
        build_index(spark, base, root, seg_size=16)
    incremental_update(spark, IndexPaths(root_a), delta)  # uninterrupted twin

    def read_docs(root):
        return sorted(
            (r["doc_id"], r["conv_id"], r["update_date"], r["dl"])
            for r in spark.read.parquet(os.path.join(root, "docs"))
            .select("doc_id", "conv_id", "update_date", "dl")
            .collect()
        )

    pre_image = read_docs(root_b)
    monkeypatch.setattr(
        I, "_commit_staged",
        lambda *a, **k: (_ for _ in ()).throw(RuntimeError("simulated crash")),
    )
    with pytest.raises(RuntimeError, match="simulated crash"):
        incremental_update(spark, IndexPaths(root_b), delta)
    monkeypatch.undo()

    paths_b = IndexPaths(root_b)
    assert os.path.exists(paths_b.docs + ".staging")
    assert read_docs(root_b) == pre_image  # live table untouched by the crash

    rep = I.resume_incremental(spark, paths_b)
    assert rep["repaired_segs"] > 0
    assert not os.path.exists(paths_b.docs + ".staging")
    assert read_docs(root_b) == read_docs(root_a)

    # postings equality too (repair rebuilt the affected segments)
    def read_postings(root):
        return sorted(
            (r["seg"], r["term"], bytes(r["blob"]))
            for r in spark.read.parquet(os.path.join(root, "postings"))
            .select("seg", "term", "blob")
            .collect()
        )

    assert read_postings(root_b) == read_postings(root_a)
    assert I.resume_incremental(spark, paths_b) == {"repaired_segs": 0}  # no-op


@pytest.mark.spark
def test_optimize_rebuilds_identical_postings(spark, tmp_path):
    """S7 force-merge: optimize() after an incremental update produces
    postings identical to a fresh full rebuild, and search still matches."""
    from similardocs_spark.index.incremental import optimize

    base = transcripts_df(spark, n_convs=40, seed=42)
    delta = (
        base.filter(F.col("conv_id") < "conv00000005")
        .withColumn("text", F.concat(F.lit("zika atualizado "), "text"))
        .withColumn("ts", F.col("ts") + F.expr("INTERVAL 3000 DAYS"))
    )
    root = str(tmp_path / "opt")
    build_index(spark, base, root, seg_size=16)
    incremental_update(spark, IndexPaths(root), delta)

    def postings_of(root):
        return sorted(
            (r["seg"], r["term"], bytes(r["blob"]))
            for r in spark.read.parquet(os.path.join(root, "postings"))
            .select("seg", "term", "blob")
            .collect()
        )

    before = postings_of(root)
    n = optimize(spark, IndexPaths(root))
    assert n > 0
    assert postings_of(root) == before  # idempotent re-encode of live docs
    engine = SearchEngine(spark, IndexPaths(root), PINNED_TODAY, END_DAYS_AGO)
    assert engine.search("zika dengue")


@pytest.mark.spark
def test_resume_skips_done_segments(spark, tmp_path):
    """Interrupted build (only 1 of 3 batches committed) resumes without
    recomputing the committed segments, and the final index equals a fresh
    uninterrupted build."""
    root_a = str(tmp_path / "full")
    root_b = str(tmp_path / "resumed")
    tdf = transcripts_df(spark, n_convs=60, seed=42)

    build_index(spark, tdf, root_a, seg_size=16, seg_batches=3)

    # interrupted: docs phase + only the first postings batch
    paths_b = IndexPaths(root_b)
    build_index.__wrapped__ if hasattr(build_index, "__wrapped__") else None
    # run docs phase via build_index but stop postings after 1 batch:
    import similardocs_spark.index.build as B

    B.build_index(spark, tdf, root_b, seg_size=16, seg_batches=3)  # full docs...
    # simulate interruption: wipe postings + lineage, rebuild only 1 batch
    import shutil

    shutil.rmtree(paths_b.postings)
    shutil.rmtree(paths_b.lineage)
    B._log_lineage(spark, paths_b, [("docs", -1, 60, 0, "done")])
    B.build_postings(spark, paths_b, seg_size=16, seg_batches=3, max_batches=1)
    done_before = sorted(B._done_segs(spark, paths_b, "postings"))
    assert 0 < len(done_before) < 4

    # capture mtimes of committed seg dirs
    mtimes = {
        d: os.path.getmtime(d)
        for d in glob.glob(os.path.join(paths_b.postings, "seg=*"))
    }
    # resume: completes the remaining batches, does NOT touch done segs
    B.build_postings(spark, paths_b, seg_size=16, seg_batches=3, resume=True)
    B.build_terms(spark, paths_b)
    for d, t in mtimes.items():
        assert os.path.getmtime(d) == t, f"recomputed {d}"

    # content equality with the uninterrupted build
    cols = ["seg", "term", "df_seg", "blob", "block_last", "block_min_dlq"]
    a = sorted(
        (r["seg"], r["term"], r["df_seg"], bytes(r["blob"]))
        for r in spark.read.parquet(IndexPaths(root_a).postings).select(cols).collect()
    )
    b = sorted(
        (r["seg"], r["term"], r["df_seg"], bytes(r["blob"]))
        for r in spark.read.parquet(paths_b.postings).select(cols).collect()
    )
    assert a == b


@pytest.mark.spark
def test_resume_discards_uncommitted_staging(spark, tmp_path):
    """A crash DURING the staging write (no _SUCCESS marker) must not be
    'repaired' — committing partial staged segments would overwrite live
    segments with incomplete data. resume_incremental discards the staging
    dir and leaves the live table untouched."""
    import shutil

    import similardocs_spark.index.incremental as I

    root = str(tmp_path / "idx")
    build_index(spark, transcripts_df(spark, n_convs=30, seed=42), root, seg_size=16)
    paths = IndexPaths(root)

    def read_docs():
        return sorted(
            (r["doc_id"], r["conv_id"], r["update_date"])
            for r in spark.read.parquet(paths.docs)
            .select("doc_id", "conv_id", "update_date")
            .collect()
        )

    pre = read_docs()
    # fabricate a staging write that died mid-job: real seg dirs, neither
    # the Hadoop _SUCCESS marker nor ParquetIO's own commit marker
    from similardocs_spark.index.catalog import COMMIT_MARKER

    stage = paths.docs + ".staging"
    shutil.copytree(paths.docs, stage)
    os.remove(os.path.join(stage, "_SUCCESS"))
    marker = os.path.join(stage, COMMIT_MARKER)
    if os.path.exists(marker):
        os.remove(marker)
    # drop one seg dir to make it visibly partial
    seg_dirs = sorted(glob.glob(os.path.join(stage, "seg=*")))
    shutil.rmtree(seg_dirs[-1])

    rep = I.resume_incremental(spark, paths)
    assert rep == {"repaired_segs": 0, "discarded_incomplete_staging": 1}
    assert not os.path.exists(stage)
    assert read_docs() == pre
    # second call: clean no-op
    assert I.resume_incremental(spark, paths) == {"repaired_segs": 0}
