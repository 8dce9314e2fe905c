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


def _postings_rows(spark, root):
    """Every postings row as (seg, term, df_seg, doc_ids), sorted."""
    return sorted(
        (r["seg"], r["term"], r["df_seg"], list(r["doc_ids"]))
        for r in spark.read.parquet(os.path.join(root, "postings"))
        .select("seg", "term", "df_seg", "doc_ids")
        .collect()
    )


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


def _crash_base_delta(spark):
    """A 40-conversation base and a delta that updates 6 of them and
    inserts 4."""
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
    return base, delta


@pytest.mark.spark
def test_incremental_crash_repair(spark, tmp_path, monkeypatch):
    """A merge that dies between the staging write and the live commit leaves
    the live table's pre-image intact; resume_incremental redoes the commit
    from staging and converges to the uninterrupted result."""
    import similardocs_spark.index.incremental as I

    base, delta = _crash_base_delta(spark)

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
    assert _postings_rows(spark, root_b) == _postings_rows(spark, root_a)
    assert I.resume_incremental(spark, paths_b) == {"repaired_segs": 0}  # no-op


# the writes of `incremental._commit_staged`, in order, and the ParquetIO
# call each one makes
COMMIT_WRITES = [
    ("docs", "overwrite_dynamic"),
    ("postings", "overwrite_dynamic"),
    ("stats", "overwrite"),
    ("terms", "overwrite"),
    ("meta_stats", "overwrite"),
    ("staging_drop", "drop"),
]
# (id, index into COMMIT_WRITES of the write that crashes, what that write
# deleted before the crash: nothing, the whole table (an overwrite clears
# the path before its job runs) or the segments it replaces (a dynamic
# overwrite clears those partitions at job commit). The postings write
# carries the rerank postings too, so a crash inside it loses the affected
# segments' index-term and rerank lists alike.)
COMMIT_CRASHES = [(w, at, None) for at, (w, _) in enumerate(COMMIT_WRITES)] + [
    ("stats_after_delete", 2, "table"),
    ("postings_after_delete", 1, "segs"),
]


class CommitCrash(Exception):
    """An injected crash inside `incremental._commit_staged`."""


def _index_state(spark, root):
    """What an index answers from: the docs, postings, stats, terms and
    meta_stats rows (sorted) and the search hits for QUERIES."""
    tables = {
        name: sorted(
            (tuple(r) for r in spark.read.parquet(os.path.join(root, name)).collect()),
            key=repr,
        )
        for name in ("docs", "postings", "stats", "terms", "meta_stats")
    }
    engine = SearchEngine(spark, IndexPaths(root), PINNED_TODAY, END_DAYS_AGO)
    hits = {q: [tuple(r) for r in engine.search(q)] for q in QUERIES}
    return tables, hits


@pytest.fixture(scope="module")
def commit_twin(spark, tmp_path_factory):
    """A built base index, the crash delta, and the state an uninterrupted
    update of the base with it leaves."""
    import shutil

    root = tmp_path_factory.mktemp("commit_twin")
    base, delta = _crash_base_delta(spark)
    build_index(spark, base, str(root / "base"), seg_size=16)
    shutil.copytree(root / "base", root / "twin")
    incremental_update(spark, IndexPaths(str(root / "twin")), delta)
    return str(root / "base"), delta, _index_state(spark, str(root / "twin"))


@pytest.mark.spark
@pytest.mark.parametrize("at,wipe", [c[1:] for c in COMMIT_CRASHES], ids=[c[0] for c in COMMIT_CRASHES])
def test_commit_crash_matrix(spark, tmp_path, monkeypatch, commit_twin, at, wipe):
    """A crash at each write of the incremental commit in turn (instead of
    that write, or inside it once it deleted what it replaces):
    resume_incremental converges to the same tables and the same search
    hits as the uninterrupted update."""
    import shutil

    import similardocs_spark.index.incremental as I
    from similardocs_spark.index.catalog import ParquetIO

    base, delta, want = commit_twin
    root = str(tmp_path / "idx")
    shutil.copytree(base, root)
    inside, done = [], []
    real_commit = I._commit_staged

    def commit(*args, **kwargs):
        inside.append(True)
        try:
            return real_commit(*args, **kwargs)
        finally:
            inside.clear()

    def counted(method):
        real = getattr(ParquetIO, method)

        def write(self, *args, **kwargs):
            if inside:
                if len(done) == at:
                    if wipe == "table":
                        shutil.rmtree(args[1], ignore_errors=True)
                    elif wipe == "segs":
                        for r in args[0].select("seg").distinct().collect():
                            shutil.rmtree(
                                os.path.join(args[1], f"seg={r['seg']}"), ignore_errors=True
                            )
                    raise CommitCrash(COMMIT_WRITES[at][0])
                done.append(method)
            return real(self, *args, **kwargs)

        return write

    monkeypatch.setattr(I, "_commit_staged", commit)
    for method in {m for _, m in COMMIT_WRITES}:
        monkeypatch.setattr(ParquetIO, method, counted(method))
    with pytest.raises(CommitCrash):
        incremental_update(spark, IndexPaths(root), delta)
    monkeypatch.undo()
    assert done == [m for _, m in COMMIT_WRITES[:at]]

    assert I.resume_incremental(spark, IndexPaths(root))["repaired_segs"] > 0
    assert not os.path.exists(os.path.join(root, "docs.staging"))
    assert _index_state(spark, root) == want
    assert I.resume_incremental(spark, IndexPaths(root)) == {"repaired_segs": 0}


@pytest.mark.spark
def test_stats_swap_crash_rolls_forward(spark, tmp_path, monkeypatch, commit_twin, swap_crash):
    """A crash inside the staged stats swap, after the live stats/ moved
    aside and before the staged row moved in: resume_incremental rolls the
    swap forward before it reads seg_size, then converges like the
    uninterrupted update."""
    import shutil

    import similardocs_spark.index.incremental as I

    base, delta, want = commit_twin
    root = str(tmp_path / "idx")
    shutil.copytree(base, root)
    paths = IndexPaths(root)
    steps = swap_crash.inject(monkeypatch, paths.stats, 1)
    with pytest.raises(swap_crash):
        incremental_update(spark, paths, delta)
    monkeypatch.undo()
    assert steps == [("rename", paths.stats)] and not os.path.exists(paths.stats)

    assert I.resume_incremental(spark, paths)["repaired_segs"] > 0
    assert _index_state(spark, root) == want


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

    before = _postings_rows(spark, root)
    n = optimize(spark, IndexPaths(root))
    assert n > 0
    assert _postings_rows(spark, root) == before  # idempotent rewrite of live docs
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
    assert _postings_rows(spark, root_b) == _postings_rows(spark, root_a)


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


@pytest.mark.spark
def test_legacy_postings_fail_loudly_until_optimize(spark, tmp_path):
    """An index whose postings predate the doc_ids format (an encoded `blob`
    column instead) must not be opened, incrementally updated or repaired:
    each raises ValueError naming optimize. optimize() rewrites every segment's
    postings, after which search() matches the oracle again."""
    from similardocs_spark.fixtures import docs_meta_for
    from similardocs_spark.index.incremental import optimize, resume_incremental

    n_convs, seed = 40, 42
    turns = make_transcripts(n_convs, seed=seed)
    meta = docs_meta_for(turns)
    meta_df = spark.createDataFrame(
        [(cid, m["db"], m["instance"], m["update_date"]) for cid, m in meta.items()],
        "conv_id string, db string, instance string, update_date string",
    )
    root = str(tmp_path / "legacy")
    paths = build_index(
        spark, transcripts_df(spark, n_convs=n_convs, seed=seed), root,
        docs_meta=meta_df, seg_size=16,
    )
    legacy = [
        (seg, term, df_seg, bytes([0, 1, 2, 3]))
        for seg, term, df_seg, _ in _postings_rows(spark, root)
    ]
    (
        spark.createDataFrame(
            legacy, "seg long, term string, df_seg long, blob binary"
        )
        .write.partitionBy("seg")
        .mode("overwrite")
        .parquet(paths.postings)
    )

    with pytest.raises(ValueError, match="optimize"):
        SearchEngine(spark, paths, PINNED_TODAY, END_DAYS_AGO)
    delta = transcripts_df(spark, n_convs=3, seed=7).withColumn(
        "conv_id", F.concat(F.lit("nv"), "conv_id")
    )
    with pytest.raises(ValueError, match="optimize"):
        incremental_update(spark, paths, delta)
    with pytest.raises(ValueError, match="optimize"):
        resume_incremental(spark, paths)

    optimize(spark, paths)
    engine = SearchEngine(spark, paths, PINNED_TODAY, END_DAYS_AGO)
    oracle = OracleSearch(
        OracleIndex.build(oracle_docs(turns)), PINNED_TODAY, END_DAYS_AGO
    )
    for q in QUERIES:
        assert_hits_equal(engine.search(q), oracle.search(q), f"after optimize {q}")


@pytest.mark.spark
def test_missing_rerank_postings_fail_loudly_until_optimize(spark, tmp_path):
    """An index whose postings hold the index terms but no rerank postings
    (written before them) must not be opened or incrementally updated: each
    raises ValueError naming optimize. optimize() writes the rerank postings,
    after which search() matches the oracle again."""
    from similardocs_spark.index.incremental import optimize
    from similardocs_spark.index.sortbuild import RERANK_NS

    n_convs, seed = 40, 42
    turns = make_transcripts(n_convs, seed=seed)
    root = str(tmp_path / "no_rerank")
    paths = build_index(
        spark, transcripts_df(spark, n_convs=n_convs, seed=seed), root, seg_size=16
    )
    rows = _postings_rows(spark, root)
    assert any(term.startswith(RERANK_NS) for _, term, _, _ in rows)
    (
        spark.createDataFrame(
            [r for r in rows if not r[1].startswith(RERANK_NS)],
            "seg long, term string, df_seg long, doc_ids array<long>",
        )
        .write.partitionBy("seg")
        .mode("overwrite")
        .parquet(paths.postings)
    )

    with pytest.raises(ValueError, match="optimize"):
        SearchEngine(spark, paths, PINNED_TODAY, END_DAYS_AGO)
    delta = transcripts_df(spark, n_convs=3, seed=7).withColumn(
        "conv_id", F.concat(F.lit("nv"), "conv_id")
    )
    with pytest.raises(ValueError, match="optimize"):
        incremental_update(spark, paths, delta)

    optimize(spark, paths)
    assert _postings_rows(spark, root) == rows
    engine = SearchEngine(spark, paths, PINNED_TODAY, END_DAYS_AGO)
    oracle = OracleSearch(
        OracleIndex.build(oracle_docs(turns)), PINNED_TODAY, END_DAYS_AGO
    )
    for q in QUERIES:
        assert_hits_equal(engine.search(q), oracle.search(q), f"after optimize {q}")
