"""Banded persistent dedup state: O(batch)-shuffle ticks must be
pair-for-pair identical to the batch operator on corpus ∪ batch (minus
corpus×corpus pairs), idempotent under replay, and crash-safe through
compaction (the crash matrix covers the vector state too: both compact
through catalog.replace_staged)."""
from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

BASE = [
    "zika dengue fever outbreak tropical region report alpha bravo "
    "charlie delta echo foxtrot golf hotel india",
    "totally different matter argon boron carbon dalton erbium "
    "fluorine gallium hafnium iodine krypton lithium",
    "entirely novel content platypus wombat echidna kookaburra "
    "cassowary dingo numbat quokka bilby potoroo",
    "market report quarterly revenue growth margin outlook guidance "
    "forecast upgrade downgrade neutral rating sector",
]


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


@pytest.fixture(scope="module")
def corpus_and_batch(spark):
    corpus = _docs(
        spark, [(2 * i, t) for i, t in enumerate(BASE)]
    )
    # batch: a near-dup of BASE[0], an exact copy of BASE[1], an in-batch
    # near-dup pair, and a fresh doc
    batch = _docs(
        spark,
        [
            (101, BASE[0].replace("india", "indias")),
            (103, BASE[1]),
            (105, BASE[3].replace("sector", "sectors")),
            (107, BASE[3].replace("sector", "sectorly")),
            (109, "unrelated wholly fresh text jacaranda eucalyptus "
                  "banksia grevillea waratah bottlebrush melaleuca"),
        ],
    )
    return corpus, batch


@pytest.mark.spark
@pytest.mark.parametrize("max_bucket", [2000, 2], ids=["uncapped", "capped"])
def test_pairs_against_matches_batch_operator(
    spark, corpus_and_batch, max_bucket
):
    """pairs_against emits exactly the batch operator's pairs AND
    estimates on corpus ∪ batch, minus corpus×corpus pairs — also when
    the combined-bucket cap drops pairs (max_bucket=2: the BASE[3]
    family's buckets hold 3 docs)."""
    from similardocs_spark.operators.dedup import minhash_lsh_pairs
    from similardocs_spark.operators.dedup_incremental import (
        pairs_against,
        signatures_for,
    )

    corpus, batch = corpus_and_batch
    corpus_ids = {r["doc_id"] for r in corpus.collect()}

    def rows(df):
        return sorted(
            (r["doc_a"], r["doc_b"], round(r["jaccard_est"], 6))
            for r in df.collect()
        )

    got = rows(
        pairs_against(
            batch, signatures_for(corpus), estimate_jaccard=True,
            max_bucket=max_bucket,
        )
    )
    # batch doc 103 is an exact copy of corpus doc 2: collapsed=True keeps
    # both, as pairs_against does (it collapses within each side only)
    union = rows(
        minhash_lsh_pairs(
            corpus.unionByName(batch), max_bucket=max_bucket,
            collapsed=True, estimate_jaccard=True,
        )
    )
    expect = [
        r for r in union if not (r[0] in corpus_ids and r[1] in corpus_ids)
    ]
    assert got == expect and len(got) >= 2
    if max_bucket == 2:  # the cap binds
        uncapped = rows(
            pairs_against(batch, signatures_for(corpus), estimate_jaccard=True)
        )
        assert set(got) < set(uncapped)


@pytest.mark.spark
def test_broadcast_strategy_streams_corpus_side(spark, corpus_and_batch):
    """Plan shape: the corpus band rows reach the candidate join through a
    broadcast LEFT-SEMI hash join (corpus streamed map-side), not through a
    corpus-wide window exchange."""
    from similardocs_spark.operators.dedup_incremental import (
        pairs_against,
        signatures_for,
    )

    corpus, batch = corpus_and_batch
    plan = (
        pairs_against(batch, signatures_for(corpus))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan


@pytest.mark.spark
def test_state_tick_matches_stateless_accept(spark, tmp_path, corpus_and_batch):
    """BandedDedupState.tick (pre-banded state + materialized counts) ==
    the stateless accept_batch over the same corpus signatures."""
    from similardocs_spark.operators.dedup_incremental import (
        accept_batch,
        signatures_for,
    )
    from similardocs_spark.operators.dedup_state import BandedDedupState

    corpus, batch = corpus_and_batch
    expected_acc, expected_pairs, _ = accept_batch(
        batch, signatures_for(corpus)
    )
    exp_ids = {r["doc_id"] for r in expected_acc.collect()}
    exp_pairs = {(r["doc_a"], r["doc_b"]) for r in expected_pairs.collect()}

    st = BandedDedupState(spark, str(tmp_path / "st"))
    st.bootstrap(corpus_docs=corpus)
    accepted, pairs = st.tick(batch, "t1")
    assert {r["doc_id"] for r in accepted.collect()} == exp_ids
    assert {(r["doc_a"], r["doc_b"]) for r in pairs.collect()} == exp_pairs
    # accepted signatures joined the persistent state
    assert {r["doc_id"] for r in st.read_signatures().collect()} == (
        {r["doc_id"] for r in corpus.collect()} | exp_ids
    )
    # counts stay consistent with bands
    n_bands_rows = st.read_bands().count()
    assert (
        st.read_counts().agg(F.sum("cnt")).collect()[0][0] == n_bands_rows
    )


@pytest.mark.spark
def test_state_tick_replay_is_idempotent(spark, tmp_path, corpus_and_batch):
    """Re-running a tick with the same label + input replaces its own
    partition: state row counts unchanged, same accepted set."""
    from similardocs_spark.operators.dedup_state import BandedDedupState

    corpus, batch = corpus_and_batch
    st = BandedDedupState(spark, str(tmp_path / "st"))
    st.bootstrap(corpus_docs=corpus)
    a1, _ = st.tick(batch, "t1")
    ids1 = {r["doc_id"] for r in a1.collect()}
    before = st.read_signatures().count()
    a2, _ = st.tick(batch, "t1")  # replay
    assert {r["doc_id"] for r in a2.collect()} == ids1
    assert st.read_signatures().count() == before
    assert st.read_bands().count() == st.read_counts().agg(
        F.sum("cnt")
    ).collect()[0][0]


@pytest.mark.spark
def test_state_compact_preserves_semantics_and_heals_torn_tick(
    spark, tmp_path, corpus_and_batch
):
    """compact() folds partitions into base and REBUILDS bands/counts from
    sig — a tick that committed sig but crashed before bands/counts is
    healed, and post-compaction ticks see identical state."""
    from similardocs_spark.operators.dedup_state import (
        BASE_LABEL,
        BATCH_COL,
        BandedDedupState,
    )

    corpus, batch = corpus_and_batch
    st = BandedDedupState(spark, str(tmp_path / "st"))
    st.bootstrap(corpus_docs=corpus)
    st.tick(batch, "t1")
    sig_before = {r["doc_id"] for r in st.read_signatures().collect()}
    bands_before = st.read_bands().count()

    # simulate a torn tick: sig partition written, bands/counts missing
    torn = st.read_signatures().limit(0)  # no extra rows; just tear bands
    shutil.rmtree(str(tmp_path / "st" / "bands"))
    st.io.overwrite_dynamic(
        st.read_signatures()
        .limit(2)
        .withColumn(BATCH_COL, F.lit("torn")),
        st.bands_path,
        col=BATCH_COL,
    )  # bands now wrong on purpose
    del torn

    st.compact()
    assert {r["doc_id"] for r in st.read_signatures().collect()} == sig_before
    assert st.read_bands().count() == bands_before  # rebuilt from sig
    # everything now lives in the base partition
    parts = {
        r[BATCH_COL]
        for r in st.io.read(spark, st.sig_path).select(BATCH_COL).distinct().collect()
    }
    assert parts == {BASE_LABEL}
    # a fresh near-dup of an accepted batch doc is still caught
    dupe = _docs(spark, [(201, BASE[3].replace("sector", "sectorish"))])
    accepted, pairs = st.tick(dupe, "t2")
    assert accepted.count() == 0 and pairs.count() >= 1


def _vec(seed: int, dim: int = 16) -> list[float]:
    import numpy as np

    return [float(x) for x in np.random.default_rng(seed).standard_normal(dim)]


def _text_state(spark, root, corpus_and_batch):
    from similardocs_spark.operators.dedup_state import BandedDedupState

    corpus, batch = corpus_and_batch
    st = BandedDedupState(spark, root)
    st.bootstrap(corpus_docs=corpus)
    st.tick(batch, "t1")


def _vector_state(spark, root, corpus_and_batch):
    from similardocs_spark.operators.ann_state import VectorDedupState

    emb = "vec_id long, embedding array<float>"
    st = VectorDedupState(spark, root, dim=16, bits=6)
    st.bootstrap(spark.createDataFrame([(i, _vec(i)) for i in range(12)], emb))
    st.tick(spark.createDataFrame([(100, _vec(3)), (101, _vec(101))], emb), "t1")


def _open_text(spark, root):
    from similardocs_spark.operators.dedup_state import BandedDedupState

    return BandedDedupState(spark, root), lambda st: st.compact()


def _open_vector(spark, root):
    from similardocs_spark.operators.ann_state import VectorDedupState

    return VectorDedupState(spark, root), lambda st: st.compact(reband_bits=7)


# kind → (build a ticked state, open it + its compaction, swapped tables,
# rename/delete steps of one uninterrupted swap)
_KINDS = {
    "text": (_text_state, _open_text, ("sig", "bands", "counts"), 13),
    "vector": (_vector_state, _open_vector, ("state", "meta"), 9),
}


def _table_rows(spark, root, names):
    out = {}
    for name in names:
        df = spark.read.parquet(f"{root}/{name}")
        cols = sorted(df.columns)
        out[name] = sorted(tuple(r[c] for c in cols) for r in df.collect())
    return out


@pytest.fixture(scope="module")
def crash_templates(spark, tmp_path_factory, corpus_and_batch, swap_crash):
    """Per state kind, built once: a ticked (uncompacted) state, its
    table rows, and the rows of one uninterrupted compaction."""
    built = {}

    def get(kind):
        if kind not in built:
            make, open_state, names, n_steps = _KINDS[kind]
            base = tmp_path_factory.mktemp(f"crash_{kind}")
            template = str(base / "template")
            make(spark, template, corpus_and_batch)
            clean = str(base / "clean")
            shutil.copytree(template, clean)
            st, compact = open_state(spark, clean)
            with pytest.MonkeyPatch.context() as m:
                steps = swap_crash.inject(m, clean, None)
                compact(st)
            # the matrix below must cover every step of the swap
            assert len(steps) == n_steps, steps
            built[kind] = (
                template,
                _table_rows(spark, template, names),
                _table_rows(spark, clean, names),
            )
        return built[kind]

    return get


@pytest.mark.spark
@pytest.mark.parametrize(
    "kind,step",
    [
        (kind, step)
        for kind, (_, _, _, n_steps) in _KINDS.items()
        for step in ["before_ready", *range(n_steps)]
    ],
)
def test_compaction_crash_recovery(
    spark, tmp_path, crash_templates, swap_crash, kind, step
):
    """Fault matrix for the shared staged swap (catalog.replace_staged):
    a compaction that crashes after staging but before _READY leaves the
    live state untouched; one that crashes at any rename/delete of the
    swap is rolled forward on reopen to exactly the rows of an
    uninterrupted compaction."""
    _, open_state, names, _ = _KINDS[kind]
    template, before, after = crash_templates(kind)
    root = str(tmp_path / "st")
    shutil.copytree(template, root)
    st, compact = open_state(spark, root)
    with pytest.MonkeyPatch.context() as m:
        swap_crash.inject(m, root, step)
        with pytest.raises(swap_crash):
            compact(st)

    open_state(spark, root)  # recovery runs on open
    assert _table_rows(spark, root, names) == (
        before if step == "before_ready" else after
    )
    leftovers = [
        e for e in os.listdir(root) if e.startswith(("_compact", "_trash_"))
    ]
    assert leftovers == []


@pytest.mark.spark
def test_state_config_pinned(spark, tmp_path, corpus_and_batch):
    from similardocs_spark.operators.dedup_state import BandedDedupState

    corpus, _ = corpus_and_batch
    root = str(tmp_path / "st")
    BandedDedupState(spark, root, n_hashes=16, n_bands=4)
    with pytest.raises(ValueError, match="n_hashes"):
        BandedDedupState(spark, root, n_hashes=12, n_bands=2)


@pytest.mark.spark
def test_state_oversized_audit(spark, tmp_path):
    """A bucket pushed past the cap by the batch is reported, and its pairs
    are dropped by the tick (no-silent-caps, banded edition)."""
    from similardocs_spark.operators.dedup_state import BandedDedupState

    text = BASE[0]
    corpus = _docs(spark, [(i, text + f" tail{i}") for i in range(4)])
    batch = _docs(spark, [(100 + i, text + f" tip{i}") for i in range(3)])
    st = BandedDedupState(spark, str(tmp_path / "st"))
    st.bootstrap(corpus_docs=corpus)
    audit = st.oversized_buckets(batch, max_bucket=5)
    assert audit.count() >= 1
    assert audit.agg(F.max("bucket_size")).collect()[0][0] >= 6
    accepted, pairs = st.tick(batch, "t1", max_bucket=5)
    # shared-prefix bucket capped ⇒ none of its pairs emitted through it
    capped_pairs = {(r["doc_a"], r["doc_b"]) for r in pairs.collect()}
    st2 = BandedDedupState(spark, str(tmp_path / "st2"))
    st2.bootstrap(corpus_docs=corpus)
    _, pairs_uncapped = st2.tick(batch, "t1")
    assert capped_pairs <= {
        (r["doc_a"], r["doc_b"]) for r in pairs_uncapped.collect()
    }


class _RecordingIO:
    """Wraps a real ParquetIO: delegates everything, records write routing.
    Stands in for the Iceberg runtime (absent in the sandbox) to pin WHICH
    shim write each state operation uses — on Iceberg, compaction rewrites
    the LIVE table, so a dynamic overwrite (replaces only partitions present
    in the data, i.e. just "base") would leave every old per-tick partition
    alive and double the state."""

    def __init__(self, inner, mode="iceberg"):
        self._inner = inner
        self.mode = mode
        self.calls: list[tuple[str, str]] = []

    def __getattr__(self, name):
        attr = getattr(self._inner, name)
        if not callable(attr):
            return attr

        def call(*args, **kwargs):
            path = next(
                (a for a in args[1:] if isinstance(a, str)),
                kwargs.get("path", ""),
            )
            self.calls.append((name, path))
            return attr(*args, **kwargs)

        return call


@pytest.mark.spark
def test_compact_and_bootstrap_use_full_partitioned_replace(
    spark, tmp_path, corpus_and_batch
):
    """compact()/bootstrap() must route through overwrite_partitioned (full
    replace), NEVER overwrite_dynamic; per-tick commits must stay dynamic
    (idempotent replay replaces only the tick's own partition)."""
    from similardocs_spark.operators.dedup_state import BandedDedupState

    corpus, batch = corpus_and_batch
    root = str(tmp_path / "st")
    st = BandedDedupState(spark, root)
    rec = _RecordingIO(st.io, mode="parquet")  # delegate still parquet-real
    st.io = rec

    st.bootstrap(corpus_docs=corpus)
    boot_writes = [c for c in rec.calls if c[0].startswith("overwrite")]
    assert {c[0] for c in boot_writes} == {"overwrite_partitioned"}

    rec.calls.clear()
    accepted, _ = st.tick(batch, "t1")
    n_state = corpus.count() + accepted.count()
    tick_writes = [c for c in rec.calls if c[0].startswith("overwrite")]
    assert {c[0] for c in tick_writes} == {"overwrite_dynamic"}

    # iceberg-mode compact rewrites the live tables in place — full replace
    rec.calls.clear()
    rec.mode = "iceberg"
    st.compact()
    compact_writes = [c for c in rec.calls if c[0].startswith("overwrite")]
    assert {c[0] for c in compact_writes} == {"overwrite_partitioned"}
    assert {c[1].rsplit("/", 1)[-1] for c in compact_writes} == {
        "sig", "bands", "counts",
    }
    # and the fold is semantically a no-op duplication-wise: exactly one
    # signature row per accepted doc, none doubled
    assert st.read_signatures().count() == n_state
    assert st.read_signatures().select("doc_id").distinct().count() == n_state


@pytest.mark.spark
def test_compaction_promote_lost_to_concurrent_roll_forward(
    spark, tmp_path, crash_templates
):
    """While the compaction has a live table parked, a reader in another
    process opens the state and rolls the swap forward first; the
    compaction's own promote then finds its source gone and returns
    normally with the compacted rows."""
    template, _, after = crash_templates("text")
    root = str(tmp_path / "st")
    shutil.copytree(template, root)
    st, compact = _open_text(spark, root)
    real, raced = os.rename, []

    def racing_rename(src, dst):
        if str(src).startswith(f"{root}/_compact/") and not raced:
            raced.append(src)
            _open_text(spark, root)  # the other process's open recovers
        return real(src, dst)

    with pytest.MonkeyPatch.context() as m:
        m.setattr(os, "rename", racing_rename)
        compact(st)
    assert raced
    assert _table_rows(spark, root, _KINDS["text"][2]) == after
    assert not [e for e in os.listdir(root) if e.startswith(("_compact", "_trash_"))]
