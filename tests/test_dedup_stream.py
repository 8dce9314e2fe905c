"""Streaming dedup ingestion: landing-dir drains adjudicated against the
persistent signature state, with batch-level replay idempotence."""
import pytest

LONG = (
    "zika dengue fever outbreak tropical region report alpha bravo "
    "charlie delta echo foxtrot golf hotel india"
)


def _land(spark, path, rows):
    spark.createDataFrame(
        [(i, t, "en", "unit") for i, t in rows],
        "doc_id long, text string, lang string, source string",
    ).coalesce(1).write.mode("append").parquet(path)


@pytest.mark.spark
def test_dedup_stream_ingest_and_replay(spark, tmp_path):
    from similardocs_spark.streaming.dedup_stream import run_dedup_ingest

    landing = str(tmp_path / "landing")
    corpus = str(tmp_path / "corpus")
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")

    # tick 1: two distinct docs land
    _land(spark, landing, [(1, LONG + " one"), (2, "totally different "
          "matter argon boron carbon dalton erbium fluorine gallium")])
    res = run_dedup_ingest(spark, landing, corpus, state, ckpt)
    assert [r["n_accepted"] for r in res] == [2]
    assert res[0]["n_rejected"] == 0 and res[0]["n_replayed"] == 0

    # tick 2: a near-dup of doc 1, an exact copy of doc 2, and a fresh doc
    _land(
        spark,
        landing,
        [
            (10, LONG + " ones"),
            (11, "totally different matter argon boron carbon dalton "
                 "erbium fluorine gallium"),
            (12, "entirely novel content platypus wombat echidna "
                 "kookaburra cassowary dingo numbat quokka bilby"),
        ],
    )
    res = run_dedup_ingest(spark, landing, corpus, state, ckpt)
    assert len(res) == 1
    assert res[0]["n_arrived"] == 3
    assert res[0]["n_accepted"] == 1
    assert res[0]["n_rejected"] == 2

    kept = {r["doc_id"] for r in spark.read.parquet(corpus).collect()}
    assert kept == {1, 2, 12}
    assert {
        r["doc_id"] for r in spark.read.parquet(state + "/sig").collect()
    } == kept

    # replay: wipe the checkpoint so the whole landing dir redelivers —
    # accepted docs are skipped via the state existence gate (replayed);
    # rejected docs have no state row, get re-adjudicated, and are
    # deterministically re-rejected — either way nothing is appended
    import shutil

    shutil.rmtree(ckpt)
    res = run_dedup_ingest(spark, landing, corpus, state, str(tmp_path / "ckpt2"))
    assert sum(r["n_replayed"] for r in res) == 3
    assert sum(r["n_accepted"] for r in res) == 0
    assert sum(r["n_rejected"] for r in res) == 2
    assert {r["doc_id"] for r in spark.read.parquet(corpus).collect()} == kept


@pytest.mark.spark
def test_dedup_stream_compaction_hook(spark, tmp_path):
    """compact_state_every folds state partitions between ticks; the next
    tick still adjudicates correctly and replay after compaction appends
    nothing (the crash matrix's hardest row)."""
    from similardocs_spark.streaming.dedup_stream import run_dedup_ingest

    landing = str(tmp_path / "landing")
    corpus = str(tmp_path / "corpus")
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")

    _land(spark, landing, [(1, LONG + " one"), (2, "totally different "
          "matter argon boron carbon dalton erbium fluorine gallium")])
    res = run_dedup_ingest(
        spark, landing, corpus, state, ckpt, compact_state_every=1
    )
    assert [r["n_accepted"] for r in res] == [2]
    # state folded into the base partition by the hook
    parts = {
        r["ingest_batch"]
        for r in spark.read.parquet(state + "/sig")
        .select("ingest_batch").distinct().collect()
    }
    assert parts == {"base"}

    # a near-dup of doc 1 must still be rejected against the compacted state
    _land(spark, landing, [(10, LONG + " ones"), (12, "entirely novel "
          "content platypus wombat echidna kookaburra cassowary dingo")])
    res = run_dedup_ingest(
        spark, landing, corpus, state, ckpt, compact_state_every=1
    )
    assert res[0]["n_accepted"] == 1 and res[0]["n_rejected"] == 1
    kept = {r["doc_id"] for r in spark.read.parquet(corpus).collect()}
    assert kept == {1, 2, 12}

    # checkpoint wipe → full redelivery against the compacted state:
    # everything previously accepted is gated, nothing is double-written
    import shutil

    shutil.rmtree(ckpt)
    res = run_dedup_ingest(
        spark, landing, corpus, state, str(tmp_path / "ckpt2")
    )
    assert sum(r["n_accepted"] for r in res) == 0
    assert {r["doc_id"] for r in spark.read.parquet(corpus).collect()} == kept


@pytest.mark.spark
def test_dedup_stream_fresh_checkpoint_does_not_clobber_partitions(
    spark, tmp_path
):
    """A NEW stream incarnation restarts batch ids at 0; its partition
    labels are salted by checkpoint, so accepting a fresh doc must never
    dynamic-overwrite an older incarnation's batch-0 corpus partition."""
    from similardocs_spark.streaming.dedup_stream import run_dedup_ingest

    corpus = str(tmp_path / "corpus")
    state = str(tmp_path / "state")

    land1 = str(tmp_path / "landing1")
    _land(spark, land1, [(1, LONG + " one"), (2, "totally different "
          "matter argon boron carbon dalton erbium fluorine gallium")])
    run_dedup_ingest(spark, land1, corpus, state, str(tmp_path / "ck1"))

    # second incarnation: different landing dir + fresh checkpoint →
    # batch_id 0 again, genuinely new doc accepted
    land2 = str(tmp_path / "landing2")
    _land(spark, land2, [(50, "entirely novel content platypus wombat "
          "echidna kookaburra cassowary dingo numbat quokka")])
    res = run_dedup_ingest(spark, land2, corpus, state, str(tmp_path / "ck2"))
    assert sum(r["n_accepted"] for r in res) == 1
    kept = {r["doc_id"] for r in spark.read.parquet(corpus).collect()}
    assert kept == {1, 2, 50}  # docs 1,2 survived the colliding batch id


def _land_vectors(spark, path, rows):
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>"
    ).coalesce(1).write.mode("append").parquet(path)


def _unit_vec(seed: int, eps: float = 0.0) -> list[float]:
    import numpy as np

    v = np.random.default_rng(seed).standard_normal(16)
    v = v + eps * np.random.default_rng(10_000 + seed).standard_normal(16)
    return [float(x) for x in v]


def _text_stream(spark, landing):
    from similardocs_spark.operators.dedup_state import BandedDedupState
    from similardocs_spark.streaming.dedup_stream import run_dedup_ingest

    _land(spark, landing, [
        (1, LONG + " one"),
        (2, "totally different matter argon boron carbon dalton erbium "
            "fluorine gallium"),
        (3, LONG + " ones"),
        (4, "entirely novel content platypus wombat echidna kookaburra "
            "cassowary dingo numbat quokka bilby"),
    ])
    return BandedDedupState, "doc_id", "sig", run_dedup_ingest, {}


def _vector_stream(spark, landing):
    from similardocs_spark.operators.ann_state import VectorDedupState
    from similardocs_spark.streaming.ann_stream import run_embedding_ingest

    _land_vectors(spark, landing, [
        (1, _unit_vec(1)), (2, _unit_vec(2)),
        (3, _unit_vec(1, eps=0.01)), (4, _unit_vec(4)),
    ])
    return (
        VectorDedupState, "vec_id", "state", run_embedding_ingest,
        {"dim": 16, "bits": 6},
    )


@pytest.mark.spark
@pytest.mark.parametrize("kind", ["text", "vector"])
def test_tick_commit_crash_replays_under_same_label(
    spark, tmp_path, monkeypatch, kind
):
    """A crash between the corpus-partition write and the state commit:
    the drain fails, the rerun on the SAME checkpoint redelivers the batch
    under the same label, and the corpus ends exactly as an uninterrupted
    run's — no id twice, state ids == corpus ids."""
    from pyspark.errors import StreamingQueryException

    landing = str(tmp_path / "landing")
    make = {"text": _text_stream, "vector": _vector_stream}[kind]
    state_cls, key, table, run, kw = make(spark, landing)

    def ids(path):
        return [r[key] for r in spark.read.parquet(path).collect()]

    clean = tmp_path / "clean"
    run(spark, landing, str(clean / "corpus"), str(clean / "state"),
        str(clean / "ckpt"), **kw)
    expected = sorted(ids(str(clean / "corpus")))
    assert len(expected) == 3  # one near-dup rejected

    corpus, state, ckpt = (str(tmp_path / n) for n in ("corpus", "state", "ckpt"))
    real_commit = state_cls.commit_batch
    crashed: list[str] = []

    def commit_crashes_once(self, state_rows, label):
        if not crashed:
            crashed.append(label)
            raise RuntimeError("crash after the corpus partition")
        return real_commit(self, state_rows, label)

    monkeypatch.setattr(state_cls, "commit_batch", commit_crashes_once)
    with pytest.raises(StreamingQueryException):
        run(spark, landing, corpus, state, ckpt, **kw)
    assert sorted(ids(corpus)) == expected  # corpus partition landed first

    res = run(spark, landing, corpus, state, ckpt, **kw)
    assert [r["n_accepted"] for r in res] == [3]
    got = ids(corpus)
    assert len(got) == len(set(got)) and sorted(got) == expected
    assert sorted(ids(f"{state}/{table}")) == expected
    labels = {
        r["ingest_batch"]
        for r in spark.read.parquet(corpus).select("ingest_batch").collect()
    }
    assert labels == set(crashed)


def _dag_log(spark):
    """Start copying what the DAGScheduler logs into a buffer; returns
    `stop()`, which detaches the copy and returns the lines."""
    jvm = spark._jvm
    core = jvm.org.apache.logging.log4j.core
    logger = jvm.org.apache.logging.log4j.LogManager.getContext(False).getLogger(
        "org.apache.spark.scheduler.DAGScheduler"
    )
    buf = jvm.java.io.StringWriter()
    app = core.appender.WriterAppender.createAppender(
        core.layout.PatternLayout.createDefaultLayout(), None, buf,
        "dag-log-copy", False, True,
    )
    app.start()
    logger.addAppender(app)

    def stop() -> list[str]:
        logger.removeAppender(app)
        app.stop()
        return buf.toString().splitlines()

    return stop


@pytest.mark.spark
@pytest.mark.parametrize("kind", ["text", "vector"])
def test_ticks_pin_no_persisted_rdds(spark, tmp_path, kind, persistent_rdds):
    """A tick releases everything it materialized: after the first tick,
    three more landing batches (each with a near-dup pair, so the pair
    estimate or verify join runs) leave the persisted-RDD count flat. And
    no stage of a tick that reads a committed state ships a task binary
    large enough for Spark to warn about (a runtime bloom filter built
    over the state read once rode in every such task, 2.1–4.1 MiB)."""
    from similardocs_spark.streaming.ann_stream import run_embedding_ingest
    from similardocs_spark.streaming.dedup_stream import run_dedup_ingest

    landing = str(tmp_path / "landing")
    dirs = [str(tmp_path / n) for n in ("corpus", "state", "ckpt")]
    counts = []
    stop_log = _dag_log(spark)
    try:
        for t in range(4):
            if kind == "text":
                _land(spark, landing, [
                    (10 * t + 1, f"{LONG} tick{t}"),
                    (10 * t + 2, f"{LONG} tick{t}s"),
                ])
                run_dedup_ingest(spark, landing, *dirs, min_jaccard=0.5)
            else:
                _land_vectors(spark, landing, [
                    (10 * t + 1, _unit_vec(t)),
                    (10 * t + 2, _unit_vec(t, eps=0.01)),
                ])
                run_embedding_ingest(spark, landing, *dirs, dim=16, bits=6)
            counts.append(persistent_rdds(spark))
    finally:
        log = stop_log()
    assert max(counts[1:]) <= counts[0], counts
    large = [line for line in log if "large task binary" in line]
    assert not large, large
