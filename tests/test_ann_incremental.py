"""Incremental embedding near-dedup vs stored LSH bucket state."""
import re

import numpy as np
from pyspark.sql import functions as F
import pytest


def _vecs(spark, rows):
    return spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in rows],
        "vec_id long, embedding array<float>",
    )


def _mk(seed, dim=8):
    rng = np.random.default_rng(seed)
    v = rng.standard_normal(dim)
    return v / np.linalg.norm(v)


@pytest.mark.spark
def test_pairs_against_matches_batch_minus_corpus(spark):
    from similardocs_spark.operators import ann, ann_incremental as inc

    base1, base2 = _mk(1), _mk(2)
    corpus_rows = [(1, base1), (2, base2), (3, base1 + 0.01 * _mk(31))]
    batch_rows = [
        (10, base1 + 0.01 * _mk(41)),  # near corpus 1/3
        (11, base2 + 0.01 * _mk(42)),  # near corpus 2
        (12, base2 + 0.012 * _mk(43)),  # near corpus 2 AND batch 11
        (13, _mk(5)),  # unique
    ]
    corpus, batch = _vecs(spark, corpus_rows), _vecs(spark, batch_rows)
    state = inc.state_for(corpus, dim=8)
    got = {
        (r["vec_a"], r["vec_b"]): r["cosine_e6"]
        for r in inc.pairs_against(batch, state, dim=8).collect()
    }
    union_pairs = {
        (r["vec_a"], r["vec_b"]): r["cosine_e6"]
        for r in ann.embedding_near_dup_pairs(
            corpus.unionByName(batch), dim=8
        ).collect()
    }
    corpus_ids = {1, 2, 3}
    expect = {
        k: v
        for k, v in union_pairs.items()
        if not (k[0] in corpus_ids and k[1] in corpus_ids)
    }
    assert got == expect
    assert got, "fixture must produce pairs"
    assert any(a in corpus_ids and b in corpus_ids for a, b in union_pairs)


@pytest.mark.spark
def test_accept_batch_and_state_roundtrip(spark, tmp_path):
    """State round-trips through parquet (config metadata preserved);
    accept_batch rejects vs corpus id-order-agnostically; a mismatched
    LSH config fails fast instead of joining foreign buckets."""
    from similardocs_spark.operators import ann_incremental as inc

    base = _mk(7)
    corpus = _vecs(spark, [(100, base), (200, _mk(8))])
    path = str(tmp_path / "state")
    inc.state_for(corpus, dim=8).write.parquet(path)
    state = spark.read.parquet(path)
    assert state.schema["b0"].metadata["seed"] == 42  # survived parquet

    batch = _vecs(
        spark,
        [
            (10, base + 0.01 * _mk(71)),  # near corpus 100 (higher id)
            (11, _mk(9)),
            (12, _mk(9) + 0.01 * _mk(72)),  # near batch 11
        ],
    )
    accepted, pairs, new_state = inc.accept_batch(batch, state, dim=8)
    assert {r["vec_id"] for r in accepted.collect()} == {11}
    assert {r["vec_id"] for r in new_state.collect()} == {11}
    pair_set = {tuple(r) for r in pairs.select("vec_a", "vec_b").collect()}
    assert (10, 100) in pair_set and (11, 12) in pair_set

    with pytest.raises(ValueError, match="different hash families"):
        inc.pairs_against(batch, state, dim=8, seed=99).count()
    with pytest.raises(ValueError, match="different hash families"):
        inc.pairs_against(batch, state, dim=8, tables=3).count()
    # a state missing a bucket column fails the column-shape check
    bare = state.select(
        "vec_id", "embedding", "_n", F.col("b0").alias("b0")
    )
    with pytest.raises(ValueError, match="fewer tables"):
        inc.pairs_against(batch, bare, dim=8, tables=2).count()


@pytest.mark.spark
def test_oversized_buckets_against(spark):
    from similardocs_spark.operators import ann_incremental as inc

    base = _mk(3)
    corpus = _vecs(spark, [(i, base + 0.001 * _mk(100 + i)) for i in range(4)])
    batch = _vecs(spark, [(10, base + 0.001 * _mk(200))])
    state = inc.state_for(corpus, dim=8)
    audited = inc.oversized_buckets_against(batch, state, dim=8, max_bucket=2)
    assert audited.count() > 0
    assert inc.pairs_against(batch, state, dim=8, max_bucket=2).count() == 0


def _clustered(spark):
    """40 corpus + 13 batch vectors around 6 bases (+ one loner)."""
    rng = np.random.default_rng(17)
    bases = [_mk(100 + i) for i in range(6)]
    corpus = _vecs(
        spark,
        [(i, bases[i % 6] + 0.01 * rng.standard_normal(8)) for i in range(40)],
    )
    batch = _vecs(
        spark,
        [
            (100 + i, bases[i % 6] + 0.012 * rng.standard_normal(8))
            for i in range(12)
        ]
        + [(200, _mk(999))],
    )
    return corpus, batch


@pytest.mark.spark
@pytest.mark.parametrize("max_bucket", [2000, 8], ids=["uncapped", "capped"])
def test_pairs_against_matches_batch_operator(spark, max_bucket):
    """pairs_against emits exactly embedding_near_dup_pairs' pairs AND
    cosine values on corpus ∪ batch, minus corpus×corpus pairs — also
    when the combined-bucket cap drops pairs (max_bucket=8: each base's
    buckets hold ~9 vectors)."""
    from similardocs_spark.operators import ann, ann_incremental as inc

    corpus, batch = _clustered(spark)
    state = inc.state_for(corpus, dim=8)

    def rows(df):
        return sorted(
            (r["vec_a"], r["vec_b"], r["cosine_e6"]) for r in df.collect()
        )

    got = rows(
        inc.pairs_against(
            batch, state, threshold=0.95, dim=8, max_bucket=max_bucket
        )
    )
    union = rows(
        ann.embedding_near_dup_pairs(
            corpus.unionByName(batch), threshold=0.95, dim=8,
            max_bucket=max_bucket,
        )
    )
    expect = [r for r in union if not (r[0] < 100 and r[1] < 100)]
    assert got == expect and len(got) >= 5
    if max_bucket == 8:  # the cap binds
        uncapped = rows(inc.pairs_against(batch, state, threshold=0.95, dim=8))
        assert set(got) < set(uncapped)


@pytest.mark.spark
def test_pairs_against_one_cap_window_for_all_tables(spark, monkeypatch):
    """The LSH tables are stacked as bands: one candidate self-join over
    ONE bucket-cap window for tables=3, not one per table. The physical
    plan holds that window once per side of the self-join (2 distinct
    Window nodes; a per-table plan holds 2 × tables)."""
    from pyspark.sql.classic.dataframe import DataFrame

    from similardocs_spark.operators import ann_incremental as inc

    # the candidates are locally checkpointed, so the verify plan scans the
    # checkpoint: inspect the plan of the frame that was checkpointed
    checkpointed, real = [], DataFrame.localCheckpoint

    def record(self, eager=True):
        checkpointed.append(self)
        return real(self, eager)

    monkeypatch.setattr(DataFrame, "localCheckpoint", record)
    corpus, batch = _clustered(spark)
    state = inc.state_for(corpus, dim=8, tables=3)
    inc.pairs_against(batch, state)
    cands = next(df for df in checkpointed if df.columns == ["vec_a", "vec_b"])
    plan = cands._jdf.queryExecution().executedPlan().toString()
    # a subtree is printed at every use: count distinct nodes
    assert len(set(re.findall(r"Window \[[^\]]*\]", plan))) == 2, plan


@pytest.mark.spark
def test_resolve_dim_from_state_metadata_no_probe(spark):
    """dim omitted → resolved from the LSH config stamped in the corpus
    state's field metadata; an all-null batch then still works (the probe
    fallback would have raised)."""
    from similardocs_spark.operators import ann_incremental as inc

    corpus = _vecs(spark, [(1, _mk(1)), (2, _mk(2))])
    state = inc.state_for(corpus, dim=8)
    batch = spark.createDataFrame(
        [(10, None)], "vec_id long, embedding array<float>"
    )
    assert inc.pairs_against(batch, state).count() == 0


@pytest.mark.spark
def test_infer_dim_null_safe(spark):
    from similardocs_spark.operators.ann import infer_dim

    df = spark.createDataFrame(
        [(1, None), (2, [1.0, 2.0, 3.0])],
        "vec_id long, embedding array<float>",
    )
    assert infer_dim(df) == 3
    empty = df.filter(F.col("embedding").isNull())
    with pytest.raises(ValueError, match="pass dim"):
        infer_dim(empty)


@pytest.mark.spark
def test_lsh_config_resolved_from_state_metadata(spark, tmp_path):
    """A tick needs no LSH config args: pairs_against/accept_batch default
    bits/tables/seed from the corpus state's stamped field metadata (the
    bootstrap sizing, e.g. lsh_bits_for), surviving a parquet round-trip;
    an explicit mismatching override still fails fast."""
    from similardocs_spark.operators import ann_incremental as inc

    base = _mk(7)
    corpus = _vecs(spark, [(1, base), (2, _mk(8))])
    batch = _vecs(spark, [(10, base + 0.01 * _mk(9))])
    p = str(tmp_path / "state")
    inc.state_for(corpus, dim=8, bits=10, tables=3, seed=5).write.parquet(p)
    state = spark.read.parquet(p)

    pairs = inc.pairs_against(batch, state).collect()  # no config args
    assert {(r["vec_a"], r["vec_b"]) for r in pairs} == {(1, 10)}
    accepted, _, new_state = inc.accept_batch(batch, state)
    assert accepted.count() == 0  # 10 rejected against corpus 1
    assert [f"b{t}" in new_state.columns for t in range(3)] == [True] * 3
    meta = new_state.schema["b0"].metadata
    assert (meta["bits"], meta["tables"], meta["seed"]) == (10, 3, 5)

    with pytest.raises(ValueError, match="different hash families"):
        inc.pairs_against(batch, state, bits=6).collect()


@pytest.mark.spark
def test_reband_state_one_pass_config_swap(spark, tmp_path):
    """reband_state re-derives buckets at a new bits from stored vectors;
    ticks against the re-banded state pick up the new config from
    metadata and find the same pairs."""
    from similardocs_spark.operators import ann_incremental as inc

    base = _mk(7)
    corpus = _vecs(spark, [(1, base), (2, _mk(8)), (3, _mk(9))])
    batch = _vecs(spark, [(10, base + 0.01 * _mk(11))])
    old = inc.state_for(corpus, dim=8, bits=4, tables=2, seed=5)
    new = inc.reband_state(old, bits=7)
    meta = new.schema["b0"].metadata
    assert (meta["bits"], meta["tables"], meta["seed"], meta["dim"]) == (
        7, 2, 5, 8,
    )
    got = {
        (r["vec_a"], r["vec_b"])
        for r in inc.pairs_against(batch, new).collect()
    }
    assert got == {(1, 10)}
    # old-config batch state vs re-banded corpus state still fails fast
    with pytest.raises(ValueError, match="different hash families"):
        inc.pairs_against(
            batch, new, new_state=inc.state_for(batch, dim=8, bits=4)
        ).collect()
