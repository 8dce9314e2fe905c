"""Profile store: CRUD, stale materialization, round-robin interleave parity."""
from __future__ import annotations

import pytest

from similardocs_spark.profiles import ProfileStore, limit_docs


def test_limit_docs_round_robin():
    # reference limitDocs semantics (TopIndex.scala:455-478)
    assert limit_docs([[1, 2, 3], [4, 5], [6]], 10) == [1, 4, 6, 2, 5, 3]
    assert limit_docs([[1, 2, 3], [4, 5], [6]], 4) == [1, 4, 6, 2]
    assert limit_docs([[], [4]], 3) == [4]
    assert limit_docs([], 5) == []
    # quota is applied per round on the collected heads
    assert limit_docs([[1], [2], [3]], 2) == [1, 2]


class FakeHit:
    def __init__(self, doc_id, score):
        self.doc_id, self.score = doc_id, score


class FakeEngine:
    """search_batch() returns doc ids derived from each content's length
    (stable); `calls` counts queries, not batches."""

    def __init__(self):
        self.calls = 0

    def search_batch(self, queries, **kw):
        self.calls += len(queries)
        return {
            qid: [FakeHit(len(content) + i, 1.0 / (i + 1)) for i in range(3)]
            for qid, content in queries.items()
        }


@pytest.mark.spark
def test_profile_crud_and_update(spark, tmp_path):
    store = ProfileStore(spark, str(tmp_path / "profiles"))
    eng = FakeEngine()
    store.add_profile("Téster!@paho.org", "é profile 1", "zika dengue", now_ms=1000)
    store.add_profile("Téster!@paho.org", "é profile 2", "febre amarela", now_ms=1000)
    profs = store.get_profiles("Téster!@paho.org")
    assert len(profs) == 2
    assert all(p["update_time"] == 0 for p in profs)

    # unchanged upsert is a no-op; changed content resets to stale
    store.add_profile("Téster!@paho.org", "é profile 1", "zika dengue", now_ms=2000)
    assert store.get_profiles("Téster!@paho.org")[0]["creation_time"] == 1000

    n = store.update_stale(eng, now_ms=5000)
    assert n == 2 and eng.calls == 2
    profs = store.get_profiles("Téster!@paho.org")
    assert all(p["update_time"] == 5000 for p in profs)
    assert all(len(p["sd_ids"]) == 3 for p in profs)

    # fresh profiles are not re-materialized
    assert store.update_stale(eng, now_ms=5001) == 0

    store.delete_profile("Téster!@paho.org", "é profile 2")
    assert len(store.get_profiles("Téster!@paho.org")) == 1
    store.delete_user("Téster!@paho.org")
    assert store.get_profiles("Téster!@paho.org") == []


@pytest.mark.spark
def test_reset_and_update_all(spark, tmp_path):
    store = ProfileStore(spark, str(tmp_path / "p2"))
    eng = FakeEngine()
    store.add_profile("u", "a", "zika", now_ms=10)
    store.add_profile("u", "b", "dengue", now_ms=10)
    assert store.update_stale(eng, now_ms=100) == 2
    assert store.reset_all_times("u") == 2
    profs = store.get_profiles("u")
    assert all(p["update_time"] == 0 for p in profs)
    assert store.update_all(eng, now_ms=200) == 2
    assert all(p["update_time"] == 200 for p in store.get_profiles("u"))


@pytest.mark.spark
def test_staged_swap_crash_recovery(spark, tmp_path):
    """(a) A crash that left a `_READY` staging and no live table (the
    live table parked for the swap) rolls forward on the next read.
    (b) A live table parked at `.old` by the swap of an older version is
    never looked at by the recovery: the read fails loudly, naming it."""
    import os
    import shutil

    store = ProfileStore(spark, str(tmp_path / "pr"))
    store.add_profile("u", "a", "zika", now_ms=10)
    store.add_profile("u", "b", "dengue", now_ms=10)

    # (a) roll FORWARD: live dir gone, complete staging present
    staging = store.path + ".staging"
    shutil.copytree(store.path, os.path.join(staging, "pr"))
    open(os.path.join(staging, "_READY"), "w").close()
    shutil.rmtree(store.path)
    profs = store.get_profiles("u")  # recovery runs inside _read
    assert [p["prof_name"] for p in profs] == ["a", "b"]
    assert os.path.exists(store.path) and not os.path.exists(staging)

    # (b) legacy interrupted swap: the live table parked at .old
    os.rename(store.path, store.path + ".old")
    with pytest.raises(RuntimeError, match=r"pr\.old"):
        store.get_profiles("u")


def _profile_names(store):
    return [(p["prof_name"], p["prof_content"]) for p in store.get_profiles("u")]


# rmtree a stale staging, then catalog.recover_staged's rmtree trash,
# park, promote, rmtree trash, rmtree staging
_SWAP_STEPS = 6


@pytest.fixture(scope="module")
def swap_steps(spark, tmp_path_factory, swap_crash):
    """The (primitive, path suffix) rename/delete steps of one
    uninterrupted parquet-mode `_write_staged` over a live table; the
    matrix below must cover them all."""
    parent = str(tmp_path_factory.mktemp("swap_steps"))
    store = ProfileStore(spark, f"{parent}/pr")
    store.add_profile("u", "a", "zika", now_ms=10)
    with pytest.MonkeyPatch.context() as m:
        steps = swap_crash.inject(m, parent, None)
        store.add_profile("u", "c", "chikungunya", now_ms=20)
    assert len(steps) == _SWAP_STEPS, steps
    return [(name, path[len(parent):]) for name, path in steps]


@pytest.mark.spark
@pytest.mark.parametrize("step", ["before_ready", *range(_SWAP_STEPS)])
def test_staged_swap_crash_matrix(spark, tmp_path, swap_steps, swap_crash, step):
    """Fault matrix for the profile store's `catalog.replace_staged`: a
    write that crashes before `_READY` or at any rename/delete of the
    swap leaves a store that a fresh ProfileStore reads as exactly the
    pre-write rows (live table not yet parked) or the post-write rows
    (parked: the read rolls the staging forward) — never fewer; the next
    write leaves no staging and no `_trash_pr`."""
    import os

    root = str(tmp_path / "pr")
    store = ProfileStore(spark, root)
    store.add_profile("u", "a", "zika", now_ms=10)
    store.add_profile("u", "b", "dengue", now_ms=10)
    pre = _profile_names(store)
    with pytest.MonkeyPatch.context() as m:
        swap_crash.inject(m, str(tmp_path), step)
        with pytest.raises(swap_crash):
            store.add_profile("u", "c", "chikungunya", now_ms=20)

    park = swap_steps.index(("rename", "/pr"))
    post = step != "before_ready" and step > park
    expect = pre + [("c", "chikungunya")] if post else pre
    assert _profile_names(ProfileStore(spark, root)) == expect

    after = ProfileStore(spark, root)
    after.add_profile("u", "d", "malaria", now_ms=30)
    assert _profile_names(after) == expect + [("d", "malaria")]
    assert sorted(os.listdir(tmp_path)) == ["pr"]


@pytest.mark.spark
def test_two_stores_under_one_parent_keep_their_staging(
    spark, tmp_path, swap_steps, swap_crash
):
    """Each store stages beside its own table: store A crashes after
    `_READY` with its live table parked, store B in the same directory
    then writes, and a fresh A still rolls its own staging forward."""
    a = ProfileStore(spark, str(tmp_path / "profiles_en"))
    b = ProfileStore(spark, str(tmp_path / "profiles_es"))
    a.add_profile("u", "a", "zika", now_ms=10)
    b.add_profile("u", "b", "dengue", now_ms=10)
    promote = swap_steps.index(("rename", "/pr.staging/pr"))
    with pytest.MonkeyPatch.context() as m:
        swap_crash.inject(m, str(tmp_path), promote)
        with pytest.raises(swap_crash):
            a.add_profile("u", "c", "chikungunya", now_ms=20)
    b.add_profile("u", "d", "malaria", now_ms=20)

    assert _profile_names(b) == [("b", "dengue"), ("d", "malaria")]
    assert _profile_names(ProfileStore(spark, a.path)) == [
        ("a", "zika"), ("c", "chikungunya"),
    ]


@pytest.mark.spark
def test_promote_lost_to_concurrent_roll_forward(spark, tmp_path):
    """While a write has the live table parked, a reader in another
    process (a fresh store: its own swap lock) sees the table missing and
    rolls the staging forward first; the write's own promote then finds
    its source gone and returns normally with the post-write rows."""
    import os

    root = str(tmp_path / "pr")
    store = ProfileStore(spark, root)
    store.add_profile("u", "a", "zika", now_ms=10)
    real, raced = os.rename, []

    def racing_rename(src, dst):
        if str(src).startswith(root + ".staging/") and not raced:
            raced.append(src)
            ProfileStore(spark, root)._read()
        return real(src, dst)

    with pytest.MonkeyPatch.context() as m:
        m.setattr(os, "rename", racing_rename)
        store.add_profile("u", "b", "dengue", now_ms=20)
    assert raced
    assert _profile_names(store) == [("a", "zika"), ("b", "dengue")]
    assert sorted(os.listdir(tmp_path)) == ["pr"]


class RecorderIO:
    """Substrate fake: records which TableIO methods ProfileStore routes
    writes through, so the Iceberg branch (native snapshot overwrite, no
    staging-dir swap) is contract-tested without a runtime jar."""

    def __init__(self, mode, backing):
        self.mode, self.backing, self.calls = mode, backing, []

    def read(self, spark, path):
        self.calls.append(("read", path))
        return spark.read.parquet(self.backing)

    def exists(self, spark, path):
        import os

        return os.path.exists(self.backing)

    def overwrite(self, df, path):
        self.calls.append(("overwrite", path))
        # emulate snapshot semantics on a side path, then swap for the fake
        import shutil

        df.write.mode("overwrite").parquet(self.backing + ".next")
        shutil.rmtree(self.backing, ignore_errors=True)
        shutil.move(self.backing + ".next", self.backing)


@pytest.mark.spark
def test_iceberg_substrate_routing(spark, tmp_path):
    """mode='iceberg' routes every store rewrite through ONE io.overwrite
    (native createOrReplace) — no staging directory, no parquet
    crash-recovery path."""
    store = ProfileStore(spark, str(tmp_path / "pice"))
    fake = RecorderIO("iceberg", str(tmp_path / "backing"))
    store._io = fake
    store.add_profile("u", "a", "zika dengue", now_ms=10)
    assert [c[0] for c in fake.calls if c[0] == "overwrite"] == ["overwrite"]
    assert not (tmp_path / "pice.staging").exists()
    fake.calls.clear()
    eng = FakeEngine()
    assert store.update_stale(eng, now_ms=100) == 1
    assert [c[0] for c in fake.calls if c[0] == "overwrite"] == ["overwrite"]
    assert store.get_profiles("u")[0]["update_time"] == 100


class FakeBatchEngine:
    """Batch-capable fake: records chunk sizes; hits derived from content."""

    def __init__(self):
        self.batches: list[int] = []

    def search_batch(self, queries, **kw):
        self.batches.append(len(queries))
        return {
            qid: [FakeHit(len(content) + i, 1.0 / (i + 1)) for i in range(3)]
            for qid, content in queries.items()
        }


@pytest.mark.spark
def test_update_stale_chunked_batches(spark, tmp_path):
    """The updater streams stale profiles through search_batch in
    chunk_size slices (driver holds one chunk of contents at a time)."""
    store = ProfileStore(spark, str(tmp_path / "p3"))
    eng = FakeBatchEngine()
    for i in range(10):
        store.add_profile("u", f"p{i}", f"zika dengue {'x' * i}", now_ms=10)
    assert store.update_stale(eng, now_ms=100, chunk_size=3) == 10
    assert sorted(eng.batches, reverse=True) == [3, 3, 3, 1]
    profs = store.get_profiles("u")
    assert all(p["update_time"] == 100 and len(p["sd_ids"]) == 3 for p in profs)


@pytest.mark.spark
def test_update_stale_large_store_bounded_driver(spark, tmp_path):
    """100k-profile store: stale filter → chunked batch refresh → one merge
    join → staged swap, with no full-table collect anywhere in the update
    path. Verification is itself collect-free (counts + a filtered probe)."""
    from pyspark.sql import functions as F

    store = ProfileStore(spark, str(tmp_path / "p100k"))
    n = 100_000
    # bulk-seed the store table directly (add_profile per row would be 100k
    # upsert jobs); half fresh, half stale
    seed = spark.range(n).select(
        F.concat(F.lit("u"), F.col("id")).alias("id"),
        F.concat(F.lit("user"), (F.col("id") % 1000)).alias("user"),
        F.concat(F.lit("p"), F.col("id")).alias("prof_name"),
        F.concat(F.lit("zika dengue "), F.col("id")).alias("prof_content"),
        F.lit(10).cast("long").alias("creation_time"),
        (F.when(F.col("id") % 2 == 0, 0).otherwise(999_999_999_999))
        .cast("long")
        .alias("update_time"),
        F.array().cast("array<long>").alias("sd_ids"),
        F.array().cast("array<float>").alias("sd_scores"),
    )
    seed.write.parquet(store.path)

    eng = FakeBatchEngine()
    refreshed = store.update_stale(eng, now_ms=100, chunk_size=16_384)
    assert refreshed == n // 2
    assert sum(eng.batches) == n // 2
    assert all(b <= 16_384 for b in eng.batches)
    df = store._read()
    assert df.count() == n
    assert df.filter(F.col("update_time") == 100).count() == n // 2
    probe = df.filter(F.col("id") == "u42").collect()[0]  # 42 is even → stale
    assert probe["update_time"] == 100 and len(probe["sd_ids"]) == 3
    fresh = df.filter(F.col("id") == "u43").collect()[0]
    assert fresh["update_time"] == 999_999_999_999 and fresh["sd_ids"] == []


class WriteCounter:
    """Wraps _write_staged to count staged writes (one-write-per-bulk-op
    assertions)."""

    def __init__(self, store):
        self.store, self.n = store, 0
        self._orig = store._write_staged
        store._write_staged = self

    def __call__(self, df):
        self.n += 1
        self._orig(df)


@pytest.mark.spark
def test_upsert_profiles_bulk_semantics(spark, tmp_path):
    """Bulk upsert = ONE staged write with per-row add_profile semantics:
    new rows get creation_time=now, changed content resets to stale
    preserving creation_time, unchanged content leaves the live row
    untouched (round-4 review: import was N full-table writes)."""
    store = ProfileStore(spark, str(tmp_path / "pb"))
    store.add_profile("u", "a", "zika", now_ms=10)
    eng = FakeEngine()
    store.update_stale(eng, now_ms=50)  # 'a' now fresh with sd_ids

    wc = WriteCounter(store)
    n = store.upsert_profiles(
        [
            ("u", "a", "zika"),          # unchanged → untouched
            ("u", "b", "dengue"),        # new
            ("u", "c", "febre"),         # new
            ("u", "c", "febre amarela"), # later duplicate id wins
        ],
        now_ms=100,
    )
    assert n == 3 and wc.n == 1
    rows = {r["prof_name"]: r for r in store.get_profiles("u")}
    assert set(rows) == {"a", "b", "c"}
    assert rows["a"]["update_time"] == 50 and len(rows["a"]["sd_ids"]) == 3
    assert rows["a"]["creation_time"] == 10
    assert rows["b"]["creation_time"] == 100 and rows["b"]["update_time"] == 0
    assert rows["c"]["prof_content"] == "febre amarela"

    # changed content on an existing row → stale, creation preserved
    wc.n = 0
    store.upsert_profiles([("u", "a", "zika dengue chikungunya")], now_ms=200)
    assert wc.n == 1
    row = {r["prof_name"]: r for r in store.get_profiles("u")}["a"]
    assert row["update_time"] == 0 and row["creation_time"] == 10
    assert row["sd_ids"] == []


@pytest.mark.spark
def test_import_json_profiles_one_staged_write(spark, tmp_path):
    import json

    store = ProfileStore(spark, str(tmp_path / "pi"))
    p = tmp_path / "profs.json"
    p.write_text(
        json.dumps(
            {
                f"k{i}": {
                    "user": [f"user{i % 2}"],
                    "prof_name": [f"p{i}"],
                    "prof_content": [f"zika dengue {i}"],
                }
                for i in range(6)
            }
        ),
        encoding="utf-8",
    )
    from similardocs_spark.profiles import import_json_profiles

    wc = WriteCounter(store)
    assert import_json_profiles(store, str(p), now_ms=1000) == 6
    assert wc.n == 1  # one staged write for the whole file
    assert len(store.get_profiles("user0")) == 3


@pytest.mark.spark
def test_recover_leaves_inflight_staging_alone(spark, tmp_path):
    """Round-4 ADVICE (medium): a reader must NOT touch the staging while
    the live table exists — a concurrent writer may own it mid-write. A
    stray staging is cleared by the next write instead."""
    import os

    store = ProfileStore(spark, str(tmp_path / "pr2"))
    store.add_profile("u", "a", "zika", now_ms=10)
    inflight = tmp_path / "pr2.staging" / "pr2"
    os.makedirs(inflight)
    (inflight / "part-inflight").write_text("x")

    profs = store.get_profiles("u")
    assert [p["prof_name"] for p in profs] == ["a"]
    assert (inflight / "part-inflight").exists()  # untouched: live intact

    # the next write discards the incomplete staging before staging its own
    store.add_profile("u", "b", "dengue", now_ms=20)
    assert sorted(os.listdir(tmp_path)) == ["pr2"]
    assert len(store.get_profiles("u")) == 2


@pytest.mark.spark
def test_get_sim_docs_multi_stale_one_batch(spark, tmp_path):
    """>1 stale requested profile → ONE search_batch call, not serial
    engine.search per profile (round-4 verdict item 6)."""

    class DocsEngine(FakeBatchEngine):
        class _Docs:
            def __init__(self, spark):
                from pyspark.sql import functions as F

                self._df = spark.range(200).select(
                    F.col("id").alias("doc_id"),
                    F.concat(F.lit("conv"), F.col("id")).alias("conv_id"),
                    F.lit("20270101").alias("update_date"),
                    F.lit("db1").alias("db"),
                    F.lit("i1").alias("instance"),
                )

            def filter(self, *a, **k):
                return self._df.filter(*a, **k)

        def __init__(self, spark):
            super().__init__()
            self._docs = self._Docs(spark)

    store = ProfileStore(spark, str(tmp_path / "pms"))
    eng = DocsEngine(spark)
    for nm, content in (("a", "zika"), ("b", "dengue"), ("c", "febre")):
        store.add_profile("u", nm, content, now_ms=10)
    got = store.get_sim_docs(eng, "u", ["a", "b", "c"], max_docs=9, now_ms=99)
    assert eng.batches == [3]  # one batch refresh for all three stale rows
    assert len(got) == 9
    # refresh persisted through the bounded upsert
    assert all(p["update_time"] == 99 for p in store.get_profiles("u"))
