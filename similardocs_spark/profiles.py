"""Profile store + materialization — the service/TopIndex equivalent.

Reference model (TopIndex.scala:45-135, 319-478, 624-723): per-(user, profile)
documents holding the profile sentence and a denormalized list of similar-doc
ids; a background updater refreshes stale profiles (update_time == 0 or older
than 2h) by running the similarity search with maxDocs=Conf.maxDocs and
splitTime=true; retrieval interleaves per-profile id lists round-robin
(limitDocs) and applies an optional recency gate on update_date.

Spark-native shape: a parquet table (Iceberg MERGE INTO on deployments with
the runtime jar) + ONE batch job for the updater instead of a polling
one-at-a-time Future loop. `update_time == 0` is the stale marker, exactly
as the reference (TopIndex.scala:651,697-698).

Scale shape: every mutation is a DATAFLOW — filter / join against a
LocalRelation of changed rows, staged write, atomic-ish swap — never a
full-table collect to the driver. Driver residency is bounded by one
updater CHUNK (ids + contents of `chunk_size` stale profiles at a time via
toLocalIterator) plus the per-chunk result id lists, which stream to a
spill parquet before the final merge join. The reference's table is tiny
(per-user profiles), but at millions of profiles the old read-modify-write
was a driver bottleneck (round-3 review)."""
from __future__ import annotations

import os
import shutil
import threading
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .oracle.refsearch import DEFAULT_MAX_DOCS, DEFAULT_MIN_NGRAMS, days_ago_str

SCHEMA = (
    "id string, user string, prof_name string, prof_content string, "
    "creation_time long, update_time long, sd_ids array<long>, sd_scores array<float>"
)
RESULT_SCHEMA = (
    "id string, _new_ids array<long>, _new_scores array<float>, _new_time long"
)
STALE_DELTA_MS = 2 * 60 * 60 * 1000  # TopIndex.scala:54 deltaTime
UPDATE_CHUNK = 10_000  # stale profiles materialized on the driver at a time


def profile_id(user: str, name: str) -> str:
    """Reference id = "<user>_<name>" lowercased via LowerCaseAnalyzer
    (TopIndex.scala:382, LowerCaseAnalyzer.scala:19-30)."""
    from .textnorm import uniform_string

    return uniform_string(f"{user.strip()}_{name.strip()}")


@dataclass
class ProfileStore:
    """Substrate-routed: on deployments with the Iceberg runtime the store
    is a catalog table and every overwrite is a native snapshot commit
    (createOrReplace — atomic, no staging dance); the parquet fallback
    implements the same semantics with a staged directory swap plus crash
    recovery. Selection mirrors index/catalog.get_io (SIMDOCS_SUBSTRATE
    override honored)."""

    spark: SparkSession
    path: str

    def __post_init__(self) -> None:
        from .index.catalog import get_io

        self._io = get_io(self.spark, self.path)
        # serializes _recover/_write_staged within this process (background
        # updater thread vs serving reads — the reference's deployment
        # shape). Multi-PROCESS writers additionally need external
        # coordination (or the Iceberg substrate, whose commits are atomic);
        # the reference runs a single updater service per store.
        self._swap_lock = threading.RLock()

    def _read(self) -> DataFrame:
        from .util import local_df

        if self._io.mode == "parquet":
            self._recover()
        if not self._io.exists(self.spark, self.path):
            return local_df(self.spark, [], SCHEMA)
        return self._io.read(self.spark, self.path)

    # ------------------------------------------------------ staged overwrite

    def _stage(self) -> str:
        return self.path + ".staging"

    def _old(self) -> str:
        return self.path + ".old"

    def _recover(self) -> None:
        """(parquet mode only) Finish or roll back a swap interrupted by a
        crash: a COMMITTED staging next to a missing live table is rolled
        forward; anything else partial is discarded (the live table —
        possibly parked at .old — is restored).

        Repair acts ONLY when the live table is actually missing. An
        unconditional cleanup here would let a reader concurrent with an
        in-flight _write_staged delete the writer's staging dir mid-write
        (round-4 review); stray .staging/.old dirs from a crash that left
        the live table intact are instead cleared by the NEXT _write_staged
        before it stages. In-process, the swap lock serializes repair
        against writes; the transient path-missing window inside a write is
        additionally tolerated by _write_staged's promote check below."""
        if os.path.exists(self.path):
            return  # live table intact — nothing to repair, touch nothing
        stage, old = self._stage(), self._old()
        # lock-free fast path above: readers only contend here when the live
        # table is missing — either a real crash (repair below) or the
        # in-flight writer's two-rename swap window (they block until the
        # writer releases, then re-check and no-op)
        with self._swap_lock:
            if os.path.exists(self.path):
                return
            if os.path.exists(stage) and self._io.committed(self.spark, stage):
                os.rename(stage, self.path)  # roll forward
            elif os.path.exists(old):
                os.rename(old, self.path)  # roll back
            shutil.rmtree(stage, ignore_errors=True)
            shutil.rmtree(old, ignore_errors=True)

    def _write_staged(self, df: DataFrame) -> None:
        """Overwrite the store FROM A PLAN THAT READS IT.

        Iceberg substrate: one native createOrReplace — but a self-referential
        replace-table-as-select (plan reads the table it replaces) is not
        guaranteed to be accepted, so the derived rows are materialized
        (localCheckpoint) first, cutting the lineage back to the source
        table before the atomic snapshot swap. A real deployment can instead
        route CRUD through MERGE INTO / DELETE; unverifiable in this sandbox
        (no runtime jar), kept conservative.

        Parquet substrate: write to a staging dir first (the source parquet
        stays live while the job runs), then swap directories — the same
        crash-repairable two-phase shape as index/incremental, with
        `_recover` rolling an interrupted swap forward or back."""
        if self._io.mode != "parquet":
            self._io.overwrite(df.localCheckpoint(eager=True), self.path)
            return
        stage, old = self._stage(), self._old()
        with self._swap_lock:
            # clear leftovers from any earlier crash BEFORE staging (readers
            # no longer clean these; see _recover) — also guarantees the
            # os.rename(self.path, old) below has a clear target
            shutil.rmtree(stage, ignore_errors=True)
            shutil.rmtree(old, ignore_errors=True)
            self._io.overwrite(df, stage)  # writes the commit marker
            if os.path.exists(self.path):
                os.rename(self.path, old)
            try:
                os.rename(stage, self.path)
            except OSError:
                # a concurrent _recover (other process) caught the
                # path-missing window and promoted the committed stage
                # itself — converged to the same result
                if not (os.path.exists(self.path) and not os.path.exists(stage)):
                    raise
            shutil.rmtree(old, ignore_errors=True)

    def _merge_rows(self, changed: list[dict]) -> None:
        """Upsert a bounded set of fully-specified rows: anti-join the live
        table against the changed ids, union the new rows, staged write.
        One shuffle-free broadcast anti-join regardless of table size."""
        from .util import _schema_columns, local_df

        cols = _schema_columns(SCHEMA)
        changed_df = local_df(
            self.spark, [tuple(d[c] for c in cols) for d in changed], SCHEMA
        )
        survivors = self._read().join(
            F.broadcast(changed_df.select("id")), "id", "left_anti"
        )
        self._write_staged(survivors.unionByName(changed_df))

    # ------------------------------------------------------------------ CRUD

    def add_profile(self, user: str, name: str, content: str, now_ms: int) -> None:
        """Upsert; an unchanged content is a no-op, a changed one resets
        update_time to 0 (stale) — TopIndex.scala:105-135. Reads ONLY the
        targeted row; the rewrite is an anti-join merge, not a collect."""
        pid = profile_id(user, name)
        old = self._read().filter(F.col("id") == pid).collect()
        old_row = old[0].asDict() if old else None
        if old_row is not None and old_row["prof_content"] == content:
            return
        creation = old_row["creation_time"] if old_row else now_ms
        self._merge_rows([
            dict(
                id=pid, user=user, prof_name=name, prof_content=content,
                creation_time=creation, update_time=0, sd_ids=[], sd_scores=[],
            )
        ])

    def upsert_profiles(
        self, entries: list[tuple[str, str, str]], now_ms: int
    ) -> int:
        """Bulk upsert of (user, name, content) entries with ONE staged write
        (round-4 review: the per-profile add_profile loop was N full-table
        writes for an N-profile import). Same per-row semantics as
        add_profile — unchanged content keeps the live row untouched, changed
        content resets update_time to 0 preserving creation_time, new ids get
        creation_time=now_ms — expressed as one full-outer join between the
        live table and an Arrow LocalRelation of the entries (full outer
        cannot use a broadcast-hash build side, so no broadcast hint: Spark
        would silently ignore it and sort-merge anyway); no
        driver-side read of the live table at all. Later duplicate ids within
        `entries` win (dict-last semantics, matching sequential add_profile
        calls). Returns the number of entries applied (deduplicated)."""
        from .util import local_df

        by_id: dict[str, tuple[str, str, str]] = {}
        for user, name, content in entries:
            by_id[profile_id(user, name)] = (user, name, content)
        if not by_id:
            return 0
        imp = local_df(
            self.spark,
            [(pid, u, n, c) for pid, (u, n, c) in sorted(by_id.items())],
            "id string, _i_user string, _i_name string, _i_content string",
        )
        live = self._read()
        merged = live.join(imp, "id", "full_outer")
        fresh = F.col("_i_content").isNotNull() & (
            F.col("prof_content").isNull()
            | (F.col("prof_content") != F.col("_i_content"))
        )
        empty_ids = F.array().cast("array<long>")
        empty_scores = F.array().cast("array<float>")
        self._write_staged(
            merged.select(
                "id",
                F.coalesce("user", "_i_user").alias("user"),
                F.coalesce("prof_name", "_i_name").alias("prof_name"),
                F.when(fresh, F.col("_i_content"))
                .otherwise(F.col("prof_content"))
                .alias("prof_content"),
                F.coalesce("creation_time", F.lit(now_ms)).alias("creation_time"),
                F.when(fresh, F.lit(0).cast("long"))
                .otherwise(F.col("update_time"))
                .alias("update_time"),
                F.when(fresh, empty_ids).otherwise(F.col("sd_ids")).alias("sd_ids"),
                F.when(fresh, empty_scores)
                .otherwise(F.col("sd_scores"))
                .alias("sd_scores"),
            )
        )
        return len(by_id)

    def delete_profile(self, user: str, name: str) -> None:
        pid = profile_id(user, name)
        self._write_staged(self._read().filter(F.col("id") != pid))

    def delete_user(self, user: str) -> None:
        self._write_staged(self._read().filter(F.col("user") != user))

    def get_profiles(self, user: str) -> list:
        return (
            self._read().filter(F.col("user") == user).orderBy("prof_name").collect()
        )

    def users(self) -> list[str]:
        return [r["user"] for r in self._read().select("user").distinct().collect()]

    # -------------------------------------------------------------- updating

    def _search_chunk(self, engine, chunk: list[tuple[str, str]], now_ms: int) -> list:
        """Refresh one chunk of (id, content) → RESULT_SCHEMA tuples."""
        kwargs = dict(
            max_docs=DEFAULT_MAX_DOCS, min_ngrams=DEFAULT_MIN_NGRAMS,
            split_time=True,
        )
        if hasattr(engine, "search_batch"):
            res = engine.search_batch(dict(chunk), **kwargs)
        else:  # engines without batch support (e.g. test fakes)
            res = {pid: engine.search(content, **kwargs) for pid, content in chunk}
        return [
            (
                pid,
                [int(h.doc_id) for h in res.get(pid, [])],
                [float(h.score) for h in res.get(pid, [])],
                now_ms,
            )
            for pid, _ in chunk
        ]

    def update_stale(
        self, engine, now_ms: int, delta_ms: int = STALE_DELTA_MS,
        chunk_size: int = UPDATE_CHUNK,
    ) -> int:
        """Batch refresh of every stale profile (update_time == 0 or older than
        delta) — the Spark-native form of the reference's one-at-a-time
        background Future loop (TopIndex.scala:624-666). Dataflow shape:

          stale = filter(update_time stale)           # never collected whole
          for each chunk of `chunk_size` (id, content) via toLocalIterator:
              search_batch(chunk) → result rows appended to a spill parquet
          merged = profiles LEFT JOIN spill ON id     # one join
          staged write + swap

        Driver residency is one chunk of contents + one chunk of top-k id
        lists at a time; everything else stays distributed. Returns
        #refreshed."""
        df = self._read()
        stale_cond = (F.col("update_time") == 0) | (
            F.col("update_time") < now_ms - delta_ms
        )
        stale = df.filter(stale_cond).select("id", "prof_content")
        from .util import local_df

        spill = self.path + ".updates"
        shutil.rmtree(spill, ignore_errors=True)
        n_refreshed = 0
        chunk: list[tuple[str, str]] = []

        def flush() -> None:
            nonlocal n_refreshed
            if not chunk:
                return
            rows = self._search_chunk(engine, chunk, now_ms)
            local_df(self.spark, rows, RESULT_SCHEMA).write.mode("append").parquet(
                spill
            )
            n_refreshed += len(chunk)
            chunk.clear()

        for r in stale.toLocalIterator():
            chunk.append((r["id"], r["prof_content"]))
            if len(chunk) >= chunk_size:
                flush()
        flush()
        if n_refreshed == 0:
            return 0
        res_df = self.spark.read.parquet(spill)
        merged = (
            df.join(res_df, "id", "left")
            .select(
                "id", "user", "prof_name", "prof_content", "creation_time",
                F.coalesce("_new_time", F.col("update_time")).alias("update_time"),
                F.coalesce("_new_ids", F.col("sd_ids")).alias("sd_ids"),
                F.coalesce("_new_scores", F.col("sd_scores")).alias("sd_scores"),
            )
        )
        self._write_staged(merged)
        shutil.rmtree(spill, ignore_errors=True)
        return n_refreshed

    def reset_all_times(self, user: str | None = None) -> int:
        """Mark profiles stale (update_time = 0) — the reference's
        resetAllTimes/reset paths (TopIndex.scala:730-821); optionally scoped
        to one user. The next update_stale() rematerializes them. Pure
        dataflow: count + conditional column rewrite, no collect."""
        df = self._read()
        cond = F.col("update_time") != 0
        if user is not None:
            cond = cond & (F.col("user") == user)
        n = df.filter(cond).count()
        if n:
            self._write_staged(
                df.withColumn(
                    "update_time",
                    F.when(cond, F.lit(0).cast("long")).otherwise(
                        F.col("update_time")
                    ),
                )
            )
        return int(n)

    def update_all(self, engine, now_ms: int) -> int:
        """Force-refresh every profile regardless of staleness
        (updateAllSimilarDocs — TopIndex.scala:844-851 preprocess path)."""
        self.reset_all_times()
        return self.update_stale(engine, now_ms)

    # ------------------------------------------------------------- retrieval

    def get_sim_docs(
        self,
        engine,
        user: str,
        names: list[str],
        max_docs: int = DEFAULT_MAX_DOCS,
        consider_date_days: int | None = None,
        now_ms: int | None = None,
    ) -> list[dict]:
        """Round-robin interleave of the per-profile materialized id lists
        (limitDocs — TopIndex.scala:455-478), then doc-field lookup with an
        optional update_date recency gate (TopIndex.scala:410-443). Profiles
        with update_time == 0 are refreshed on demand (TopIndex.scala:386-388).
        Reads ONLY the requested profile rows; on-demand refreshes merge back
        via the bounded upsert, never a full-table rewrite."""
        pids = [profile_id(user, name) for name in names]
        table = {
            r["id"]: r.asDict()
            for r in self._read().filter(F.col("id").isin(pids)).collect()
        }
        # refresh ALL stale requested profiles in one batch call (one grouped
        # plan instead of a serial engine.search per profile) when the engine
        # supports it; _search_chunk falls back to serial search otherwise
        stale = [
            (pid, table[pid]["prof_content"])
            for pid in pids
            if pid in table and table[pid]["update_time"] == 0
        ]
        dirty_rows: list[dict] = []
        if stale:
            for pid, ids, scores, t in self._search_chunk(
                engine, stale, now_ms or 1
            ):
                row = table[pid]
                row["sd_ids"], row["sd_scores"], row["update_time"] = ids, scores, t
                dirty_rows.append(row)
        id_lists = [
            list(table[pid]["sd_ids"])
            for pid in pids
            if pid in table and table[pid]["sd_ids"]
        ]
        if dirty_rows:
            self._merge_rows(dirty_rows)

        ids = limit_docs(id_lists, max_docs)
        if not ids:
            return []
        docs = (
            engine._docs.filter(F.col("doc_id").isin(ids))
            .select("doc_id", "conv_id", "update_date", "db", "instance")
            .collect()
        )
        by_id = {r["doc_id"]: r.asDict() for r in docs}
        out = [by_id[i] for i in ids if i in by_id]
        if consider_date_days is not None:
            gate = days_ago_str(engine.today, consider_date_days)
            out = [d for d in out if d["update_date"] >= gate]
        return out


def import_json_profiles(store: "ProfileStore", path: str, now_ms: int) -> int:
    """JSON profile import (reference others/UpdateProfiles.scala:69-123:
    {id: {field: [values]}} → upsert). One bulk upsert — ONE staged write
    for the whole file, not one per profile (round-4 review)."""
    import json

    with open(path, encoding="utf-8") as f:
        data = json.load(f)
    entries = []
    for pid, fields in sorted(data.items()):
        user = fields.get("user", [pid])[0]
        name = fields.get("prof_name", [pid])[0]
        content = " ".join(fields.get("prof_content", []))
        if content:
            entries.append((user, name, content))
    if not entries:
        return 0
    store.upsert_profiles(entries, now_ms)
    return len(entries)


def limit_docs(doc_lists: list[list[int]], max_docs: int) -> list[int]:
    """Reference limitDocs (TopIndex.scala:455-478): repeatedly take the head
    of each non-empty list in order, appending up to the remaining quota."""
    ids: list[int] = []
    docs = [list(l) for l in doc_lists]
    while docs:
        num = max_docs - len(ids)
        if num <= 0:
            break
        heads = [l[0] for l in docs if l]
        docs = [l[1:] for l in docs if len(l) > 1]
        ids.extend(heads[:num])
    return ids[:max_docs]
