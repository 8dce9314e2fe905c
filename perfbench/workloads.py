"""The benchmark's workloads, their correctness checks and the trace probes.

Both workloads search an index over the fixed corpus (generic doc-id path,
opaque conv_ids) and run their unit operation in a closed loop with one
client for the run's seconds. After the timed region every result is checked
against the pure-Python oracle: rank-identical doc ids and float32-equal
scores.

- serve: one `SearchEngine.search()` per operation, defaults only (auto
  scoring path, no split_time), on an engine opened with cache=True.
- sweep: one `ProfileStore.update_stale` over every profile per operation
  (split_time ladder, batch kernel, spill, merge and staged swap);
  `reset_all_times` between sweeps is not timed.
"""
from __future__ import annotations

import hashlib
import os
import random
import statistics
import subprocess
import sys
import time
from contextlib import contextmanager

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import corpus as C
import proctree

WARMUP_QUERIES = 8  # CPU per search still falls over the first ~8 calls (JIT)
SERVE_QUERY_POOL = 400
SWEEP_PROFILES = 64
SWEEP_DUP_SHARE = 0.25
DELTA_SHARE = 0.01

_TRANSCRIPT_SCHEMA = pa.schema([
    ("conv_id", pa.string()), ("turn_idx", pa.int32()), ("role", pa.string()),
    ("text", pa.string()), ("tool", pa.string()), ("ts", pa.timestamp("us", tz="UTC")),
])


def write_transcripts(convs: list[C.Conv], path: str) -> None:
    """Write convs as a transcripts parquet (the program's input schema)."""
    rows = [r for c in convs for r in c.rows()]
    cols = list(zip(*rows))
    table = pa.Table.from_arrays(
        [pa.array(col, type=f.type) for col, f in zip(cols, _TRANSCRIPT_SCHEMA)],
        schema=_TRANSCRIPT_SCHEMA,
    )
    pq.write_table(table, path)


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


def index_key() -> str:
    """Hash of the program's source and of the corpus generator: an index
    cached under this key was built by this code from this corpus."""
    import similardocs_spark

    h = hashlib.sha1()
    pkg = os.path.dirname(similardocs_spark.__file__)
    files = sorted(
        os.path.join(d, f) for d, _, fs in os.walk(pkg) for f in fs if f.endswith(".py")
    )
    for p in files + [C.__file__]:
        with open(p, "rb") as f:
            h.update(os.path.relpath(p, pkg).encode() + b"\0" + f.read())
    return h.hexdigest()[:16]


def file_state(root: str) -> dict[str, tuple[int, int]]:
    """path → (inode, size) of every file under root."""
    out = {}
    for d, _, fs in os.walk(root):
        for f in fs:
            p = os.path.join(d, f)
            st = os.stat(p)
            out[p] = (st.st_ino, st.st_size)
    return out


def build_index(spark, work: str, root: str) -> None:
    """Build the index over the fixed corpus at root (generic doc-id path)."""
    from similardocs_spark.index import build

    src = os.path.join(work, "corpus.parquet")
    if not os.path.exists(src):
        write_transcripts(C.make_corpus(random.Random(C.CORPUS_SEED)), src)
    build.build_index(spark, spark.read.parquet(src), root, seg_size=C.SEG_SIZE)


class Run:
    """State shared by one run's phases: session, inputs, index, oracle."""

    def __init__(self, spark, work: str, cache_dir: str, seed: int, seconds: float, tracer):
        self.spark, self.work, self.seconds, self.tracer = spark, work, seconds, tracer
        self.cache_dir = cache_dir
        self.rng = random.Random(seed)
        self.props: dict = {}
        self.values: dict = {}
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.phases: dict[str, float] = {}
        self.props["phases_s"] = self.phases

    @contextmanager
    def phase(self, name: str):
        """Record the wall time of one step of the run under props.phases_s."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.phases[name] = self.phases.get(name, 0.0) + time.perf_counter() - t0

    # ---------------------------------------------------------------- set-up

    def open_index(self) -> None:
        """Point self.paths at the index over the fixed corpus that this
        checkout caches under the cache dir, keyed by index_key(). When it
        is missing, a separate process builds it first (build_cache.py), so
        every measured session starts from the same state. No workload
        writes into the index it searches."""
        from similardocs_spark.index.build import IndexPaths

        with self.phase("corpus"):
            self.live = {c.conv_id: c for c in C.make_corpus(random.Random(C.CORPUS_SEED))}
        root = os.path.join(self.cache_dir, f"index-{index_key()}")
        if not os.path.isdir(root):
            script = os.path.join(os.path.dirname(__file__), "build_cache.py")
            with self.phase("build_cache"):
                subprocess.run([sys.executable, script, root], check=True, timeout=600)
        self.paths = IndexPaths(root)
        self.props["index_bytes"] = {
            k: dir_bytes(getattr(self.paths, k)) for k in ("docs", "postings", "terms")
        }
        self.props["input_text_bytes"] = sum(
            len(t.encode()) for c in self.live.values() for t in c.turns
        )

    def open_engine(self):
        from similardocs_spark.query.engine import SearchEngine

        with self.phase("open"):
            return SearchEngine(self.spark, self.paths, C.TODAY, C.END_DAYS_AGO, cache=True)

    def check_state(self) -> None:
        """Read the index's conv_id → doc_id map, build the oracle over the
        same corpus and record the corpus properties."""
        from similardocs_spark.oracle.refsearch import OracleDoc, OracleIndex, OracleSearch

        rows = self.spark.read.parquet(self.paths.docs).select("conv_id", "doc_id", "seg").collect()
        doc_ids = {r["conv_id"]: r["doc_id"] for r in rows}
        docs = [
            OracleDoc(doc_ids[c.conv_id], c.conv_id, list(c.turns), update_date=c.update_date)
            for c in self.live.values()
        ]
        self.oracle = OracleSearch(OracleIndex.build(docs), C.TODAY, C.END_DAYS_AGO)
        self.props.update(
            convs=len(rows), terms=len(self.oracle.idx.postings),
            segments=len({r["seg"] for r in rows}),
        )

    # ------------------------------------------------------------ timed loop

    def loop(self, op, between=None, weight: int = 1) -> list[float]:
        """Closed loop, one client: run op(i) until the run's seconds are up
        (at least once); `between()` runs untimed before every op but the
        first. Each op counts `weight` operations. Records op_p50_s and
        op_cpu_s (CPU seconds of the whole process tree per op, which host
        steal does not inflate) and returns the latencies."""
        lat, cpu = [], []
        t_end = time.perf_counter() + self.seconds
        i = 0
        while i == 0 or time.perf_counter() < t_end:
            if i and between is not None:
                t_pause = time.perf_counter()
                between()
                t_end += time.perf_counter() - t_pause
            c0, t0 = proctree.cpu_seconds(), time.perf_counter()
            self.attempted += weight
            try:
                op(i)
            except Exception as e:  # an operation that raises counts as failed
                self.failed += weight
                self.errors.append(f"op {i}: {type(e).__name__}: {e}")
            lat.append(time.perf_counter() - t0)
            cpu.append(proctree.cpu_seconds() - c0)
            i += 1
        self.values["op_p50_s"] = statistics.median(lat)
        self.values["op_cpu_s"] = statistics.median(cpu)
        self.props["op_cpu_s"] = cpu
        return lat

    # ------------------------------------------------------------ correctness

    def expect(self, ok: bool, msg: str) -> None:
        """Count one failed operation unless ok."""
        if not ok:
            self.failed += 1
            self.errors.append(msg)

    def same_hits(self, ids, scores, exp) -> bool:
        return [int(i) for i in ids] == [h.doc_id for h in exp] and [
            np.float32(s) for s in scores
        ] == [np.float32(h.score) for h in exp]


def _wand_auto_share(run: Run, queries: list[str]) -> float:
    """Share of queries whose Σdf over their terms reaches
    WAND_AUTO_MIN_POSTINGS, the volume at which search() picks WAND."""
    from similardocs_spark.query.engine import WAND_AUTO_MIN_POSTINGS
    from similardocs_spark.synonyms import expanded_query_terms
    from similardocs_spark.textnorm import uniform_text

    def volume(q: str) -> int:
        terms = expanded_query_terms(" ".join(uniform_text(q)), None)
        return sum(run.oracle.idx.df(t) for t in terms)

    return sum(volume(q) >= WAND_AUTO_MIN_POSTINGS for q in queries) / max(1, len(queries))


def serve(run: Run) -> float:
    """Closed loop of search() calls; returns the start of the timed region."""
    run.open_index()
    engine = run.open_engine()
    with run.phase("warmup"):
        for q in C.make_queries(run.rng, WARMUP_QUERIES):
            engine.search(q)
    pool = C.make_queries(run.rng, SERVE_QUERY_POOL)
    got: dict[int, list] = {}

    def op(i: int) -> None:
        got[i] = engine.search(pool[i % len(pool)])

    t_start = time.time()
    lat = run.loop(op)
    run.timed = (t_start, time.time())
    with run.phase("check"):
        run.check_state()
        for i, rows in got.items():
            exp = run.oracle.search(pool[i % len(pool)])
            run.expect(
                run.same_hits([r.doc_id for r in rows], [r.score for r in rows], exp),
                f"serve query {i} differs from the oracle",
            )
    run.props["serve"] = {
        "queries": len(lat),
        "latencies_s": lat,
        "wand_auto_share": _wand_auto_share(run, pool[: len(lat)]),
    }
    return t_start


def _ladder_steps(hits) -> int:
    """Day buckets the split_time ladder visits for one profile's hits."""
    from similardocs_spark.oracle.refsearch import (
        DEFAULT_MAX_DOCS, MAX_LOWER_LIMIT, days_ago_str, get_day_range,
    )

    cur, steps, need = C.END_DAYS_AGO, 0, DEFAULT_MAX_DOCS
    while need > 0:
        bucket = get_day_range(cur, MAX_LOWER_LIMIT, C.END_DAYS_AGO)
        if bucket is None:
            break
        lo, hi = days_ago_str(C.TODAY, bucket[0]), days_ago_str(C.TODAY, bucket[1])
        need -= sum(lo <= h.update_date <= hi for h in hits)
        steps += 1
        cur = bucket[0] + 1
    return steps


def sweep(run: Run) -> float:
    """update_stale over every profile, repeated; returns the start of the
    timed region."""
    from similardocs_spark.profiles import ProfileStore

    run.open_index()
    engine = run.open_engine()
    store = ProfileStore(run.spark, os.path.join(run.work, "profiles"))
    profiles = C.make_profiles(run.rng, SWEEP_PROFILES, SWEEP_DUP_SHARE)
    with run.phase("profiles"):
        store.upsert_profiles(profiles, now_ms=1)
    snapshots: list[list] = []

    def snapshot() -> None:
        snapshots.append(
            run.spark.read.parquet(store.path)
            .select("prof_content", "update_time", "sd_ids", "sd_scores").collect()
        )

    def between() -> None:
        snapshot()
        store.reset_all_times()

    t_start = time.time()
    lat = run.loop(
        lambda i: store.update_stale(engine, now_ms=1000 + i), between, weight=len(profiles)
    )
    run.timed = (t_start, time.time())
    with run.phase("check"):
        snapshot()
        run.check_state()
        expected = {c: run.oracle.search(c, split_time=True) for _, _, c in profiles}
        for i, rows in enumerate(snapshots):
            for r in rows:
                run.expect(
                    r["update_time"] == 1000 + i
                    and run.same_hits(r["sd_ids"], r["sd_scores"], expected[r["prof_content"]]),
                    f"sweep {i}: a profile differs from the oracle or was not refreshed",
                )
    run.props["sweep"] = {
        "sweeps": len(lat), "latencies_s": lat, "profiles": len(profiles),
        "profiles_per_s": len(profiles) / statistics.median(lat),
        "dup_share": 1 - len(expected) / len(profiles),
        "ladder_buckets_max": max(_ladder_steps(hits) for hits in expected.values()),
    }
    return t_start


WORKLOADS = {"serve": serve, "sweep": sweep}


# ---------------------------------------------------------------- probes
# Traced runs only, after the timed region: the layers that neither timed
# loop reaches get measured calls of their own, on a private index.


def build_probe(run: Run) -> str:
    """A full build_index of the fixed corpus; returns the new index root."""
    root = os.path.join(run.work, "index-probe")
    build_index(run.spark, run.work, root)
    return root


def tokenize_probe(run: Run) -> None:
    """The tokenizer returns a lazy plan; force it into a no-op sink so its
    cost is measured apart from the writes that normally consume it."""
    from similardocs_spark.index.build import assemble_docs, tokenize_docs

    t = run.spark.read.parquet(os.path.join(run.work, "corpus.parquet"))
    with run.tracer.span("functions.tokenize"):
        tokenize_docs(assemble_docs(t)).write.format("noop").mode("overwrite").save()


def delta_probe(run: Run, root: str) -> None:
    """One incremental_update of ~1% of the corpus on the index at root:
    half inserts, half updates of recently active convs. Checks the counts
    it returns and the merged docs table against the expected corpus."""
    from similardocs_spark.index.build import IndexPaths
    from similardocs_spark.index.incremental import incremental_update

    paths = IndexPaths(root)
    delta = C.make_delta(run.rng, run.live, max(2, int(len(run.live) * DELTA_SHARE)))
    src = os.path.join(run.work, "delta.parquet")
    write_transcripts(delta, src)
    delta_bytes = sum(len(t.encode()) for c in delta for t in c.turns)
    before = file_state(paths.root)
    got = incremental_update(run.spark, paths, run.spark.read.parquet(src))
    after = file_state(paths.root)
    n_upd = sum(c.conv_id in run.live for c in delta)
    want = {"inserts": len(delta) - n_upd, "updates": n_upd, "skips": 0}
    merged = {**run.live, **{c.conv_id: c for c in delta}}
    stored = {
        r["conv_id"]: r["update_date"]
        for r in run.spark.read.parquet(paths.docs).select("conv_id", "update_date").collect()
    }
    run.attempted += 1
    run.expect(
        {k: got[k] for k in want} == want
        and stored == {cid: c.update_date for cid, c in merged.items()},
        f"delta: counts {got} (want {want}) or merged docs differ",
    )
    run.props["delta"] = {
        **want, "segs_touched": got["segs"], "segs_total": run.props["segments"],
        "rewritten_bytes_per_delta_byte": sum(
            size for p, (ino, size) in after.items() if before.get(p, (None,))[0] != ino
        ) / delta_bytes,
    }
