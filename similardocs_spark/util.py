"""Small shared utilities for driver-side tables and scoped execution confs."""
from __future__ import annotations

import threading
import weakref
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession


def _schema_split(schema: str) -> list[str]:
    """DDL schema string → per-column "name type" pieces, respecting <>
    nesting ("a string, b array<string>" → ["a string", "b array<string>"])."""
    cols, depth, cur = [], 0, []
    for ch in schema:
        if ch == "<":
            depth += 1
        elif ch == ">":
            depth -= 1
        if ch == "," and depth == 0:
            cols.append("".join(cur))
            cur = []
        else:
            cur.append(ch)
    cols.append("".join(cur))
    return [c.strip() for c in cols if c.strip()]


def _schema_columns(schema: str) -> list[str]:
    """Column names from a DDL schema string ("a string, b array<string>"
    → ["a", "b"])."""
    return [c.split()[0] for c in _schema_split(schema)]


def local_df(spark: SparkSession, rows: list, schema: str) -> DataFrame:
    """Tiny driver-side table as an Arrow-backed LocalRelation.

    A plain createDataFrame(list) goes through the RDD path: the data is
    pickled into defaultParallelism slices and EVERY materialization (e.g.
    a broadcast exchange) runs a full Python-task stage — measured ~1.2 s
    per tiny broadcast table at local-cluster[4,8], ~3.6 s of pure overhead
    per query batch. Routing through pandas + Arrow produces a LocalRelation
    the JVM holds directly: zero jobs, zero Python tasks at materialization."""
    import pandas as pd

    if not rows:
        # zero-row JVM plan (range(0) + typed-null projection): no RDD, no
        # Python task — the old parallelize fallback ran a one-task pickled
        # job per empty-table write
        pairs = []
        for col in _schema_split(schema):
            name, typ = col.strip().split(None, 1)
            pairs.append(f"CAST(NULL AS {typ}) AS {name}")
        return spark.range(0).selectExpr(*pairs)
    pdf = pd.DataFrame(rows, columns=_schema_columns(schema))
    return spark.createDataFrame(pdf, schema=schema)


def spread_input(df: DataFrame) -> DataFrame:
    """Scale-adaptive post-read spread for row-local-heavy plans.

    At the test scale factors the driver tables are single small parquet
    files, so a scan yields ONE partition and every row-local transform
    (tokenizer UDF chains, window hashing, signature kernels) runs on one
    core of the whole machine. Repartition to the session's default
    parallelism ONLY when the scan yields fewer partitions than that —
    a production multi-file table already scans wide and skips the
    exchange entirely (guide-§2.5 input-skew fix, kept scale-adaptive
    instead of an unconditional repartition that would reshuffle a
    100-TB corpus for nothing). The round-robin exchange is deterministic
    (sort-before-repartition) and every caller's output is
    partitioning-invariant, so results are unchanged.
    """
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


# (context-id, path, parallelism) → spread decision. The probe costs ~0.1 s
# of driver planning per call; the answer is stable for a given file set
# within a session, and the driver/bench harnesses re-read the same paths
# dozens of times per session.
_SPREAD_CACHE: dict = {}


def read_spread(spark: SparkSession, path: str) -> DataFrame:
    """spark.read.parquet(path) + scale-adaptive spread (see spread_input),
    with the partition-count probe memoized per (context, path)."""
    sc = spark.sparkContext
    target = sc.defaultParallelism
    key = (id(sc), path, target)
    df = spark.read.parquet(path)
    dec = _SPREAD_CACHE.get(key)
    if dec is None:
        dec = df.rdd.getNumPartitions() < target
        _SPREAD_CACHE[key] = dec
    return df.repartition(target) if dec else df


ISIN_MAX_LITERALS = 128


def filter_terms(df: DataFrame, terms, col: str = "term") -> DataFrame:
    """`df` restricted to rows whose `col` ∈ terms.

    Small sets use a literal In() — it reaches the parquet scan as a pushed
    filter (row-group min/max pruning on term-sorted files). Large sets use
    a broadcast LEFT SEMI join against an Arrow LocalRelation instead:
    PySpark's Column.isin makes a py4j round-trip PER LITERAL (~12 s of
    driver time measured for a 1152-query batch's ~2.6k distinct terms),
    and a thousands-element In() defeats row-group pruning anyway (every
    row group matches some term)."""
    terms = sorted(terms)
    from pyspark.sql import functions as F

    if len(terms) <= ISIN_MAX_LITERALS:
        return df.filter(F.col(col).isin(terms))
    tdf = F.broadcast(
        local_df(df.sparkSession, [(t,) for t in terms], f"{col} string")
    )
    return df.join(tdf, col, "left_semi")


_CONF_LOCK = threading.RLock()
# Per-SparkSession scope state ({conf key: (depth, saved value)}), keyed
# weakly so a discarded session (spark.newSession() churn) doesn't pin its
# entry: two sessions in one process (e.g. a test harness session next to a
# serving session) must save/set/restore THEIR OWN conf values independently
# — a process-global depth counter would skip setting the confs on the
# second session entirely while the first holds a scope open.
_CONF_STATE: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


@contextmanager
def scoped_conf(spark: SparkSession, confs: dict[str, str]):
    """Set `confs` on `spark` for the duration of the scope.

    The confs are session-global; concurrent scopes on the same session
    (multi-threaded serving, a build next to a search) must set the SAME
    value for any key they share, so overlap is compatible — what must not
    interleave is the save/restore bookkeeping. A per-session, per-key depth
    counter under a process-wide lock guards it: only the first scope to
    enter saves a key's prior value, only the last to exit restores it, and
    the lock is NOT held across the body (queries stay concurrent). An unset
    key is saved as None and unset again on exit. Residual caveat, by
    design: an unrelated query planned ON THE SAME SESSION while a scope is
    open sees these values."""
    with _CONF_LOCK:
        state = _CONF_STATE.setdefault(spark, {})
        for key, val in confs.items():
            depth, saved = state.get(key, (0, None))
            if depth == 0:
                saved = spark.conf.get(key, None)
                spark.conf.set(key, val)
            state[key] = (depth + 1, saved)
    try:
        yield
    finally:
        with _CONF_LOCK:
            for key in confs:
                depth, saved = state[key]
                if depth > 1:
                    state[key] = (depth - 1, saved)
                    continue
                del state[key]
                if saved is None:
                    spark.conf.unset(key)
                else:
                    spark.conf.set(key, saved)


# Scoped execution confs for the scoring-kernel plans:
# - adaptive.enabled=false ON MULTI-EXECUTOR DEPLOYMENTS ONLY: the
#   batch/kernel plans are hand-partitioned (fixed partitions, explicit
#   join hints, segment-keyed skew bounds), so AQE's per-shuffle-stage
#   driver re-plan round is pure latency when each round is a
#   cross-process RTT — measured interleaved A/B at local-cluster[4,2]:
#   8.15 -> 7.28 s best-of-3 per 1152-query batch
#   (PROFILE_AQE_AB_4X2.json), and +82% batch throughput at 8x4 in the
#   scaling campaign. In a single-JVM local[N] session the re-plan is an
#   in-process call and AQE's empty/tiny-partition coalescing WINS for
#   the many micro-stages of the single-query path (interleaved A/B at
#   local[32], sf0.1: 9 WAND queries 8.6 s with AQE vs 10.8 s without;
#   batch a wash) — so local[N] keeps AQE. Skew splitting is not needed
#   on this path either way: postings are bounded per segment and kernel
#   output is capped at pool rows per (segment, query).
# - minPartitionSize=16k: byte-based coalescing collapsed the CPU-bound
#   kernel stage reading ~8 MB to 7 tasks on 32 cores (4.1 s for 22 s of
#   executor CPU); applied whenever AQE is active in the scope.
def _kernel_confs(spark: SparkSession) -> dict[str, str]:
    confs = {"spark.sql.adaptive.coalescePartitions.minPartitionSize": "16k"}
    master = spark.sparkContext.master or ""
    # single-JVM masters are `local` or `local[N]`/`local[*]`;
    # `local-cluster[...]` and real cluster managers run executors in
    # separate JVMs (a bare `local` must NOT match the bracket prefix test)
    single_jvm = master == "local" or master.startswith("local[")
    if not single_jvm:  # executors in separate JVMs
        confs["spark.sql.adaptive.enabled"] = "false"
    return confs


def kernel_exec_conf(spark: SparkSession):
    """scoped_conf of _kernel_confs, for plans whose hot stage is a
    CPU-bound Python kernel over a SMALL shuffle input (cogroup +
    applyInPandas scoring)."""
    return scoped_conf(spark, _kernel_confs(spark))
