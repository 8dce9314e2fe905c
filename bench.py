"""Benchmark harness (driver contract): prints ONE JSON line.

Measures, at $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS]:
  - index_build_sec: full inverted-index build over transcripts synthesized
    deterministically from the documents table (each doc → multi-turn conv)
  - per-query wall time for the driver-contract queries (q_* from
    __spark_entry__) plus the flagship adhoc searches through the built index
  - query_qps: throughput over the search query set

Usage: python bench.py
"""
from __future__ import annotations

import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

# corpus-derived bag-of-words search queries (the driver corpus is TPC-H-ish
# word soup; the reference biomedical profile sentences would match nothing)
SEARCH_QUERIES = {
    "s1": "key value table scan merge batch",
    "s2": "window spark order data column",
    "s3": "customer query line sort stream",
    "s4": "hash group filter vector big small",
    "s5": "row fast slow part agg join",
    "s6": "the a and data table scan",
    "s7": "stream window batch merge sort filter group",
    "s8": "spark column vector",
    "s9": "query plan cost stats part",
}


def synth_transcripts(spark, sf_dir: str, replicate: int = 1):
    """documents → multi-turn transcripts (deterministic): split each doc's
    text into ≤6 turns of ~12 words; conv_id from doc_id; ts spread from a
    pinned anchor by doc_id. `replicate` scales the corpus by cloning each
    document R times with distinct conv_ids (for compute-bound scaling runs)."""
    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    if replicate > 1:
        docs = docs.crossJoin(
            spark.range(replicate).select(F.col("id").alias("rep"))
        ).withColumn("doc_id", F.col("doc_id") * replicate + F.col("rep"))
    words = docs.select(
        "doc_id", F.split(F.col("text"), " ").alias("w"), F.col("source")
    )
    turns = words.select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.least(F.lit(5), (F.size("w") / 12).cast("int"))),
                lambda i: F.concat_ws(" ", F.slice("w", i * 12 + 1, 12)),
            )
        ).alias("turn_idx", "text"),
    ).filter(F.length("text") > 0)
    return turns.select(
        F.format_string("conv%08d", F.col("doc_id")).alias("conv_id"),
        F.col("turn_idx").cast("int"),
        F.when(F.col("turn_idx") % 2 == 0, "user").otherwise("assistant").alias("role"),
        "text",
        F.lit(None).cast("string").alias("tool"),
        (
            F.to_timestamp(F.lit("2025-06-01 00:00:00"))
            + F.make_interval(days=(F.col("doc_id") % 900).cast("int"))
        ).alias("ts"),
    )


def synth_transcripts_zipf(spark, n_convs: int = 100_000, turns_per_conv: int = 5,
                           words_per_turn: int = 40, vocab: int = 50_000):
    """Deterministic JVM-side transcript generator with a REALISTIC (Zipf-ish,
    `vocab`-term) vocabulary — the driver's word-soup corpus has only ~26
    distinct prefix terms, which collapses groupBy(term) parallelism and makes
    scaling runs skew-bound rather than compute-bound. Word rank r ∈ [0, vocab)
    drawn as floor(vocab · u²) of a hashed uniform u → low ranks are frequent."""
    from pyspark.sql import functions as F

    base = spark.range(n_convs * turns_per_conv).select(
        (F.col("id") / turns_per_conv).cast("long").alias("cid"),
        (F.col("id") % turns_per_conv).cast("int").alias("turn_idx"),
        F.col("id").alias("rid"),
    )
    word = lambda i: F.concat(
        F.lit("w"),
        F.floor(
            F.lit(vocab)
            * F.pow(
                (F.pmod(F.hash(F.col("rid") * 1000 + i), 1_000_000) / 1_000_000.0), 2.0
            )
        ).cast("string"),
    )
    text = F.concat_ws(" ", F.array(*[word(F.lit(i)) for i in range(words_per_turn)]))
    return base.select(
        F.format_string("conv%09d", F.col("cid")).alias("conv_id"),
        "turn_idx",
        F.when(F.col("turn_idx") % 2 == 0, "user").otherwise("assistant").alias("role"),
        text.alias("text"),
        F.lit(None).cast("string").alias("tool"),
        (
            F.to_timestamp(F.lit("2025-06-01 00:00:00"))
            + F.make_interval(days=F.pmod(F.col("cid"), 900).cast("int"))
        ).alias("ts"),
    )


def main() -> None:
    t_session = time.time()
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(f"local[{CPUS}]")
        .appName("similardocs-bench")
        .config("spark.sql.shuffle.partitions", str(max(CPUS, 8)))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", "16g")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    session_sec = time.time() - t_session

    import __spark_entry__ as entry
    from datetime import date

    from similardocs_spark.index.build import build_index
    from similardocs_spark.query.engine import SearchEngine

    timings: dict[str, float] = {}

    # 1. index build over synthesized transcripts
    tdf = synth_transcripts(spark, SF_DIR)
    with tempfile.TemporaryDirectory() as idx_root:
        t0 = time.time()
        paths = build_index(spark, tdf, idx_root, seg_size=1 << 14)
        build_sec = time.time() - t0
        timings["index_build"] = round(build_sec, 3)

        engine = SearchEngine(spark, paths, today=date(2028, 1, 1), end_days_ago=7, cache=True)

        # 2a. batched throughput (the Spark-native serving path). DISTINCT
        # query texts: search_batch canonically dedups identical queries, so
        # a repeated-text batch would measure 9 queries, not 72
        import random

        engine.search_batch({"warm": "key value"})
        _pool = sorted({w for t in SEARCH_QUERIES.values() for w in t.split()})
        _rng = random.Random(7)
        big_batch = {
            f"b{i}": " ".join(_rng.sample(_pool, 5)) for i in range(72)
        }
        t0 = time.time()
        res = engine.search_batch(big_batch)
        dt = time.time() - t0
        timings["batch_set"] = round(dt, 3)
        timings["batch_qps"] = round(len(big_batch) / dt, 3)

        # 2b. single-query latency. There is one scoring plan, so both loops
        # time the same search(); the two keys stay for a comparable series.
        for tag in ("search", "wand"):
            t0 = time.time()
            n = 0
            for qname, qtext in SEARCH_QUERIES.items():
                hits = engine.search(qtext)
                n += len(hits)
            dt = time.time() - t0
            timings[f"{tag}_set"] = round(dt, 3)
            timings[f"{tag}_qps"] = round(len(SEARCH_QUERIES) / dt, 3)

        # 2c. profile-updater sweep: 96 stale profiles materialized through
        # the chunked batch dataflow (TopIndex preprocess equivalent —
        # stale filter → search_batch → spill → one merge join + swap)
        from pyspark.sql import functions as F

        from similardocs_spark.profiles import ProfileStore

        pstore = ProfileStore(spark, os.path.join(idx_root, "profiles"))
        _prng = random.Random(11)
        prof_seed = spark.createDataFrame(
            [
                (
                    f"u{i}", f"user{i % 16}", f"p{i}",
                    " ".join(_prng.sample(_pool, 5)), 10, 0, [], [],
                )
                for i in range(96)
            ],
            "id string, user string, prof_name string, prof_content string, "
            "creation_time long, update_time long, sd_ids array<long>, "
            "sd_scores array<float>",
        )
        prof_seed.coalesce(1).write.parquet(pstore.path)
        t0 = time.time()
        n_upd = pstore.update_stale(engine, now_ms=1000)
        dt = time.time() - t0
        assert n_upd == 96
        timings["profile_update_set"] = round(dt, 3)
        timings["profile_update_pps"] = round(n_upd / dt, 3)

    # 2c. realistic-vocabulary corpus (Zipf, 50k terms): per-query match sets
    # are Zipf-bounded instead of match-everything, like real text
    with tempfile.TemporaryDirectory() as zroot:
        ztdf = synth_transcripts_zipf(spark, n_convs=20_000, turns_per_conv=4)
        t0 = time.time()
        zpaths = build_index(
            spark, ztdf, zroot, seg_size=1 << 13,
            doc_id_expr="cast(substring(conv_id, 5, 9) as bigint)",
            lineage_counts=False,
        )
        timings["zipf_build"] = round(time.time() - t0, 3)
        zengine = SearchEngine(
            spark, zpaths, today=date(2028, 1, 1), end_days_ago=7, cache=True
        )
        # distinct queries drawn from the corpus's own Zipf term distribution
        # (rank = floor(vocab·u²)) — same rationale as big_batch above
        import random

        _zrng = random.Random(42)
        zqueries = {
            f"z{i}": " ".join(
                f"w{int(50000 * _zrng.random() ** 2)}" for _ in range(4)
            )
            for i in range(72)
        }
        zengine.search_batch({"warm": "w0 w1"})
        t0 = time.time()
        zres = zengine.search_batch(zqueries)
        dt = time.time() - t0
        timings["zipf_batch_set"] = round(dt, 3)
        timings["zipf_batch_qps"] = round(len(zqueries) / dt, 3)

    # 3. driver-contract queries
    total_q = 0.0
    for name, fn in entry.queries().items():
        t0 = time.time()
        df = fn(spark, SF_DIR)
        df.collect()
        dt = time.time() - t0
        timings[name] = round(dt, 3)
        total_q += dt

    out = {
        "metric": "similardocs_bench_total",
        "value": round(total_q + timings["search_set"] + timings["index_build"], 3),
        "unit": "sec",
        "queries": timings,
        "sf": SF_DIR.rstrip("/").split("sf")[-1],
        "cpus": CPUS,
        "query_qps": timings.get("search_qps"),
        "wand_qps": timings.get("wand_qps"),
        "batch_qps": timings.get("batch_qps"),
        "zipf_batch_qps": timings.get("zipf_batch_qps"),
        "session_startup_sec": round(session_sec, 3),
    }
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
