"""Profile updater at corpus scale (round-4 verdict item 5).

The 100k-profile store test exercises the chunked dataflow against a FAKE
engine, and bench.py's updater sweep covers 96 profiles; this harness pushes
`update_stale` through the REAL batch engine against the 300k-conversation
Zipf index — the deployment-shaped job: tens of thousands of stale profiles,
each a Zipf-drawn sentence, refreshed chunk-by-chunk (toLocalIterator →
search_batch → spill parquet → ONE merge join → staged swap).

Records: profiles/sec, per-chunk batch seconds, spill parquet size (measured
while it exists, just before the merge write), peak driver RSS, index build
time. Writes evidence/PROFILE_UPDATER_SCALE.json.

Usage:
  python scripts/profile_scale.py --cores 32 --convs 300000 --profiles 50000
"""
from __future__ import annotations

import argparse
import json
import os
import resource
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def du_mb(path: str) -> float:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return round(total / 1e6, 1)


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--cores", type=int, default=32)
    p.add_argument("--convs", type=int, default=300_000)
    p.add_argument("--profiles", type=int, default=50_000)
    p.add_argument("--chunk-size", type=int, default=10_000)
    p.add_argument(
        "--out",
        default=os.path.join(REPO, "evidence", "PROFILE_UPDATER_SCALE.json"),
    )
    args = p.parse_args()

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(f"local[{args.cores}]")
        .appName("profile-updater-scale")
        .config("spark.sql.shuffle.partitions", str(max(32, 2 * args.cores)))
        .config("spark.driver.memory", "24g")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.python.worker.reuse", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    from datetime import date

    from pyspark.sql import functions as F

    from bench import synth_transcripts_zipf
    from similardocs_spark.index.build import build_index
    from similardocs_spark.profiles import ProfileStore
    from similardocs_spark.query.engine import SearchEngine

    import tempfile

    info: dict = {
        "cores": args.cores,
        "n_convs": args.convs,
        "n_profiles": args.profiles,
        "chunk_size": args.chunk_size,
    }
    with tempfile.TemporaryDirectory() as root:
        t0 = time.time()
        tdf = synth_transcripts_zipf(spark, n_convs=args.convs)
        paths = build_index(
            spark, tdf, root, seg_size=1 << 14,
            doc_id_expr="cast(substring(conv_id, 5, 9) as bigint)",
            lineage_counts=False,
        )
        info["index_build_sec"] = round(time.time() - t0, 1)
        engine = SearchEngine(
            spark, paths, today=date(2028, 1, 1), end_days_ago=7, cache=True
        )
        engine.search_batch({"warm": "w0 w1"})

        # seed N all-stale profiles with DISTINCT Zipf-drawn sentences
        # (rank = floor(vocab·u²), the corpus's own term law) directly as the
        # store table — the updater, not CRUD, is under test here
        store = ProfileStore(spark, os.path.join(root, "profiles"))
        word = lambda salt: F.concat(
            F.lit("w"),
            F.floor(
                F.lit(50_000)
                * F.pow(
                    F.pmod(F.hash(F.col("id") * 7 + salt), 1_000_000) / 1_000_000.0,
                    2.0,
                )
            ).cast("string"),
        )
        seed = spark.range(args.profiles).select(
            F.concat(F.lit("u"), F.col("id")).alias("id"),
            F.concat(F.lit("user"), F.pmod(F.col("id"), 1000)).alias("user"),
            F.concat(F.lit("p"), F.col("id")).alias("prof_name"),
            F.concat_ws(" ", word(1), word(2), word(3), word(4)).alias(
                "prof_content"
            ),
            F.lit(10).cast("long").alias("creation_time"),
            F.lit(0).cast("long").alias("update_time"),
            F.array().cast("array<long>").alias("sd_ids"),
            F.array().cast("array<float>").alias("sd_scores"),
        )
        seed.write.parquet(store.path)

        # measure the spill dir while it exists: _write_staged(merged) runs
        # after every chunk has flushed and before the spill is deleted
        chunk_walls: list[float] = []
        orig_write = store._write_staged
        orig_chunk = store._search_chunk

        def timed_chunk(engine_, chunk, now_ms):
            t = time.time()
            out = orig_chunk(engine_, chunk, now_ms)
            chunk_walls.append(round(time.time() - t, 2))
            return out

        def measuring_write(df):
            spill = store.path + ".updates"
            if os.path.exists(spill):
                info["spill_mb"] = du_mb(spill)
            orig_write(df)

        store._search_chunk = timed_chunk
        store._write_staged = measuring_write

        rss_before = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
        t0 = time.time()
        n = store.update_stale(engine, now_ms=1_000, chunk_size=args.chunk_size)
        wall = time.time() - t0
        rss_after = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
        assert n == args.profiles, (n, args.profiles)

        info.update(
            {
                "update_wall_sec": round(wall, 1),
                "profiles_per_sec": round(n / wall, 1),
                "chunk_batch_secs": chunk_walls,
                "peak_driver_rss_mb_before": round(rss_before / 1024, 1),
                "peak_driver_rss_mb_after": round(rss_after / 1024, 1),
            }
        )
        # verify the merge actually landed
        df = store._read()
        refreshed = df.filter(F.col("update_time") == 1_000).count()
        info["n_refreshed_rows"] = refreshed
        assert refreshed == args.profiles

    with open(args.out, "w") as f:
        json.dump(info, f, indent=1)
    print(json.dumps(info))
    spark.stop()


if __name__ == "__main__":
    main()
