"""Per-tick cost of incremental dedup vs corpus size — the round-6
"O(batch), not O(corpus)" evidence.

Protocol: the SAME 5k-doc batch is adjudicated against signature corpora
of 300k and 3M rows (synthetic signatures + ~2% planted near-dup partners
of batch docs, so the candidate join has real hits), two ways:

  broadcast — stateless accept_batch: touched buckets broadcast, corpus
              streamed map-side (shuffle ∝ batch + hits)
  banded    — the same candidate join fed from the PERSISTED
              BandedDedupState (pre-banded rows + materialized counts),
              i.e. the full stream tick including the state-partition
              writes

Per measure: wall seconds + stage-windowed shuffle read/write bytes (UI
REST). Done-criterion: broadcast/banded shuffle stays FLAT from 300k to
3M. (INC_TICK_SCALING*.json also hold a corpus-window strategy, since
deleted.)

Usage:
  python scripts/inc_scale.py --cores 32 --out INC_TICK_SCALING.json
"""
from __future__ import annotations

import argparse
import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from ops_scale import UI_PORT, stages_snapshot  # noqa: E402

BATCH_DOCS = 5000
PLANT_EVERY = 50  # 2% of the batch gets a corpus near-dup partner


def make_batch(spark, n: int):
    """(doc_id, text) batch docs, ids disjoint from corpus ids."""
    from pyspark.sql import functions as F

    from bench import synth_transcripts_zipf

    tdf = synth_transcripts_zipf(spark, n_convs=n)
    return (
        tdf.groupBy("conv_id")
        .agg(
            F.concat_ws(
                " ",
                F.array_sort(
                    F.collect_list(F.struct("turn_idx", "text"))
                ).getField("text"),
            ).alias("text")
        )
        .select(
            (F.substring("conv_id", 5, 9).cast("long") + 2_000_000_000).alias(
                "doc_id"
            ),
            "text",
        )
    )


def corpus_signatures(spark, batch_df, n_corpus: int, n_hashes: int):
    """Synthetic signature rows (unique buckets) for n_corpus - planted
    rows, plus REAL signatures of near-dup variants of every
    PLANT_EVERY-th batch doc (corpus ids = batch id - 2e9) so the tick's
    candidate join has genuine hits."""
    from pyspark.sql import functions as F

    from similardocs_spark.operators.dedup_incremental import signatures_for

    planted_src = batch_df.filter(
        F.col("doc_id") % PLANT_EVERY == 0
    ).select(
        (F.col("doc_id") - 2_000_000_000 + 1_000_000_000).alias("doc_id"),
        F.concat_ws(
            " ",
            F.transform(
                F.split("text", " "),
                lambda tok, i: F.when(
                    i % 40 == 7,
                    F.concat(F.lit("qqedit"), F.col("doc_id").cast("string")),
                ).otherwise(tok),
            ),
        ).alias("text"),
    )
    planted_sig = signatures_for(planted_src)
    synth = spark.range(n_corpus).select(
        F.col("id").alias("doc_id"),
        *[
            F.md5(F.concat(F.lit(f"{i}|s"), F.col("id").cast("string"))).alias(
                f"mh{i}"
            )
            for i in range(n_hashes)
        ],
    )
    return synth.unionByName(planted_sig)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--cores", type=int, default=32)
    ap.add_argument("--sizes", default="300000,3000000")
    ap.add_argument("--out", default="INC_TICK_SCALING.json")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(f"local[{args.cores}]")
        .appName(f"inc-scale-{args.cores}")
        .config("spark.sql.shuffle.partitions", str(max(32, 2 * args.cores)))
        .config("spark.driver.memory", "24g")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "true")
        .config("spark.ui.port", str(UI_PORT))
        .config("spark.ui.retainedStages", "3000")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    from pyspark.sql import functions as F  # noqa: F401

    from similardocs_spark.operators.dedup import N_HASHES
    from similardocs_spark.operators.dedup_incremental import accept_batch
    from similardocs_spark.operators.dedup_state import BandedDedupState

    import tempfile

    droot = tempfile.mkdtemp(prefix="inc_scale_")
    batch = make_batch(spark, BATCH_DOCS)
    batch.write.mode("overwrite").parquet(droot + "/batch")
    batch = spark.read.parquet(droot + "/batch")
    n_batch = batch.count()

    out: dict = {
        "protocol": "same 5k-doc batch vs 300k/3M signature corpora; "
        "wall + stage-windowed shuffle bytes per measure",
        "cores": args.cores,
        "n_batch": n_batch,
        "levels": {},
    }

    for n_corpus in [int(x) for x in args.sizes.split(",")]:
        key = f"corpus_{n_corpus}"
        sig_dir = f"{droot}/sig_{n_corpus}"
        corpus_signatures(spark, batch, n_corpus, N_HASHES).write.mode(
            "overwrite"
        ).parquet(sig_dir)
        sig = spark.read.parquet(sig_dir)

        state_root = f"{droot}/state_{n_corpus}"
        t0 = time.time()
        st = BandedDedupState(spark, state_root)
        st.bootstrap(corpus_sig=sig)
        bootstrap_sec = round(time.time() - t0, 1)

        level = {"n_corpus": n_corpus, "bootstrap_sec": bootstrap_sec}

        def measured(name: str, fn):
            spark.catalog.clearCache()
            pre = {s["stageId"] for s in stages_snapshot()}
            t = time.time()
            extra = fn() or {}
            wall = round(time.time() - t, 2)
            stages = [
                s for s in stages_snapshot() if s["stageId"] not in pre
            ]
            level[name] = {
                "wall_sec": wall,
                "n_stages": len(stages),
                "shuffleReadMB": round(
                    sum(s.get("shuffleReadBytes", 0) for s in stages) / 1e6, 1
                ),
                "shuffleWriteMB": round(
                    sum(s.get("shuffleWriteBytes", 0) for s in stages) / 1e6,
                    1,
                ),
                **extra,
            }

        def adjudicate():
            accepted, pairs, _state_rows = accept_batch(batch, sig)
            return {"n_accepted": accepted.count(), "n_pairs": pairs.count()}

        measured("broadcast_adjudicate", adjudicate)

        def banded_tick():
            accepted, pairs = st.tick(batch, "t_measure")
            return {"n_accepted": accepted.count(), "n_pairs": pairs.count()}

        measured("banded_full_tick", banded_tick)

        # maintenance: fold the tick partition into base (wall only), then
        # attest the compacted state still adjudicates — re-ingesting the
        # same TEXTS under fresh ids must reject every previously-accepted
        # doc as an exact dup of its own state row (jaccard 1.0 pairs)
        def compact_state():
            st.compact()

        measured("compact", compact_state)

        replay = batch.withColumn(
            "doc_id", F.col("doc_id") + 10_000_000_000
        )

        def post_compact_tick():
            accepted, pairs = st.tick(replay, "t_post_compact")
            return {"n_accepted": accepted.count(), "n_pairs": pairs.count()}

        measured("post_compact_tick", post_compact_tick)
        out["levels"][key] = level
        print(json.dumps({key: level}), flush=True)

    w3 = out["levels"].get("corpus_3000000", {})
    w03 = out["levels"].get("corpus_300000", {})
    if w3 and w03:

        def ratio(name, field="shuffleWriteMB"):
            a, b = w03.get(name, {}).get(field), w3.get(name, {}).get(field)
            return round(b / a, 2) if a else None

        out["shuffle_growth_10x_corpus"] = {
            "broadcast": ratio("broadcast_adjudicate"),
            "banded_tick": ratio("banded_full_tick"),
        }
    with open(args.out, "w") as f:
        json.dump(out, f, indent=2)
    print(json.dumps(out["levels"].get("corpus_3000000", {}), indent=None))
    spark.stop()


if __name__ == "__main__":
    main()
