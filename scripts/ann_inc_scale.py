"""Per-tick cost of incremental EMBEDDING near-dup vs corpus size — the
ann_incremental mirror of scripts/inc_scale.py (round-6 "O(batch), not
O(corpus)" evidence for the vector modality).

Protocol: the SAME 5k-vector batch (dim 96) is adjudicated against
persisted LSH states of 300k and 3M vectors (isotropic synthetics + 2%
planted near-dup partners of batch vectors, cosine ≈ 0.999):

  broadcast — stateless pairs_against: touched buckets broadcast, corpus
              streamed map-side; verify vectors fetched by a second
              broadcast semi-join on the bounded pair-member ids
  state     — the full tick through the persisted VectorDedupState
  reband    — a +1-bit reband of the state, then a tick against it

Per measure: wall seconds + stage-windowed shuffle read/write bytes (UI
REST). Done-criterion: broadcast shuffle stays FLAT from 300k to 3M.
(ANN_TICK_SCALING.json also holds a corpus-window strategy, since
deleted.)

Usage:
  python scripts/ann_inc_scale.py --cores 32 --out ANN_TICK_SCALING.json
"""
from __future__ import annotations

import argparse
import json
import os
import sys
import tempfile
import time

import numpy as np

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from ops_scale import UI_PORT, stages_snapshot  # noqa: E402

DIM = 96
BATCH_VECS = 5000
PLANT_EVERY = 50
# bits per level = ann.lsh_bits_for(n_corpus): 12 at 300k, 16 at 3M.
# This is the load-bearing dial: a 5k batch touches ~5k buckets/table,
# so per-tick corpus hits ≈ expected_bucket_size × touched — O(batch)
# ONLY when expected bucket size is held ~constant by scaling bits with
# the corpus. A FIXED bits=14 was measured corpus-proportional from
# 300k→3M (broadcast 256→3883 MB, 15×, because a batch touches most of
# the 16k-bucket space and the semi join filters nothing); corpus-sized
# bits is what this campaign evidences.


def make_vectors(spark, ids_and_seeds):
    """(vec_id, embedding) rows: embedding = rng(seed).standard_normal +
    optional perturbation — deterministic per row, partitioning-free."""
    import pandas as pd

    def gen(batches):
        for pdf in batches:
            rows = []
            for vid, seed, perturb in zip(
                pdf["vec_id"], pdf["seed"], pdf["perturb"]
            ):
                v = np.random.default_rng(int(seed)).standard_normal(DIM)
                if perturb:
                    v = v + 0.03 * np.random.default_rng(
                        2_000_000_000 + int(vid)
                    ).standard_normal(DIM)
                rows.append(v.astype(np.float32))
            yield pd.DataFrame(
                {"vec_id": pdf["vec_id"], "embedding": rows}
            )

    return ids_and_seeds.mapInPandas(
        gen, schema="vec_id long, embedding array<float>"
    )


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--cores", type=int, default=32)
    ap.add_argument("--sizes", default="300000,3000000")
    ap.add_argument("--out", default="ANN_TICK_SCALING.json")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(f"local[{args.cores}]")
        .appName(f"ann-inc-scale-{args.cores}")
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
    from pyspark.sql import functions as F

    from similardocs_spark.operators import ann_incremental as inc

    droot = tempfile.mkdtemp(prefix="ann_inc_scale_")
    par = int(spark.sparkContext.defaultParallelism)

    # batch: vec_id 10^9+i, seed i
    batch_ids = (
        spark.range(BATCH_VECS)
        .select(
            (F.col("id") + 1_000_000_000).alias("vec_id"),
            F.col("id").alias("seed"),
            F.lit(False).alias("perturb"),
        )
        .repartition(par)
    )
    make_vectors(spark, batch_ids).write.mode("overwrite").parquet(
        droot + "/batch"
    )
    batch = spark.read.parquet(droot + "/batch")
    n_batch = batch.count()

    out: dict = {
        "protocol": "same 5k-vector batch (dim 96) vs 300k/3M LSH states; "
        "2% planted near-dup partners; wall + stage-windowed shuffle "
        "bytes per measure",
        "cores": args.cores,
        "n_batch": n_batch,
        "levels": {},
    }

    for n_corpus in [int(x) for x in args.sizes.split(",")]:
        key = f"corpus_{n_corpus}"
        # corpus: planted partners (same seed as every 50th batch vec,
        # perturbed) + isotropic filler with disjoint seeds/ids
        n_plant = BATCH_VECS // PLANT_EVERY
        planted = spark.range(n_plant).select(
            (F.col("id") * PLANT_EVERY).alias("vec_id"),
            (F.col("id") * PLANT_EVERY).alias("seed"),
            F.lit(True).alias("perturb"),
        )
        filler = spark.range(n_corpus - n_plant).select(
            (F.col("id") + 10_000_000).alias("vec_id"),
            (F.col("id") + 10_000_000).alias("seed"),
            F.lit(False).alias("perturb"),
        )
        corpus = make_vectors(
            spark, planted.unionByName(filler).repartition(par)
        )
        from similardocs_spark.operators.ann import lsh_bits_for

        bits = lsh_bits_for(n_corpus)
        state_dir = f"{droot}/state_{n_corpus}"
        t0 = time.time()
        inc.state_for(corpus, dim=DIM, bits=bits).write.mode(
            "overwrite"
        ).parquet(state_dir)
        state = spark.read.parquet(state_dir)
        level = {
            "n_corpus": n_corpus,
            "bits": bits,
            "state_build_sec": round(time.time() - t0, 1),
        }

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
            pairs = inc.pairs_against(batch, state, dim=DIM, bits=bits)
            n_pairs = pairs.count()
            n_planted = pairs.filter(
                F.col("vec_b") - 1_000_000_000 == F.col("vec_a")
            ).count()
            return {"n_pairs": n_pairs, "n_planted_found": n_planted}

        measured("broadcast_adjudicate", adjudicate)

        # full tick through the PERSISTENT state (adjudicate + the tick's
        # own partition write) — the streaming-ingest cost, text edition's
        # banded_full_tick mirror
        from similardocs_spark.operators.ann_state import VectorDedupState

        st = VectorDedupState(
            spark, f"{droot}/vstate_{n_corpus}", dim=DIM, bits=bits
        )
        t0 = time.time()
        st.bootstrap(spark.read.parquet(state_dir).select("vec_id", "embedding"))
        level["state_bootstrap_sec"] = round(time.time() - t0, 1)

        def state_full_tick():
            accepted, pairs = st.tick(batch, "t_measure")
            return {"n_accepted": accepted.count(), "n_pairs": pairs.count()}

        measured("state_full_tick", state_full_tick)

        # maintenance: re-size the bucket space (what a compaction runs
        # when the corpus outgrows its bootstrap sizing) — ONE projection
        # pass over the stored vectors, no source re-read — then attest a
        # tick against the re-banded state with config resolved purely
        # from the NEW state's stamped metadata (bits/dim not passed)
        rb_dir = f"{state_dir}_rb"

        def reband():
            inc.reband_state(state, bits=bits + 1).write.mode(
                "overwrite"
            ).parquet(rb_dir)
            return {"new_bits": bits + 1}

        measured("reband", reband)
        state_rb = spark.read.parquet(rb_dir)

        def post_reband():
            pairs = inc.pairs_against(batch, state_rb)
            n_pairs = pairs.count()
            n_planted = pairs.filter(
                F.col("vec_b") - 1_000_000_000 == F.col("vec_a")
            ).count()
            return {"n_pairs": n_pairs, "n_planted_found": n_planted}

        measured("post_reband_adjudicate", post_reband)
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
        }
    with open(args.out, "w") as f:
        json.dump(out, f, indent=2)
    print(json.dumps(out.get("shuffle_growth_10x_corpus", {})))
    spark.stop()


if __name__ == "__main__":
    main()
