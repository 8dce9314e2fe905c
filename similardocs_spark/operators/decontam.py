"""Benchmark decontamination: flag training documents that contain any
n-gram from a held-out benchmark/eval set.

The standard training-data hygiene pass (GPT-3 appendix C, PaLM §C,
Gopher §A2): before training, every document whose text shares at least
one length-n token shingle with a benchmark prompt/answer is flagged (and
usually dropped), so downstream eval numbers are not inflated by
memorized test data. n = 13 is the literature default; anything the
tokenizer splits identically on both sides works.

Scale shape (the reason this is an operator and not a notebook join):

- Benchmark n-grams are DISTINCT-ed and hashed row-locally (xxhash64 of
  the space-joined shingle) — a benchmark suite is MBs, so the gram set
  broadcasts: the 100-TB document side then streams map-side through a
  broadcast hash join, no document-side shuffle of gram rows at all.
  The only exchange left is the per-doc count aggregation of (doc_id,
  long) hit rows, with map-side partial combine.
- Document grams are deduped ROW-LOCALLY (array_distinct on the hashed
  gram array) before the explode, so a pathological doc repeating one
  contaminated shingle 10⁶ times contributes ONE join probe, and
  `n_hits` counts distinct matched grams (the quantity thresholds are
  written against in the literature).
- `broadcast=False` degrades to a shuffle hash join for benchmark sets
  too large to broadcast (e.g. decontaminating against another corpus);
  same semantics, the doc side then shuffles (doc_id, gram-hash) pairs.

Gram identity is the 64-bit hash, not the text: a cross-gram collision
could at 2⁻⁶⁴ probability flag one extra gram (same argument and same
convention as repetition_stats' pre-shuffle gram hashing).

Tokenization matches repetition_stats: lowercase, split on [ \\n]+, empty
tokens dropped. Reference parity: the reference engine has no
decontamination pass — this is part of the training-data surface this
graft adds beyond the reference (SURVEY §2 addendum), with semantics per
the published recipes cited above.
"""
from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["decontaminate", "benchmark_gram_hashes"]

DEFAULT_N = 13


def _gram_hashes(text_col, n: int):
    """Row-local: distinct xxhash64 hashes of the n-token shingles of
    `text_col` (lowercased, ws-split). Empty array when the doc is shorter
    than n tokens.

    The n-step zip_with chain is the MEASURED fastest form of this
    projection (GRAM_FORM_AB.json, 103k docs, n=20, interleaved in one
    session): chain 35-44 s vs 110 s for transform-over-sequence with
    slice+array_join, 117 s for hashing sliced per-token-hash arrays,
    45 s for a log-depth doubling chain — despite the chain's higher
    nominal char traffic. The transform forms only win cold on tiny
    inputs (codegen compile cost); do not swap this for one of them
    without re-measuring against GRAM_FORM_AB.json."""
    w = F.filter(
        F.split(F.lower(F.coalesce(text_col, F.lit(""))), "[ \n]+"),
        lambda x: F.length(x) > 0,
    )
    if n == 1:
        grams = w
    else:
        parts = [F.slice(w, i + 1, F.greatest(F.size(w) - (n - 1), F.lit(0)))
                 for i in range(n)]
        grams = parts[0]
        for p in parts[1:]:
            grams = F.zip_with(grams, p, lambda a, b: F.concat_ws(" ", a, b))
    grams = F.when(F.size(w) >= n, grams).otherwise(
        F.array().cast("array<string>")
    )
    return F.array_distinct(F.transform(grams, lambda g: F.xxhash64(g)))


def benchmark_gram_hashes(
    benchmark: DataFrame, text_col: str = "text", n: int = DEFAULT_N
) -> DataFrame:
    """Distinct n-gram hashes of the benchmark set: one `gram` long column.

    Distinct-ed globally (a small shuffle over the benchmark side only) so
    the probe set broadcast to the document scan is minimal."""
    return (
        benchmark.select(
            F.explode(_gram_hashes(F.col(text_col), n)).alias("gram")
        )
        .distinct()
    )


def decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    bench_text_col: str = "text",
    n: int = DEFAULT_N,
    min_hits: int = 1,
    broadcast: bool = True,
) -> DataFrame:
    """Per document: distinct n-gram count, distinct benchmark-gram hits,
    and the `contaminated` verdict (`n_hits >= min_hits`).

    Returns (doc_id, n_grams, n_hits, contaminated); every input doc_id is
    present — docs shorter than n tokens have n_grams = 0 and are clean.
    """
    bench = benchmark_gram_hashes(benchmark, bench_text_col, n).withColumn(
        "_hit", F.lit(1)
    )
    if broadcast:
        bench = F.broadcast(bench)
    # ONE pass over the gram lineage: the n-gram zip chain is the dominant
    # cost (measured 84 s -> 40 s at 309k docs when the separate
    # n_grams/hits branches were fused), so size + explode_outer ride the
    # same projection; the left join streams map-side against the broadcast
    # gram set and the per-doc agg partial-combines before the only
    # exchange (one row per doc per map partition). explode_outer keeps
    # docs shorter than n tokens as a NULL-gram row (joins nothing,
    # counts 0).
    ex = docs.select(
        "doc_id", _gram_hashes(F.col(text_col), n).alias("_g")
    ).select(
        "doc_id",
        F.size("_g").cast("long").alias("_ng"),
        F.explode_outer("_g").alias("gram"),
    )
    return (
        ex.join(bench, "gram", "left")
        .groupBy("doc_id")
        .agg(
            F.max("_ng").alias("n_grams"),
            F.count("_hit").alias("n_hits"),
        )
        .select(
            "doc_id",
            "n_grams",
            "n_hits",
            (F.col("n_hits") >= min_hits).alias("contaminated"),
        )
    )
