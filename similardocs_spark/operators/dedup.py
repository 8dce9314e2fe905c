"""Deduplication operators for training-data pipelines.

All hashing is built on md5 (identical across Spark, DuckDB and Python's
hashlib), so every operator here is cross-engine deterministic:

- exact_dedup .......... hash-groupBy on full text
- minhash_lsh .......... token-shingle minhash (lexicographic min of seeded
                         md5's — a valid uniform min-hash), banded into LSH
                         buckets, bucket-join for candidate pairs
- simhash .............. 32-bit simhash from md5-derived token bits
- ngram_jaccard ........ exact token-3-shingle Jaccard for candidate scoring

At 100 TB the shapes matter: exact dedup is one hash-groupBy shuffle;
minhash banding turns the O(n²) pair problem into groupBy(band, key) with
bounded bucket sizes; the pair join happens only WITHIN buckets.

The banded pair join, the oversized-bucket audit and the verify join-back
are bands.py's (`band_pairs`, `oversized_buckets`, `verify_pairs`), the
one copy every near-dup operator runs: MinHash and SimHash here, the
embedding LSH tables in ann.py, and both incremental modalities.
"""
from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.tokenize import tokenize as tokenize_udf
from .bands import band_pairs, oversized_buckets, verify_pairs

N_HASHES = 16
N_BANDS = 4  # 4 rows per band
# Recall at the banding defaults, measured on the 309k-doc seeded corpus
# (1 token per 40 edited → shingle Jaccard s ≈ 0.86): candidate recall is
# 1-(1-s^r)^b with r = n_hashes/n_bands rows per band. The round-5 band sweep
# (MINHASH_SWEEP.json, 309k docs, 6000 planted near-dup pairs, 0 oversized
# buckets everywhere) measured:
#     12/2 (r=6): 0.697 recall, 553 MB shuffle, 74 s
#     18/3 (r=6): 0.833 recall, 671 MB shuffle, 97 s
#     16/4 (r=4): 0.968 recall, 640 MB shuffle, 119 s   <- default
#     24/4 (r=6): 0.908 recall, 789 MB shuffle, 115 s
#     24/6 (r=4): 0.994 recall, 801 MB shuffle, 173 s   <- max-recall dial
# 16/4 is the cheapest config clearing 0.9 recall at that edit distance;
# (n_hashes, n_bands) are arguments on every banding entry point for callers
# who need a different point on the curve (the seed-i hash family is shared,
# so any config is comparable against the same signatures).


def exact_dedup_stats(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Exact duplicate groups by full-text hash: one hash-groupBy shuffle."""
    return (
        docs.groupBy(F.md5(F.col(text_col)).alias("text_hash"))
        .agg(F.count("*").alias("group_size"), F.min("doc_id").alias("keeper"))
        .agg(
            F.count("*").alias("n_groups"),
            F.sum("group_size").alias("n_docs"),
            (F.sum("group_size") - F.count("*")).alias("n_dups"),
            F.max("group_size").alias("max_group"),
        )
    )


def _minhash_cols(n: int = N_HASHES):
    """minhash_i = min over tokens of md5(i || '|' || token) (hex string min).
    The seed-i hash family is shared by every (n_hashes, n_bands) config:
    widening n only APPENDS hash columns, so signatures are
    forward-comparable across configs."""
    return [
        F.min(F.md5(F.concat(F.lit(f"{i}|"), F.col("term")))).alias(f"mh{i}")
        for i in range(n)
    ]


def shingles(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, shingle): DISTINCT 3-token shingles in token order."""
    toks = docs.select("doc_id", tokenize_udf(F.col(text_col)).alias("toks"))
    return toks.select(
        "doc_id",
        F.explode(
            F.when(
                F.size("toks") >= 3,
                F.transform(
                    F.sequence(F.lit(0), F.size("toks") - 3),
                    lambda i: F.concat_ws(" ", F.slice("toks", i + 1, 3)),
                ),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("shingle"),
    ).distinct()


def minhash_signatures(
    docs: DataFrame, text_col: str = "text", n_hashes: int = N_HASHES
) -> DataFrame:
    """Signatures over 3-token shingles (distinctive; single tokens collide
    too often after prefix-6 truncation)."""
    sh = shingles(docs, text_col).withColumnRenamed("shingle", "term")
    return sh.groupBy("doc_id").agg(*_minhash_cols(n_hashes))


MAX_BUCKET = 2000  # LSH bucket-size ceiling (pair join is O(|bucket|²))


def exact_representatives(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """One representative row (min doc_id) per exact-text group — the
    prepass that keeps identical texts out of any pair join.

    Deliberately groupBy + join-back, NOT a window min (round-7 A/B was a
    wash locally, but the shapes diverge exactly in this operator's
    degenerate case): a window over the text hash concentrates a
    mass-duplicated boilerplate group on ONE task (partition sort + scan),
    while here the narrow agg takes partial map-side mins and the
    join key (_th, doc_id) SPREADS the duplicate group across reducers."""
    wh = docs.withColumn("_th", F.md5(F.col(text_col)))
    keep = wh.groupBy("_th").agg(F.min("doc_id").alias("doc_id"))
    return wh.join(keep, ["_th", "doc_id"]).drop("_th")


def _band_buckets(
    sig: DataFrame, n_hashes: int = N_HASHES, n_bands: int = N_BANDS
) -> DataFrame:
    """(doc_id, band, key) rows — one per signature band."""
    if n_hashes % n_bands:
        raise ValueError(f"n_hashes={n_hashes} not divisible by n_bands={n_bands}")
    rows_per_band = n_hashes // n_bands
    keys = [
        F.concat_ws(
            "_",
            *[F.col(f"mh{b * rows_per_band + j}") for j in range(rows_per_band)],
        )
        for b in range(n_bands)
    ]
    # ONE pass over sig (posexplode of the key array), not n_bands unioned
    # selects: each union branch re-evaluated the whole signature lineage
    # when sig was not materialized (measured 4x tokenize→shingle→minhash in
    # the incremental path's corpus side). Identical rows: band = position.
    return sig.select(
        "doc_id", F.posexplode(F.array(*keys)).alias("band", "key")
    )


def lsh_oversized_buckets(
    docs: DataFrame, text_col: str = "text", max_bucket: int = MAX_BUCKET,
    n_hashes: int = N_HASHES, n_bands: int = N_BANDS,
) -> DataFrame:
    """Audit helper (no-silent-caps): the band buckets minhash_lsh_pairs
    would DROP, with their sizes — run it to quantify what the cap skipped."""
    sig = minhash_signatures(
        exact_representatives(docs, text_col), text_col, n_hashes
    )
    return oversized_buckets(_band_buckets(sig, n_hashes, n_bands), max_bucket)


def jaccard_estimate(a: list, b: list):
    """The fraction of signature components that agree: the unbiased
    MinHash estimate of shingle Jaccard (resolution 1/len(a))."""
    agree = sum(F.when(x == y, 1).otherwise(0) for x, y in zip(a, b))
    return (agree / F.lit(len(a))).cast("double")


def minhash_lsh_pairs(
    docs: DataFrame, text_col: str = "text", max_bucket: int = MAX_BUCKET,
    collapsed: bool = False,
    n_hashes: int = N_HASHES, n_bands: int = N_BANDS,
    estimate_jaccard: bool = False, min_jaccard: float | None = None,
) -> DataFrame:
    """Candidate near-duplicate pairs: docs sharing any LSH band bucket.
    Band key = concat of the band's minhashes; pairs joined only within
    buckets (the scale-critical property). Two skew guards:

    - exact-collapse prepass: identical texts are collapsed to their
      min-doc_id representative BEFORE signatures, so a mass-duplicated
      boilerplate text (the common degenerate case in training corpora)
      contributes ONE bucket row, not |group|. Exact duplicates are the
      exact_dedup/deduplicate operators' job; pairs here are between
      distinct texts only. Callers that already collapsed (deduplicate)
      pass `collapsed=True` to skip the second md5-groupBy pass.
    - bucket-size cap: buckets larger than `max_bucket` are skipped (the
      within-bucket join is O(|bucket|²); one hot bucket would stall the
      stage). Dropped buckets are observable via lsh_oversized_buckets() —
      never capped silently. The cap check is a window count over the SAME
      (band, key) shuffle the pair join needs, so the signature lineage
      (tokenize → shingle → minhash) runs exactly once.

    Recall dial: candidate recall ≈ 1-(1-s^r)^b at shingle Jaccard s with
    r = n_hashes/n_bands rows per band and b = n_bands. More bands → higher
    recall AND b× more bucket rows (shuffle); fewer rows per band → looser
    buckets (more false candidates). See the measured sweep in
    MINHASH_SWEEP.json before changing the dial for a corpus.

    Verification dial: banding alone yields CANDIDATES; a training pipeline
    usually wants similarity-attested pairs. `estimate_jaccard=True` attaches
    `jaccard_est` — the fraction of the n_hashes signature components that
    agree, the standard unbiased MinHash estimator of shingle Jaccard
    (resolution 1/n_hashes) — and `min_jaccard=t` filters on it (implies the
    estimate). Cost: two joins of the bounded candidate set back against the
    signature table (n_hashes ints per doc ≈ 1% of the band shuffle at the
    default config) — NOT a recompute of the signature lineage, and no
    re-read of the texts."""
    reps = docs if collapsed else exact_representatives(docs, text_col)
    want_est = estimate_jaccard or min_jaccard is not None
    sig = minhash_signatures(reps, text_col, n_hashes)
    if want_est:
        # sig feeds three subtrees (band rows + both estimate joins);
        # checkpoint the compact signature table (n_hashes hex strings per
        # doc — far smaller than the texts) so the tokenize→shingle→minhash
        # lineage still runs exactly once.
        sig = sig.localCheckpoint(eager=False)
    pairs = band_pairs(
        _band_buckets(sig, n_hashes, n_bands).withColumn("is_new", F.lit(True)),
        max_bucket,
    )
    if not want_est:
        return pairs
    keep = ["doc_id", *[f"mh{i}" for i in range(n_hashes)]]
    est = verify_pairs(pairs, sig, keep, "jaccard_est", jaccard_estimate)
    if min_jaccard is not None:
        est = est.filter(F.col("jaccard_est") >= min_jaccard)
    return est


def deduplicate(
    docs: DataFrame,
    text_col: str = "text",
    near: bool = True,
    max_bucket: int = MAX_BUCKET,
    max_iter: int = 20,
    stats: dict | None = None,
    n_hashes: int = N_HASHES,
    n_bands: int = N_BANDS,
    min_jaccard: float | None = None,
) -> DataFrame:
    """Doc-level dedup ACTION: returns the deduplicated docs table (all
    original columns), keeping min(doc_id) per exact-text group and — with
    `near=True` — min(doc_id) per connected component of the MinHash-LSH
    candidate-pair graph (iterative min-label propagation; converges in
    O(component diameter) distributed passes, each one join + one groupBy —
    no driver-side union-find, no collect of the pair list).

    This is the operator a training pipeline actually consumes (the pair
    list is diagnostics); output size is bounded by the input, never by
    pair multiplicity.

    `stats` (optional dict) is filled with observability counters:
    iterations run, converged flag — so scale harnesses can record the
    propagation depth without parsing logs.

    `min_jaccard=t` attests every edge of the component graph with the
    signature-agreement Jaccard estimate before propagation (see
    minhash_lsh_pairs) — without it, one false banding candidate can
    bridge two otherwise-distinct components and drop every doc of the
    merged component but one."""
    if stats is not None:
        stats.update({"iterations": 0, "converged": True})
    reps = exact_representatives(docs, text_col)
    if not near:
        return reps
    pairs = minhash_lsh_pairs(
        reps, text_col, max_bucket=max_bucket, collapsed=True,
        n_hashes=n_hashes, n_bands=n_bands, min_jaccard=min_jaccard,
    )
    edges = pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
    edges = (
        edges.unionByName(
            edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        .distinct()
        .localCheckpoint(eager=False)
    )
    # only docs that appear in some edge can change label — everything else
    # keeps itself; iterate over the (small) edge-touched vertex set only
    labels = (
        edges.select(F.col("src").alias("doc_id"))
        .distinct()
        .withColumn("label", F.col("doc_id"))
        .localCheckpoint(eager=False)
    )
    converged = False
    n_iter = 0
    for _ in range(max_iter):
        n_iter += 1
        nbr_min = (
            edges.join(
                labels.select(
                    F.col("doc_id").alias("dst"), F.col("label").alias("nl")
                ),
                "dst",
            )
            .groupBy("src")
            .agg(F.min("nl").alias("nbr"))
        )
        # ONE join per pass: carry the old label through the update so
        # convergence detection is a marker scan over the (eagerly
        # materialized) localCheckpoint blocks — no second join job; the
        # next pass reads its labels from the same blocks
        stepped = (
            labels.join(nbr_min.withColumnRenamed("src", "doc_id"), "doc_id", "left")
            .select(
                "doc_id",
                F.col("label").alias("_old"),
                F.least(F.col("label"), F.coalesce("nbr", F.col("label"))).alias(
                    "label"
                ),
            )
            .localCheckpoint()  # truncate iterative lineage (eager)
        )
        changed = stepped.filter(F.col("label") != F.col("_old")).limit(1).count()
        labels = stepped.select("doc_id", "label")
        if changed == 0:
            converged = True
            break
    if stats is not None:
        stats.update({"iterations": n_iter, "converged": converged})
    if not converged:
        # no-silent-caps: a component with propagation distance > max_iter
        # keeps >1 representative — surface it (mirrors the
        # lsh_oversized_buckets observability pattern)
        import logging

        logging.getLogger(__name__).warning(
            "deduplicate: min-label propagation hit max_iter=%d with labels "
            "still changing; some connected components may retain duplicate "
            "representatives. Raise max_iter for deeper components.",
            max_iter,
        )
    # non-keeper = label smaller than own id; reps not touched by any edge
    # survive implicitly (anti-join against the dropped set, eagerly
    # checkpointed: the result's lineage ends there, so it pins only the
    # dropped ids, not the last pass's labels)
    dropped = (
        labels.filter(F.col("label") != F.col("doc_id"))
        .select("doc_id")
        .localCheckpoint()
    )
    return reps.join(dropped, "doc_id", "left_anti")


def simhash32(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """32-bit simhash: bit j set iff Σ_tokens (bit_j(md5(token)) ? +1 : -1) > 0.
    Bits come from the first 8 hex digits of the token md5."""
    toks = docs.select(
        "doc_id", F.explode(tokenize_udf(F.col(text_col))).alias("term")
    ).withColumn("h", F.conv(F.substring(F.md5("term"), 1, 8), 16, 10).cast("long"))
    votes = [
        F.sum(
            F.when(F.shiftright(F.col("h"), j).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"v{j}")
        for j in range(32)
    ]
    agg = toks.groupBy("doc_id").agg(*votes)
    sh = None
    for j in range(32):
        bit = F.when(F.col(f"v{j}") > 0, F.lit(1 << j)).otherwise(F.lit(0))
        sh = bit if sh is None else sh + bit
    return agg.select("doc_id", sh.cast("long").alias("simhash"))


def simhash64(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """64-bit simhash: same vote construction as simhash32 but over the
    first 16 hex digits of the token md5 (two 32-bit halves combined with
    shift/or — bit arithmetic, no ANSI-overflow-prone addition).

    WHY 64 bits: measured at 309k docs (BENCH_OPS_SCALING.json round 4),
    32-bit banding at max_hamming=3 gives 8-bit band keys — 256 distinct
    values for 309k docs, so every bucket saturates toward the cap and the
    banded candidate join shuffled ~17 GB. 64 bits at the same max_hamming
    gives 16-bit keys (65k values) — the bucket population drops ~256× and
    the pair join returns to bounded work. Different hash → different pair
    sets than simhash32; pick ONE per pipeline."""
    toks = docs.select(
        "doc_id", F.explode(tokenize_udf(F.col(text_col))).alias("term")
    )
    hi = F.conv(F.substring(F.md5("term"), 1, 8), 16, 10).cast("long")
    lo = F.conv(F.substring(F.md5("term"), 9, 8), 16, 10).cast("long")
    toks = toks.withColumn("h", F.shiftleft(hi, 32).bitwiseOR(lo))
    votes = [
        F.sum(
            F.when(F.shiftright(F.col("h"), j).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"v{j}")
        for j in range(64)
    ]
    agg = toks.groupBy("doc_id").agg(*votes)
    sh = F.lit(0).cast("long")
    for j in range(64):
        bit = F.when(
            F.col(f"v{j}") > 0, F.shiftleft(F.lit(1).cast("long"), j)
        ).otherwise(F.lit(0).cast("long"))
        sh = sh.bitwiseOR(bit)
    return agg.select("doc_id", sh.alias("simhash"))


def ngram_jaccard_pairs(
    docs: DataFrame, probe_ids: list[int], threshold: float = 0.2,
    text_col: str = "text",
) -> DataFrame:
    """Exact token-3-shingle Jaccard between probe docs and the corpus.
    Shingle = 3 consecutive tokens joined; broadcast the probe side."""
    toks = docs.select("doc_id", tokenize_udf(F.col(text_col)).alias("toks"))
    sh = toks.select(
        "doc_id",
        F.explode(
            F.when(
                F.size("toks") >= 3,
                F.transform(
                    F.sequence(F.lit(0), F.size("toks") - 3),
                    lambda i: F.concat_ws(" ", F.slice("toks", i + 1, 3)),
                ),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("shingle"),
    ).distinct()
    # sh feeds the per-doc counts AND the corpus side of the intersection
    # join — checkpoint so the tokenize→shingle→distinct lineage runs once
    sh = sh.localCheckpoint(eager=False)
    counts = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    probe = sh.filter(F.col("doc_id").isin(probe_ids)).withColumnRenamed(
        "doc_id", "probe_id"
    )
    inter = (
        F.broadcast(probe)
        .join(sh, "shingle")
        .filter(F.col("probe_id") < F.col("doc_id"))
        .groupBy("probe_id", "doc_id")
        .agg(F.count("*").alias("inter"))
    )
    pc = counts.withColumnRenamed("doc_id", "probe_id").withColumnRenamed("n", "n_probe")
    out = (
        inter.join(F.broadcast(pc), "probe_id")
        .join(counts, "doc_id")
        .withColumn(
            "jaccard_e6",
            F.round(
                F.col("inter") * 1e6 / (F.col("n_probe") + F.col("n") - F.col("inter"))
            ).cast("long"),
        )
        .filter(F.col("jaccard_e6") >= int(threshold * 1e6))
        .select("probe_id", "doc_id", "jaccard_e6")
    )
    return out


SIMHASH_BITS = 32
# Above this corpus size a defaulted bits=None auto-selects 64-bit
# signatures: at max_hamming=3 the 32-bit split gives 8-bit band keys (256
# values), so every bucket saturates — measured ~17 GB candidate shuffle and
# 7 capped buckets at 309k docs (BENCH_OPS_SCALING.json round 4) vs 254 MB
# and 0 capped at 64 bits.
SIMHASH_AUTO64_MIN_DOCS = 100_000


def _resolve_simhash_bits(docs: DataFrame, bits: int | None) -> int:
    """Explicit bits win; a defaulted bits=None picks 32 for small inputs
    (the DuckDB-oracle-pinned variant) and 64 at corpus scale, paying one
    count job — callers that know their scale pass bits explicitly."""
    if bits is not None:
        return bits
    n = docs.count()
    if n >= SIMHASH_AUTO64_MIN_DOCS:
        import logging

        logging.getLogger(__name__).info(
            "simhash: auto-selecting 64-bit signatures for %d docs "
            "(32-bit band keys saturate above ~%d docs; pass bits=32 to force)",
            n, SIMHASH_AUTO64_MIN_DOCS,
        )
        return 64
    return SIMHASH_BITS


def _simhash_bands(sh: DataFrame, max_hamming: int, bits: int = SIMHASH_BITS) -> DataFrame:
    """(doc_id, band, key) rows: the `bits` signature bits split into
    (max_hamming + 1) contiguous bands. Shared by the pair join and the
    oversized-bucket audit so both see the exact same buckets.

    For bits=64 the top band contains the sign bit; shiftright is
    arithmetic, so the mask keeps exactly the band's bits either way."""
    nb = max_hamming + 1
    bounds = [round(i * bits / nb) for i in range(nb + 1)]
    keys = []
    for b in range(nb):
        lo, hi = bounds[b], bounds[b + 1]
        mask = (1 << (hi - lo)) - 1
        keys.append(F.shiftright("simhash", lo).bitwiseAND(F.lit(mask)))
    # one pass via posexplode (band = position) — see _band_buckets
    return sh.select(
        "doc_id", F.posexplode(F.array(*keys)).alias("band", "key")
    )


def simhash_oversized_buckets(
    docs: DataFrame, max_hamming: int = 3, text_col: str = "text",
    max_bucket: int = MAX_BUCKET, bits: int | None = None,
) -> DataFrame:
    """Audit helper (no-silent-caps): the (band, key) buckets
    simhash_near_dup_pairs would DROP, with their sizes. Every dropped
    bucket also bounds the advertised exact recall — pairs whose only
    matching band lives in an oversized bucket are not emitted — so run
    this to quantify what the cap skipped (mirror of
    lsh_oversized_buckets for the MinHash operator)."""
    bits = _resolve_simhash_bits(docs, bits)
    sig = (simhash32 if bits == SIMHASH_BITS else simhash64)(docs, text_col)
    return oversized_buckets(_simhash_bands(sig, max_hamming, bits), max_bucket)


def simhash_near_dup_pairs(
    docs: DataFrame, max_hamming: int = 3, text_col: str = "text",
    max_bucket: int = MAX_BUCKET, signatures: DataFrame | None = None,
    bits: int | None = None,
) -> DataFrame:
    """SimHash near-duplicate pairs: all (doc_a, doc_b, hamming) with
    Hamming distance ≤ max_hamming between `bits`-bit simhashes — WITHOUT
    the O(n²) self-join. The bits are split into (max_hamming + 1) bands;
    by pigeonhole, any pair within max_hamming differs in at most
    max_hamming bands and therefore MATCHES EXACTLY on at least one band —
    so banding has exact (not probabilistic) recall. Candidates join only
    within (band, key) buckets; every candidate is verified with
    bit_count(xor) on the full signatures. Oversized buckets (mass-collided
    signatures) are capped like minhash_lsh_pairs — never silently:
    simhash_oversized_buckets exposes exactly the dropped buckets (same
    band split, same groupBy keys the cap uses).

    `bits`: 32 (the DuckDB-oracle-pinned variant) or 64 — use 64 above
    ~10^5 docs: band-key cardinality is 2^(bits/(max_hamming+1)), and 8-bit
    keys saturate every bucket at corpus scale (measured: ~17 GB candidate
    shuffle at 309k docs with bits=32 vs bounded at bits=64 — see
    simhash64's docstring and BENCH_OPS_SCALING.json). When DEFAULTED
    (bits=None) the variant is auto-selected from a corpus count, so a
    caller who never read this paragraph still gets the non-saturating
    signature at exactly the scale where it matters.

    `signatures`: optional precomputed (doc_id, simhash) table — pipelines
    that materialize signatures once can reuse them across max_hamming
    settings instead of re-running the tokenize→vote lineage. Requires an
    explicit `bits` matching the signature width (the band split depends
    on it)."""
    if signatures is not None:
        if bits is None:
            raise ValueError(
                "precomputed signatures require explicit bits= (band split "
                "depends on the signature width)"
            )
        sh = signatures
    else:
        bits = _resolve_simhash_bits(docs, bits)
        # the signature lineage (tokenize → per-token votes → per-doc bit
        # assembly) feeds THREE subtrees: the band rows and both verify
        # joins — checkpoint the compact (doc_id, simhash) table so it runs
        # once (same convention as minhash_lsh_pairs' sig checkpoint)
        sh = (
            (simhash32 if bits == SIMHASH_BITS else simhash64)(docs, text_col)
            .localCheckpoint(eager=False)
        )
    cand = band_pairs(
        _simhash_bands(sh, max_hamming, bits).withColumn("is_new", F.lit(True)),
        max_bucket,
    )
    return verify_pairs(
        cand, sh, ["doc_id", "simhash"], "hamming",
        lambda a, b: F.bit_count(a[0].bitwiseXOR(b[0])).cast("long"),
    ).filter(F.col("hamming") <= max_hamming)


