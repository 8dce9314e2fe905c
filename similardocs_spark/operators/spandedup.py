"""Exact duplicate-SPAN detection — substring-level dedup signals.

Doc-level dedup (exact_dedup, minhash) misses the dominant real-world
duplication mode: distinct documents sharing long verbatim passages
(boilerplate, quoted articles, license headers). Lee et al. 2022
("Deduplicating Training Data Makes Language Models Better") detect it
with suffix arrays over the concatenated corpus (ExactSubstr, 50-token
threshold); a suffix array is inherently a single-machine sort over the
whole corpus and does not shard. The Spark-first equivalent used here:
hash every STRIDE-1 window of `n` tokens — any exact duplicate span of
length ≥ n manifests as ≥ 1 window hash occurring ≥ 2 times corpus-wide
(and a span of length L ≥ n as exactly L − n + 1 consecutive duplicated
windows), so window-level duplication detects exactly the same spans,
with token coverage recoverable from the positions of the duplicated
windows.

`duplicate_spans` returns per document:

- n_tokens / n_windows ..... row-local sizes (windows = max(0, T − n + 1))
- n_dup_windows ............ windows whose hash occurs ≥ 2 times in the
                             corpus (within-document repeats count: two
                             occurrences inside one doc are duplication)
- dup_tokens ............... tokens covered by ≥ 1 duplicated window =
                             merged-interval length of [pos, pos+n) over
                             duplicated positions; computed streaming over
                             the sorted positions as Σ min(n, pos − prev)
- dup_token_frac_e6 ........ dup_tokens · 10⁶ / n_tokens (e6-scaled long,
                             the engine's cross-engine-exact convention)

Scale shape (the reason this is an operator, not a notebook query):

- Window hashes are computed ROW-LOCALLY (xxhash64 of the space-joined
  token slice, same pre-shuffle hashing convention as repetition_stats /
  decontaminate: a 2⁻⁶⁴ collision can merge two counts, ≪ 1e-12 at any
  realistic corpus): the global frequency pass shuffles BARE LONGS with
  map-side partial combine — the minimum possible exchange for exact
  corpus-wide substring comparison (suffix-array builds are likewise
  O(corpus); nothing prunes an exact global property).
- The duplicated-hash set is tiny relative to the corpus (duplication is
  the anomaly being hunted), so with `broadcast=True` (default) it is
  collected to a broadcast hash set and the per-doc attribution pass
  streams the document side MAP-SIDE — document rows are never shuffled.
  `broadcast=False` degrades to a shuffle join on the window hash for
  pathological corpora where the dup set itself is corpus-sized.
- Only DUPLICATED (doc_id, pos) rows reach the final per-doc aggregation
  (one exchange over the flagged minority), where sorted positions fold
  into the covered-token count row-locally.

Measured at 309k seeded docs, n=20, local[32] (CORPUS_OPS_SCALE.json —
3000 planted exact twins all at exactly full coverage, 6000 near twins
all flagged, identical outputs from both strategies). Round-6 numbers
(window ids = xxhash64 of concatenated strings, chain re-evaluated per
consumer): broadcast 277 s / 637 MB shuffle, shuffle-join 220 s /
1701 MB. Round 7 rebuilt the projection — tokens hashed once per row,
window ids combined pairwise over longs, the compact (doc_id, n_tokens,
window-ids) rows materialized on the broadcast path so the chain runs ONCE
— see CORPUS_OPS_SCALE.json for the re-measured walls (broadcast now
beats the shuffle-join strategy while keeping its ~2.7× smaller
exchange).

The default stays `broadcast=True`: at cluster scale network bytes are
the budget and document rows should never shuffle; flip it when the
duplicated-hash set itself is too large to broadcast.

Reference parity: the reference engine has no substring-level dedup —
this extends the dedup family the graft adds beyond the reference
(SURVEY §2 addendum), semantics per the published recipe cited above.
Tokenization matches repetition_stats/decontaminate: lowercase, split on
[ \\n]+, empties dropped.
"""
from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = [
    "duplicate_spans",
    "strip_duplicate_spans",
    "DEFAULT_SPAN_TOKENS",
]

# Lee et al. use 50 BPE tokens; whitespace tokens are coarser, and the
# engine's quality gates work at word granularity — 20 words ≈ the same
# span mass. Callers tune per corpus.
DEFAULT_SPAN_TOKENS = 20


def _window_df(docs: DataFrame, n: int, text_col: str) -> DataFrame:
    """(doc_id, n_tokens, _h): per doc, the 64-bit identity of every
    stride-1 n-token window (lowercased, ws-split), in position order —
    empty array when the doc has < n tokens.

    Two deliberate cost choices (round 7, see OPTIMIZATION_r07.md):

    - The token array and the per-token xxhash64 are materialized as REAL
      projection steps, so the window chain references a column instead of
      re-inlining the split+filter subtree into every slice operand (the
      round-6 single-expression form evaluated the tokenizer ~2n times per
      row; CollapseProject keeps multi-use non-cheap aliases separate).
    - Window identity is built from the per-token hashes by a pairwise
      xxhash64 zip_with chain over LONGS, not by concatenating the n token
      strings and hashing ~n·wordlen bytes per window. Identity quality is
      unchanged (iterated 64-bit hashing; the module's 2⁻⁶⁴-collision
      caveat applies exactly as before) and the declared outputs carry
      only counts/positions, never the hash itself. The zip_with chain
      form is the measured-fastest projection at corpus scale
      (GRAM_FORM_AB.json) — this keeps the chain and removes the string
      building from it.
    """
    toks = F.filter(
        F.split(F.lower(F.coalesce(F.col(text_col), F.lit(""))), "[ \n]+"),
        lambda x: F.length(x) > 0,
    )
    d = docs.select("doc_id", toks.alias("_w"))
    d = d.select(
        "doc_id",
        F.size("_w").cast("long").alias("n_tokens"),
        F.transform("_w", lambda x: F.xxhash64(x)).alias("_th"),
    )
    win_len = F.greatest(F.col("n_tokens") - (n - 1), F.lit(0)).cast("int")
    parts = [F.slice("_th", i + 1, win_len) for i in range(n)]
    grams = parts[0]
    for p in parts[1:]:
        grams = F.zip_with(grams, p, lambda a, b: F.xxhash64(a, b))
    return d.select("doc_id", "n_tokens", grams.alias("_h"))


def duplicate_spans(
    docs: DataFrame,
    n: int = DEFAULT_SPAN_TOKENS,
    text_col: str = "text",
    min_count: int = 2,
    broadcast: bool = True,
) -> DataFrame:
    """Per-document duplicate-span statistics (see module docstring).

    Returns (doc_id, n_tokens, n_windows, n_dup_windows, dup_tokens,
    dup_token_frac_e6); every input doc_id is present — documents with no
    duplicated window (or shorter than n tokens) report zeros.
    """
    base = _window_df(docs, n, text_col)
    if broadcast:
        # the window projection feeds BOTH the frequency pass and the
        # attribution probe; with the dup set broadcast there is no common
        # exchange to reuse, so checkpoint the compact (doc_id, n_tokens,
        # _h) rows — the chain runs ONCE and the probe/stats read the
        # blocks (round-6 measured the unmaterialized form computing the
        # chain twice; the rule is in similardocs_spark/util.py)
        base = base.localCheckpoint(eager=False)
    wins = base.select(
        "doc_id", F.posexplode("_h").alias("pos", "h")
    )
    # global frequency pass: bare (long) keys, map-side partial combine
    dup_set = wins.groupBy("h").count().filter(
        F.col("count") >= min_count
    ).select("h")
    if broadcast:
        dup_set = F.broadcast(dup_set)
    # attribution: document side streams map-side against the dup set;
    # only flagged (doc_id, pos) rows reach the per-doc exchange, where
    # the sorted positions fold into merged-interval token coverage
    # (Σ min(n, pos − prev); the first window contributes n via the
    # -n sentinel).
    flagged = wins.join(dup_set, "h", "left_semi")
    cov = (
        flagged.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_dup_windows"),
            F.sort_array(F.collect_list("pos")).alias("_ps"),
        )
        .select(
            "doc_id",
            "n_dup_windows",
            F.aggregate(
                "_ps",
                F.struct(
                    F.lit(-n).cast("long").alias("prev"),
                    F.lit(0).cast("long").alias("cov"),
                ),
                lambda acc, p: F.struct(
                    p.cast("long").alias("prev"),
                    (
                        acc["cov"]
                        + F.least(F.lit(n).cast("long"), p - acc["prev"])
                    ).alias("cov"),
                ),
                lambda acc: acc["cov"],
            ).alias("dup_tokens"),
        )
    )
    return (
        base.select(
            "doc_id",
            "n_tokens",
            # arithmetic, not size(_h): the per-doc stats never need the
            # window chain (windows = max(0, T − n + 1) by construction)
            F.greatest(F.col("n_tokens") - (n - 1), F.lit(0))
            .cast("long")
            .alias("n_windows"),
        )
        .join(cov, "doc_id", "left")
        .fillna(0, ["n_dup_windows", "dup_tokens"])
        .select(
            "doc_id",
            "n_tokens",
            "n_windows",
            F.col("n_dup_windows").cast("long").alias("n_dup_windows"),
            F.col("dup_tokens").cast("long").alias("dup_tokens"),
            F.round(
                F.col("dup_tokens") * 1e6 / F.greatest("n_tokens", F.lit(1))
            )
            .cast("long")
            .alias("dup_token_frac_e6"),
        )
    )


def strip_duplicate_spans(
    docs: DataFrame,
    n: int = DEFAULT_SPAN_TOKENS,
    text_col: str = "text",
    min_count: int = 2,
    broadcast: bool = True,
) -> DataFrame:
    """The removal ACTION for duplicate spans (Lee et al. keep one copy):
    every duplicated window gets a corpus-canonical occurrence — the
    (doc_id, pos)-minimal one — and every token covered by a
    NON-canonical occurrence is dropped; the canonical copy survives
    verbatim. Deterministic under any partitioning (canonicity is a pure
    min over the occurrence set).

    Returns (doc_id, text, n_dropped_tokens); docs with nothing to drop
    keep their ORIGINAL text byte-identical (no whitespace rewriting).
    Dropped docs' text is rebuilt from the surviving original-case tokens
    joined by single spaces (tokenization for window identity is
    lowercased, removal applies to the case-preserving token at the same
    position).

    Plan shape: same two passes as `duplicate_spans` — the frequency
    exchange additionally carries min(struct(doc_id, pos)) per window
    hash (same bare-key shuffle, one extra 12-byte aggregate value), and
    the per-doc drop-position sets (the duplicated minority) join back to
    the documents broadcast when `broadcast=True` (duplication is the
    anomaly; flip to False when a large corpus fraction is duplicated and
    the sets outgrow a broadcast).
    """
    base = _window_df(docs, n, text_col)
    if broadcast:
        # chain feeds the canon agg AND the occurrence probe — checkpoint the
        # compact window rows so it runs once (the reuse rule in util.py)
        base = base.localCheckpoint(eager=False)
    wins = base.select("doc_id", F.posexplode("_h").alias("pos", "h"))
    canon = (
        wins.groupBy("h")
        .agg(
            F.count("*").alias("_c"),
            F.min(F.struct("doc_id", "pos")).alias("_keep"),
        )
        .filter(F.col("_c") >= min_count)
        .select("h", "_keep")
    )
    if broadcast:
        canon = F.broadcast(canon)
    drops = (
        wins.join(canon, "h")
        .filter(
            (F.col("doc_id") != F.col("_keep.doc_id"))
            | (F.col("pos") != F.col("_keep.pos"))
        )
        .groupBy("doc_id")
        .agg(F.sort_array(F.collect_set("pos")).alias("_dp"))
    )
    if broadcast:
        drops = F.broadcast(drops)
    # original-case tokens at the SAME positions as the window tokens
    # (same split + empty-drop, minus the lower())
    toks = F.filter(
        F.split(F.coalesce(F.col(text_col), F.lit("")), "[ \n]+"),
        lambda x: F.length(x) > 0,
    )
    kept = F.filter(
        F.col("_t"),
        lambda x, i: ~F.exists(
            F.col("_dp"), lambda p: (i >= p) & (i < p + n)
        ),
    )
    out_cols = [c for c in docs.columns if c != text_col]
    return (
        docs.select(*docs.columns, toks.alias("_t"))
        .join(drops, "doc_id", "left")
        .select(
            *out_cols,
            F.when(F.col("_dp").isNull(), F.col(text_col))
            .otherwise(F.array_join(kept, " "))
            .alias(text_col),
            F.when(
                F.col("_dp").isNull(), F.lit(0).cast("long")
            )
            .otherwise((F.size("_t") - F.size(kept)).cast("long"))
            .alias("n_dropped_tokens"),
        )
    )
