"""N-gram language-model perplexity scoring — the CCNet-style quality
gate (Wenzek et al. 2020: score web text with a reference-corpus LM and
keep the low-perplexity head; GPT-3 and LLaMA pipelines filter the same
way). KenLM's role is played by an add-one-smoothed bigram model, which
— unlike a 5-gram Kneser-Ney — is expressible as pure DataFrame ops
with integer-exact cross-engine semantics.

Model: p(w2 | w1) = (c(w1 w2) + 1) / (c(w1) + V) over the LM corpus's
lowercased ws-split token stream (the engine's shared convention), with
V = exact distinct-word count. Per-document score = the sum of e6-scaled
negative log2 probabilities of its bigrams:

    nll(b) = round((log2(c1 + V) - log2(c2 + 1)) * 1e6)  as BIGINT

The e6 rounding happens PER TERM, so every downstream aggregate is an
INTEGER sum — order-independent and bit-identical across engines (a
float sum's value depends on accumulation order, which a shuffled
groupBy does not pin; the cosine_topk oracle rounds once at the end
only because its fold runs in array order on both engines).

Scale shape:
- Count tables shuffle bare xxhash64 longs (words and bigrams hash
  row-locally pre-exchange, the engine's standard narrow-shuffle move);
  the tables themselves are vocab-sized, not corpus-sized.
- The scoring pass explodes each doc's bigrams once and hash-joins the
  two count tables; AQE broadcasts them when they fit, else the joins
  co-partition on the hash key. No driver-side iteration; V is one
  model-sized count job on the cached unigram table.
- A 2^-64 xxhash64 collision merges two counts (same accepted risk as
  repetition_stats / top_ngrams; the DuckDB oracle counts by string and
  agrees unless a collision actually fires).

`lm_docs` defaults to scoring docs against themselves (self-perplexity:
boilerplate and template text score LOW, gibberish HIGH); pass a clean
reference corpus for CCNet-style filtering.

Output: (doc_id, n_bigrams, nll_e6, xent_e6) — xent_e6 is the e6-scaled
mean bigram cross-entropy (null when the doc has < 2 tokens), i.e.
log2(perplexity) * 1e6; filter on it with operators/textstats.
filter_documents-style composition.

Reference parity: the reference engine has no LM surface — part of the
beyond-reference training-pipeline family (COVERAGE.md).
"""
from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["bigram_lm_scores", "trigram_backoff_scores"]


def _tokens(text_col):
    return F.filter(
        F.split(F.lower(F.coalesce(text_col, F.lit(""))), "[ \n]+"),
        lambda x: F.length(x) > 0,
    )


def _hashed_grams(df: DataFrame, text_col: str, id_col: str | None = None,
                  tri: bool = False) -> DataFrame:
    """Per-row hashed gram arrays: (_nw, _h1[, _h2[, _h3]]) — the one
    tokenizer pass every LM consumer (count tables, V, T, scoring stream)
    derives from.

    Gram identity (round 7) = pairwise xxhash64 over the per-token hashes,
    never a concatenated string: the ids are only join keys between count
    tables and stream built by THIS same helper, so no text n-gram is ever
    materialized (same identity-quality caveat as repetition_stats). Each
    array is a REAL projection step, so the tokenizer chain is evaluated
    once per row, not once per slice operand."""
    cols = [id_col] if id_col else []
    d = df.select(*cols, _tokens(F.col(text_col)).alias("_w"))
    d = d.select(
        *cols,
        F.size("_w").alias("_nw"),
        F.transform("_w", lambda x: F.xxhash64(x)).alias("_h1"),
    )
    L2 = F.greatest(F.col("_nw") - 1, F.lit(0))
    d = d.select(
        *cols, "_nw", "_h1",
        F.zip_with(
            F.slice("_h1", 1, L2), F.slice("_h1", 2, L2),
            lambda a, b: F.xxhash64(a, b),
        ).alias("_h2"),
    )
    if tri:
        L3 = F.greatest(F.col("_nw") - 2, F.lit(0))
        d = d.select(
            *cols, "_nw", "_h1", "_h2",
            F.zip_with(
                F.slice("_h2", 1, L3), F.slice("_h1", 3, L3),
                lambda a, b: F.xxhash64(a, b),
            ).alias("_h3"),
        )
    return d


def bigram_lm_scores(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    lm_docs: DataFrame | None = None,
) -> DataFrame:
    """Per-document add-one bigram cross-entropy under an LM fit on
    `lm_docs` (default: `docs` itself). See module docstring."""
    self_lm = lm_docs is None
    # ONE tokenizer pass: the hashed-gram arrays are checkpointed (2 longs
    # per token) and every consumer — unigram/bigram count tables, V, the
    # scoring stream — reads the blocks. The round-6 form re-ran the
    # tokenize + gram chain per consumer (3 full passes for self-scoring).
    dh = _hashed_grams(docs, text_col, id_col).localCheckpoint(eager=False)
    lmh = dh if self_lm else (
        _hashed_grams(lm_docs, text_col).localCheckpoint(eager=False)
    )

    uni = lmh.select(F.explode("_h1").alias("h1")).groupBy("h1").agg(
        F.count("*").alias("c1")
    )
    uni = uni.localCheckpoint(eager=False)
    vocab = uni.count()  # exact V; model-sized job on the checkpointed table

    big = lmh.select(F.explode("_h2").alias("h2")).groupBy("h2").agg(
        F.count("*").alias("c2")
    )

    stream = dh.select(
        F.col(id_col),
        F.explode(
            F.arrays_zip(
                F.col("_h2").alias("h2"),
                F.slice("_h1", 1, F.size("_h2")).alias("h1"),
            )
        ).alias("z"),
    ).select(id_col, F.col("z.h2").alias("h2"), F.col("z.h1").alias("h1"))

    # unseen words/bigrams (lm_docs != docs) smooth to c = 0
    scored = (
        stream.join(big, "h2", "left")
        .join(uni, "h1", "left")
        .select(
            id_col,
            (
                F.round(
                    (
                        F.log2(F.coalesce(F.col("c1"), F.lit(0)) + vocab)
                        - F.log2(F.coalesce(F.col("c2"), F.lit(0)) + 1)
                    )
                    * 1e6
                ).cast("long")
            ).alias("nll"),
        )
    )
    per = scored.groupBy(id_col).agg(
        F.count("*").alias("n_bigrams"), F.sum("nll").alias("nll_e6")
    )
    return (
        docs.select(id_col)
        .join(per, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("n_bigrams"), F.lit(0)).alias("n_bigrams"),
            F.coalesce(F.col("nll_e6"), F.lit(0)).alias("nll_e6"),
            F.round(F.col("nll_e6") / F.col("n_bigrams"))
            .cast("long")
            .alias("xent_e6"),
        )
    )


def trigram_backoff_scores(
    docs: DataFrame,
    alpha: float = 0.4,
    text_col: str = "text",
    id_col: str = "doc_id",
    lm_docs: DataFrame | None = None,
) -> DataFrame:
    """Trigram stupid-backoff cross-entropy (Brants et al. 2007 — the
    large-scale LM recipe CCNet-class filters actually approximate):

        S(w_i | w_{i-2} w_{i-1}) = c3/c2'            if c3 > 0
                                 = α · c2/c1'        elif c2 > 0
                                 = α² · (c1+1)/(T+V) otherwise

    where c3 counts the trigram ending at i, c2'/c1' its contexts, c2
    the backoff bigram, c1 the unigram, T total tokens, V vocab (the
    final level takes an add-one guard so OOV tokens under a reference
    `lm_docs` stay finite; self-trained LMs never reach the backoffs —
    every observed trigram has count ≥ 1, which is exactly why the
    backoff branches are pytest-exercised with a disjoint reference
    corpus).

    Same integer-exactness contract as `bigram_lm_scores`: each
    position's nll (the branch expression INCLUDING the log2(1/α)
    penalty) rounds to an e6 long before any aggregation.

    Scored positions: i ≥ 2 (0-based), i.e. T−2 terms per doc; docs
    shorter than 3 tokens get n_terms = 0 and null xent_e6.

    Plan: three count tables (uni/bi/tri — hashed-long exchanges), one
    explode of per-position hash 5-tuples, five hash left-joins (AQE
    broadcasts what fits), one integer groupBy. A denormalized variant
    (context counts folded into the LM tables at fit time, 3-hash
    stream, two stream joins) was MEASURED SLOWER at 309k docs (94.5 s /
    9.9 GB vs this plan's 78.6 s / 9.8 GB): on a Zipf corpus trigrams
    are nearly unique, so the tri/big tables are stream-sized and the
    table-side context joins cost more than the two stream joins they
    remove. Revisit only with a measured high-reuse corpus.
    """
    self_lm = lm_docs is None
    if not 0.0 < alpha < 1.0:
        raise ValueError(f"alpha must be in (0, 1), got {alpha}")

    # ONE tokenizer pass (see bigram_lm_scores): checkpointed hashed-gram
    # arrays feed all three count tables, V, T AND the scoring stream —
    # the round-6 form ran the tokenize + gram chain five times.
    dh = _hashed_grams(docs, text_col, id_col, tri=True).localCheckpoint(eager=False)
    lmh = dh if self_lm else (
        _hashed_grams(lm_docs, text_col, tri=True).localCheckpoint(eager=False)
    )

    def counts(col, name):
        return (
            lmh.select(F.explode(col).alias("h"))
            .groupBy("h")
            .agg(F.count("*").alias(name))
        )

    uni = counts("_h1", "c1").localCheckpoint(eager=False)
    vocab = uni.count()
    total = lmh.select(F.sum("_nw").alias("t")).collect()[0]["t"] or 0

    big = counts("_h2", "c2")
    tri = counts("_h3", "c3")

    L3 = F.size("_h3")
    stream = dh.select(
        F.col(id_col),
        F.explode(
            F.arrays_zip(
                F.col("_h3").alias("h3"),
                F.slice("_h2", 2, L3).alias("h2"),
                F.slice("_h2", 1, L3).alias("h2p"),
                F.slice("_h1", 3, L3).alias("h1"),
                F.slice("_h1", 2, L3).alias("h1p"),
            )
        ).alias("z"),
    ).select(id_col, "z.h3", "z.h2", "z.h2p", "z.h1", "z.h1p")

    j = (
        stream.join(tri.withColumnRenamed("h", "h3"), "h3", "left")
        .join(big.withColumnRenamed("h", "h2"), "h2", "left")
        .join(
            big.select(
                F.col("h").alias("h2p"), F.col("c2").alias("c2p")
            ),
            "h2p",
            "left",
        )
        .join(uni.withColumnRenamed("h", "h1"), "h1", "left")
        .join(
            uni.select(
                F.col("h").alias("h1p"), F.col("c1").alias("c1p")
            ),
            "h1p",
            "left",
        )
    )
    import math

    lg_inv_a = math.log2(1.0 / alpha)
    c3 = F.coalesce(F.col("c3"), F.lit(0))
    c2 = F.coalesce(F.col("c2"), F.lit(0))
    c2p = F.coalesce(F.col("c2p"), F.lit(0))
    c1 = F.coalesce(F.col("c1"), F.lit(0))
    c1p = F.coalesce(F.col("c1p"), F.lit(0))
    nll = (
        F.when(c3 > 0, F.log2(c2p) - F.log2(c3))
        .when(c2 > 0, F.lit(lg_inv_a) + F.log2(c1p) - F.log2(c2))
        .otherwise(
            F.lit(2 * lg_inv_a)
            + F.log2(F.lit(total + vocab))
            - F.log2(c1 + 1)
        )
    )
    scored = j.select(
        id_col, F.round(nll * 1e6).cast("long").alias("nll")
    )
    per = scored.groupBy(id_col).agg(
        F.count("*").alias("n_terms"), F.sum("nll").alias("nll_e6")
    )
    return (
        docs.select(id_col)
        .join(per, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("n_terms"), F.lit(0)).alias("n_terms"),
            F.coalesce(F.col("nll_e6"), F.lit(0)).alias("nll_e6"),
            F.round(F.col("nll_e6") / F.col("n_terms"))
            .cast("long")
            .alias("xent_e6"),
        )
    )
