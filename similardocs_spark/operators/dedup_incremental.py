"""Incremental near-duplicate detection: new document batches vs an
existing corpus, without re-reading (or re-shingling) the corpus.

The batch `deduplicate` / `minhash_lsh_pairs` operators (dedup.py) assume
the whole corpus is in hand. A training-data pipeline ingests continuously:
each new batch must be checked against everything already accepted, and at
100 TB the accepted corpus CANNOT be re-tokenized per batch. The contract
here mirrors the engine's index/incremental.py pattern (reference parity:
the reference's incremental updater tops up a stateful Lucene index —
SimilarDocs' WebUpdaterService / LuceneIndexMain add-documents path — and
this module is that idea applied to the dedup signature state):

  - the STATE is the MinHash signature table (doc_id, mh0..mh{n-1}) — a
    projection ~50× smaller than the texts, written once per accepted batch
    (`signatures_for`, caller persists it wherever corpus state lives);
  - `pairs_against(new_docs, corpus_sig)` computes signatures for the NEW
    batch only, bands BOTH sides (banding corpus signatures is a cheap
    projection of the stored state — no text I/O), and joins candidates
    within the buckets the batch touches, requiring ≥1 new side: new×new
    and new×corpus pairs, never corpus×corpus (already adjudicated when
    those docs were accepted);
  - `accept_batch` = pairs + edge-wise rejection, the tick callers run
    per ingested batch.

The candidate join (`touched_bucket_pairs`), the rejection
(`edgewise_survivors`) and the tick (`adjudicate_batch`) are shared with
the vector modality (ann_incremental.py, LSH tables stacked as bands).
`touched_bucket_pairs` is only the touched-key semi-join and hot-bucket
pre-drop in front of bands.py's `band_pairs`, the pair join of the batch
operators too; the audit and the estimate join-back are bands.py's
`oversized_buckets` and `verify_pairs`.

The seed-i hash family (dedup._minhash_cols) is shared across configs and
widening `n_hashes` only APPENDS columns, so a corpus signature table
written at n=16 serves any future config with n_hashes ≤ 16.

Skew guards are inherited from the batch operator: the bucket cap applies
to the COMBINED (corpus ∪ new) bucket — a boilerplate text that saturated
a bucket in the corpus keeps capping it for new batches (observable via
`oversized_buckets_against`, never silent).
"""
from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .bands import band_pairs, oversized_buckets, verify_pairs
from .dedup import (
    MAX_BUCKET,
    N_BANDS,
    N_HASHES,
    _band_buckets,
    exact_representatives,
    jaccard_estimate,
    minhash_signatures,
)


def signatures_for(
    docs: DataFrame, text_col: str = "text", n_hashes: int = N_HASHES
) -> DataFrame:
    """Signature rows (doc_id, mh0..mh{n-1}) for a batch — the state a
    caller appends to its corpus signature table after accepting the batch.
    Exact-duplicate texts within the batch are collapsed to their min-id
    representative first (identical texts are the exact-dedup operator's
    job; signature state only needs one row per distinct text)."""
    return minhash_signatures(
        exact_representatives(docs, text_col), text_col, n_hashes
    )


def _validate_sig(sig: DataFrame, n_hashes: int) -> None:
    missing = [f"mh{i}" for i in range(n_hashes) if f"mh{i}" not in sig.columns]
    if missing:
        raise ValueError(
            f"corpus signature table lacks columns {missing} — it was built "
            f"with fewer hashes than n_hashes={n_hashes}; rebuild the state "
            "or query with a smaller n_hashes (the seed-i family is shared, "
            "so narrowing is always valid)"
        )


def touched_bucket_pairs(
    new_rows: DataFrame,
    corpus_rows: DataFrame,
    max_bucket: int,
    corpus_counts: DataFrame | None = None,
) -> DataFrame:
    """Candidate (doc_a, doc_b) pairs, doc_a < doc_b, with ≥1 side in the
    new batch, from (doc_id, band, key) bucket rows of the batch and of the
    corpus — the one candidate join of both incremental modalities (text:
    MinHash bands; vectors: LSH tables stacked as bands).

    A tick SHUFFLES O(batch + hits), never O(corpus): the batch's touched
    (band, key) set is broadcast and the corpus rows are left-semi-joined
    against it, so the corpus side is STREAMED map-side; only rows in
    buckets the batch touches ("hits") flow on. The cap on the COMBINED
    (corpus ∪ new) bucket is a window count over hits ∪ batch — untouched
    buckets can produce no pair with a new side, so this equals a
    corpus-wide cap.

    `corpus_counts` takes materialized (band, key, cnt) corpus bucket
    sizes, possibly as per-tick deltas: a bucket whose corpus size alone
    reaches the cap can never pass it, so it is dropped from both sides
    BEFORE its rows stream through the semi join. The counts are
    restricted to the touched keys (broadcast semi) before summing."""
    touched = new_rows.select("band", "key").distinct()
    if corpus_counts is not None:
        hot = (
            corpus_counts.join(
                F.broadcast(touched), ["band", "key"], "left_semi"
            )
            .groupBy("band", "key")
            .agg(F.sum("cnt").alias("cnt"))
            .filter(F.col("cnt") >= max_bucket)
            .select("band", "key")
        )
        new_rows = new_rows.join(
            F.broadcast(hot), ["band", "key"], "left_anti"
        )
        touched = touched.join(F.broadcast(hot), ["band", "key"], "left_anti")
    hits = corpus_rows.select("doc_id", "band", "key").join(
        F.broadcast(touched), ["band", "key"], "left_semi"
    )
    both = new_rows.select("doc_id", "band", "key").withColumn(
        "is_new", F.lit(True)
    ).unionByName(hits.withColumn("is_new", F.lit(False)))
    return band_pairs(both, max_bucket)


def pair_member_rows(
    pairs: DataFrame,
    corpus: DataFrame,
    new: DataFrame,
    cols: list[str],
    a: str = "doc_a",
    b: str = "doc_b",
) -> DataFrame:
    """`cols` (id column first) of every pair member: the batch rows plus
    the corpus rows fetched by a broadcast semi-join on the bounded
    member ids — the corpus is streamed, never shuffled."""
    id_col = cols[0]
    members = (
        pairs.select(F.col(a).alias(id_col))
        .unionByName(pairs.select(F.col(b).alias(id_col)))
        .distinct()
    )
    return (
        corpus.select(*cols)
        .join(F.broadcast(members), id_col, "left_semi")
        .unionByName(new.select(*cols))
    )


def pairs_against(
    new_docs: DataFrame,
    corpus_sig: DataFrame,
    text_col: str = "text",
    max_bucket: int = MAX_BUCKET,
    n_hashes: int = N_HASHES,
    n_bands: int = N_BANDS,
    estimate_jaccard: bool = False,
    min_jaccard: float | None = None,
    new_sig: DataFrame | None = None,
    corpus_bands: DataFrame | None = None,
    corpus_counts: DataFrame | None = None,
) -> DataFrame:
    """Candidate near-dup pairs with ≥1 side in the new batch.

    Output: (doc_a, doc_b[, jaccard_est]) with doc_a < doc_b; both
    new×new and new×corpus pairs are produced, corpus×corpus never is
    (those documents were already adjudicated when accepted). doc_id
    spaces must be disjoint between corpus and batch — the caller's id
    allocator owns that invariant (same contract as index ingestion).
    Candidates come from `touched_bucket_pairs` over both sides' band
    rows, so a tick shuffles O(batch + hits), never O(corpus).

    `corpus_bands` takes PRE-BANDED state rows (band, key, doc_id) —
    e.g. BandedDedupState, which persists banding once per accepted doc —
    skipping the per-tick re-banding projection; `corpus_counts` takes
    materialized (band, key, cnt) corpus bucket sizes (see
    `touched_bucket_pairs`). Both are derived from `corpus_sig` (bands)
    or skipped (counts) when omitted. `new_sig` lets a caller that
    already ran `signatures_for` on the batch (to append state) reuse it.

    `estimate_jaccard` / `min_jaccard` behave as in minhash_lsh_pairs:
    the signature-agreement estimator, over signatures fetched by
    `pair_member_rows` (again no corpus shuffle).
    """
    if new_sig is None:
        # the batch lineage (tokenize → shingle → minhash) feeds the
        # touched-bucket broadcast AND the banded union — checkpoint the
        # compact batch-bounded signature table so it runs once (unlike
        # persist(), no CacheManager entry pins it for the session)
        new_sig = signatures_for(new_docs, text_col, n_hashes)
        new_sig = new_sig.localCheckpoint(eager=False)
    _validate_sig(corpus_sig, n_hashes)
    _validate_sig(new_sig, n_hashes)
    keep = ["doc_id", *[f"mh{i}" for i in range(n_hashes)]]
    if corpus_bands is None:
        corpus_bands = _band_buckets(
            corpus_sig.select(*keep), n_hashes, n_bands
        )
    pairs = touched_bucket_pairs(
        _band_buckets(new_sig, n_hashes, n_bands),
        corpus_bands,
        max_bucket,
        corpus_counts,
    )
    if not (estimate_jaccard or min_jaccard is not None):
        return pairs
    pairs = pairs.localCheckpoint(eager=False)  # id broadcast + estimate
    sig_small = pair_member_rows(pairs, corpus_sig, new_sig, keep)
    est = verify_pairs(pairs, sig_small, keep, "jaccard_est", jaccard_estimate)
    if min_jaccard is not None:
        est = est.filter(F.col("jaccard_est") >= min_jaccard)
    return est


def oversized_buckets_against(
    new_docs: DataFrame,
    corpus_sig: DataFrame,
    text_col: str = "text",
    max_bucket: int = MAX_BUCKET,
    n_hashes: int = N_HASHES,
    n_bands: int = N_BANDS,
) -> DataFrame:
    """Audit: the combined (corpus ∪ new) band buckets pairs_against would
    skip, with sizes — the no-silent-caps contract, incremental edition."""
    sig = corpus_sig.select(
        "doc_id", *[f"mh{i}" for i in range(n_hashes)]
    ).unionByName(
        signatures_for(new_docs, text_col, n_hashes).select(
            "doc_id", *[f"mh{i}" for i in range(n_hashes)]
        )
    )
    return oversized_buckets(_band_buckets(sig, n_hashes, n_bands), max_bucket)


def edgewise_survivors(
    pairs: DataFrame, new_ids: DataFrame, a: str = "doc_a", b: str = "doc_b"
) -> DataFrame:
    """Batch ids (the one column of `new_ids`) surviving edge-wise
    rejection of the (a, b) pairs: a pair against the corpus drops the new
    side, an in-batch pair drops the higher id. Id-order-agnostic (keys on
    WHICH side is new, not on id order)."""
    (id_col,) = new_ids.columns
    flagged = pairs.join(
        new_ids.select(F.col(id_col).alias(a), F.lit(True).alias("_a_new")),
        a,
        "left",
    ).join(
        new_ids.select(F.col(id_col).alias(b), F.lit(True).alias("_b_new")),
        b,
        "left",
    )
    rejected = flagged.select(
        F.when(F.col("_a_new") & F.col("_b_new").isNull(), F.col(a))
        .otherwise(F.col(b))
        .alias(id_col)
    ).distinct()
    return new_ids.join(rejected, id_col, "left_anti")


def adjudicate_batch(
    new_docs: DataFrame,
    new_state: DataFrame,
    pairs_of: Callable[[DataFrame], DataFrame],
    id_col: str = "doc_id",
    a: str = "doc_a",
    b: str = "doc_b",
    materialize: bool = False,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """One ingest tick of either modality: (accepted, pairs, state_rows).

    `new_state` is the batch's state rows (signatures or LSH rows) and
    `pairs_of(new_state)` its (a, b) pairs against the corpus; the
    edge-wise survivors select the accepted batch rows and the state rows
    to append. `materialize` phases the tick for a persistent state: the
    batch's state rows are materialized once, then the pairs, and the
    accepted/state rows — cheap derivations of those two — last, so no
    output's plan re-reads the state directories the commit replaces.
    (Checkpointing the three outputs of one lazy tick re-ran the whole
    adjudication per output.)"""

    def done(df: DataFrame) -> DataFrame:
        return df.localCheckpoint(eager=True) if materialize else df

    new_state = done(new_state)
    pairs = done(pairs_of(new_state))
    survivors = edgewise_survivors(pairs, new_state.select(id_col), a, b)
    accepted = done(new_docs.join(survivors, id_col, "left_semi"))
    state_rows = done(new_state.join(survivors, id_col, "left_semi"))
    return accepted, pairs, state_rows


def accept_batch(
    new_docs: DataFrame,
    corpus_sig: DataFrame,
    text_col: str = "text",
    min_jaccard: float | None = None,
    max_bucket: int = MAX_BUCKET,
    n_hashes: int = N_HASHES,
    n_bands: int = N_BANDS,
    corpus_bands: DataFrame | None = None,
    corpus_counts: DataFrame | None = None,
    new_sig: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """One ingest tick: returns (accepted_docs, pairs, new_state_rows).

    accepted_docs = new batch minus every doc with a near-match in the
    corpus, minus the higher-id side of every in-batch pair (edge-wise
    rejection: unlike `deduplicate`'s connected components it keeps two
    batch docs that BOTH match a third but not each other — correct for
    threshold similarity, which is not transitive); pairs = the evidence
    (doc_a < doc_b, with jaccard_est when min_jaccard gates);
    new_state_rows = signature rows for the ACCEPTED docs only — append
    these to the corpus signature table after committing the batch. Exact
    in-batch duplicates are also dropped (signatures_for collapses them;
    the collapsed ids never reach the survivor set). Corpus ids may sort
    above or below batch ids — rejection keys on WHICH side is new, not
    on id order.
    """
    if new_sig is None:
        new_sig = signatures_for(new_docs, text_col, n_hashes)
    return adjudicate_batch(
        new_docs,
        new_sig,
        lambda sig: pairs_against(
            new_docs,
            corpus_sig,
            text_col,
            max_bucket=max_bucket,
            n_hashes=n_hashes,
            n_bands=n_bands,
            min_jaccard=min_jaccard,
            new_sig=sig,
            corpus_bands=corpus_bands,
            corpus_counts=corpus_counts,
        ),
    )
