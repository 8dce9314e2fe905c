"""Incremental embedding near-dup detection: new vector batches vs an
existing corpus, mirroring operators/dedup_incremental.py for the
embedding modality.

State is the ACCEPTED embeddings enriched with their LSH artifacts —
per-table hyperplane buckets (b0..b{tables-1}) and the vector norm —
so per ingest tick the corpus side is read as-is: no re-projection
(the matmul bucket UDF runs over the new batch only), no norm
recompute, and no corpus shuffle. The state rows are ann.py's
`state_for`, the input of the batch embedding_near_dup_pairs too. The
candidate join, the edge-wise rejection and the tick are
dedup_incremental's (`touched_bucket_pairs` over the tables stacked as
bands, `edgewise_survivors`, `adjudicate_batch`); the pair join, the cap
audit and the cosine verify join-back are bands.py's, as in the batch
operator. The state is STREAMED through broadcast semi-joins on the
batch's touched buckets and on the bounded pair-member ids, so a tick
shuffles O(batch + hits) rows regardless of corpus size. Unlike the
text case the vectors themselves must live in state anyway (exact cosine
verification needs them), so the win is compute + the ingestion
CONTRACT: new×corpus and new×new candidates only, never corpus×corpus,
with the same bucket-cap observability and every emitted pair exactly
verified.

The LSH configuration (dim, bits, tables, seed) is stamped into the
bucket columns' field metadata — Spark persists field metadata through
parquet — and `pairs_against` fails fast on a mismatched or missing
config instead of silently joining buckets from different hash families.

SIZE `bits` TO THE CORPUS (`ann.lsh_bits_for`): per-tick corpus work is
the rows in buckets the batch touches ≈ expected_bucket_size × touched
buckets — corpus-INDEPENDENT only while expected bucket size is held
~constant. At a fixed bits the tick degrades to O(corpus) as the corpus
outgrows its 2^bits bucket space (measured: bits=14, 300k→3M vectors,
tick shuffle 256→3883 MB — scripts/ann_inc_scale.py), so when the
corpus grows ~10× past its bootstrap sizing, re-band the state with more
bits at a compaction (one projection pass; cheaper than every tick
paying the full corpus).
"""
from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .ann import _bucket_rows, _table_audit, cosine_e6, infer_dim, state_for
from .bands import verify_pairs
from .dedup_incremental import (
    adjudicate_batch,
    pair_member_rows,
    touched_bucket_pairs,
)


def _resolve_dim(
    dim: int | None, corpus_state: DataFrame | None, batch: DataFrame, vec_col: str
) -> int:
    """Per-tick dim resolution WITHOUT a per-tick probe job: explicit `dim`
    wins; else the LSH config stamped into the corpus state's b0 field
    metadata (state_for writes it; parquet persists it) — zero extra jobs;
    only a metadata-less state (or a bootstrap with no state) falls back to
    one bounded null-safe probe of the batch."""
    if dim is not None:
        return dim
    if corpus_state is not None and "b0" in corpus_state.columns:
        meta = corpus_state.schema["b0"].metadata
        if meta and meta.get("dim") is not None:
            return int(meta["dim"])
    return infer_dim(batch, vec_col)


def _resolve_config(
    corpus_state: DataFrame | None,
    bits: int | None,
    tables: int | None,
    seed: int | None,
) -> tuple[int, int, int]:
    """Per-tick LSH-config resolution: explicit argument wins; else the
    config stamped into the corpus state's b0 field metadata (state_for
    writes it; parquet persists it); else the small-corpus defaults
    (6, 2, 42). Lets a caller bootstrap with `bits=lsh_bits_for(n)` once
    and run every tick as plain `pairs_against(batch, state)` — the tick
    can no longer silently disagree with the bootstrap sizing."""
    meta = None
    if corpus_state is not None and "b0" in corpus_state.columns:
        meta = corpus_state.schema["b0"].metadata or None

    def pick(v: int | None, k: str, d: int) -> int:
        if v is not None:
            return v
        if meta and meta.get(k) is not None:
            return int(meta[k])
        return d

    return pick(bits, "bits", 6), pick(tables, "tables", 2), pick(
        seed, "seed", 42
    )


def reband_state(
    state: DataFrame,
    bits: int,
    tables: int | None = None,
    seed: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Re-derive the bucket columns at a NEW config from the state's
    stored vectors — ONE projection pass (the bucket matmul UDF over the
    state; no shuffle, no re-read of source data). Run at a compaction
    when the corpus has outgrown its bootstrap `lsh_bits_for` sizing
    (module docstring: at a fixed bits, per-tick cost degrades to
    O(corpus) as expected bucket size grows with the corpus). dim and
    any unspecified config come from the old state's stamped metadata;
    subsequent ticks pick the new config up from the new metadata."""
    meta = state.schema["b0"].metadata if "b0" in state.columns else {}
    dim = int(meta["dim"]) if meta and meta.get("dim") is not None else None
    _, old_tables, old_seed = _resolve_config(state, None, None, None)
    return state_for(
        state.select(id_col, vec_col),
        dim=dim,
        bits=bits,
        tables=tables if tables is not None else old_tables,
        seed=seed if seed is not None else old_seed,
        id_col=id_col,
        vec_col=vec_col,
    )


def _validate_state(state: DataFrame, tables: int, expect: dict) -> None:
    for t in range(tables):
        name = f"b{t}"
        if name not in state.columns:
            raise ValueError(
                f"corpus state lacks bucket column {name} — it was built "
                f"with fewer tables than tables={tables}"
            )
        meta = state.schema[name].metadata
        if meta:
            got = {k: meta.get(k) for k in ("dim", "bits", "tables", "seed")}
            if any(got[k] is not None and got[k] != expect[k] for k in expect):
                raise ValueError(
                    f"corpus state column {name} was built with LSH config "
                    f"{got}, query uses {expect} — bucket ids are from "
                    "different hash families; rebuild the state or match "
                    "the config"
                )


def pairs_against(
    new_embeddings: DataFrame,
    corpus_state: DataFrame,
    threshold: float = 0.9,
    bits: int | None = None,
    tables: int | None = None,
    seed: int | None = None,
    max_bucket: int = 2000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
    new_state: DataFrame | None = None,
) -> DataFrame:
    """Verified near-dup pairs (vec_a, vec_b, cosine_e6) with ≥1 side in
    the new batch; vec_a < vec_b; corpus×corpus pairs never produced.
    Same join as embedding_near_dup_pairs: ids-only candidate shuffle,
    per-table combined-bucket cap, exact cosine verification of every
    emitted pair. `new_state` lets a caller reuse `state_for`
    output computed for the append.

    Candidates come from dedup_incremental's `touched_bucket_pairs` over
    the tables stacked as bands (one join and one cap window for all
    tables), so the corpus state is streamed through a broadcast
    semi-join and a tick SHUFFLES O(batch + hits) id/bucket rows; the
    verify join fetches corpus vectors by a second broadcast semi-join on
    the bounded pair-member ids, never shuffling corpus vectors.

    bits/tables/seed default to the config stamped in the corpus state's
    metadata (then 6/2/42), so ticks follow the bootstrap sizing — pass
    explicitly only to override (a mismatch still fails fast)."""
    dim = _resolve_dim(dim, corpus_state, new_embeddings, vec_col)
    bits, tables, seed = _resolve_config(corpus_state, bits, tables, seed)
    expect = {"dim": dim, "bits": bits, "tables": tables, "seed": seed}
    if new_state is None:
        new_state = state_for(
            new_embeddings, dim, bits, tables, seed, id_col, vec_col
        )
    _validate_state(corpus_state, tables, expect)
    _validate_state(new_state, tables, expect)

    cands = (
        touched_bucket_pairs(
            _bucket_rows(new_state, id_col, tables),
            _bucket_rows(corpus_state, id_col, tables),
            max_bucket,
        )
        .select(F.col("doc_a").alias("vec_a"), F.col("doc_b").alias("vec_b"))
        # feeds the member-id broadcast AND the verify join; checkpointed,
        # not persisted: a CacheManager entry would pin it for the session
        .localCheckpoint(eager=False)
    )
    vec_src = pair_member_rows(
        cands, corpus_state, new_state, [id_col, vec_col, "_n"],
        "vec_a", "vec_b",
    ).localCheckpoint(eager=False)  # pair members + batch; feeds both sides
    return verify_pairs(
        cands, vec_src, [id_col, vec_col, "_n"], "cosine_e6", cosine_e6,
        "vec_a", "vec_b",
    ).filter(F.col("cosine_e6") >= int(round(threshold * 1e6)))


def accept_batch(
    new_embeddings: DataFrame,
    corpus_state: DataFrame,
    threshold: float = 0.9,
    bits: int | None = None,
    tables: int | None = None,
    seed: int | None = None,
    max_bucket: int = 2000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """One ingest tick: (accepted_embeddings, pairs, new_state_rows).
    Rejection is id-order-agnostic and edge-wise, dedup_incremental's
    `edgewise_survivors`: a corpus match drops the new side, an in-batch
    pair drops the higher id. LSH config defaults to the corpus state's
    stamped metadata (see pairs_against)."""
    dim = _resolve_dim(dim, corpus_state, new_embeddings, vec_col)
    bits, tables, seed = _resolve_config(corpus_state, bits, tables, seed)
    return adjudicate_batch(
        new_embeddings,
        state_for(new_embeddings, dim, bits, tables, seed, id_col, vec_col),
        lambda new_state: pairs_against(
            new_embeddings, corpus_state, threshold, bits, tables, seed,
            max_bucket, id_col, vec_col, dim, new_state=new_state,
        ),
        id_col,
        "vec_a",
        "vec_b",
    )


def oversized_buckets_against(
    new_embeddings: DataFrame,
    corpus_state: DataFrame,
    bits: int | None = None,
    tables: int | None = None,
    seed: int | None = None,
    max_bucket: int = 2000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """Audit: combined (corpus ∪ new) buckets pairs_against would skip,
    as (table, bucket, bucket_size) rows — no silent caps. LSH config
    defaults to the corpus state's stamped metadata (see pairs_against)."""
    dim = _resolve_dim(dim, corpus_state, new_embeddings, vec_col)
    bits, tables, seed = _resolve_config(corpus_state, bits, tables, seed)
    new_state = state_for(
        new_embeddings, dim, bits, tables, seed, id_col, vec_col
    )
    return _table_audit(
        _bucket_rows(corpus_state, id_col, tables).unionByName(
            _bucket_rows(new_state, id_col, tables)
        ),
        max_bucket,
    )
