"""Vectorized tokenizer UDFs: one Arrow kernel for every row, ASCII or not.

Implements the analyzer-chain spec (see textnorm.py) over whole Arrow
batches with pyarrow.compute (guide §4.2: hand whole batches to vectorized
native kernels): RE2 splits and replacements, utf8 trim/lower/NFD, hash-set
stopword membership, dictionary-encode + numpy first-occurrence dedup. The
result is assembled as an Arrow ListArray directly (no per-token Python
objects; the pandas-UDF serializer consumes the Arrow-backed Series
zero-copy). Only the rare >255-char whitespace-free runs touch Python, one
string each.

The kernel has two parts: `_token_stream` (steps 1-5, every occurrence in
stream order) and the per-row dedup in `_tokenize_batch_arrow` (step 6);
`ngram_text` counts frequencies on the same stream. Parity with
`textnorm.analyze` / `ngram_text.ngram_text` is enforced by
tests/test_tokenize_udf.py (including Hypothesis property tests over
adversarial Unicode and long runs).
"""
from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from ..stopwords import ALL
from ..textnorm import JAVA_WS_RE, MAX_NGRAM, MAX_TOKEN_LEN, MIN_NGRAM, _JAVA_TRIM

_WS_PAT = JAVA_WS_RE.pattern
_COMBINING_PAT = "[\u0300-\u036f]"
_NONWORD_PAT = r"[^a-zA-Z0-9_\-]"

_STOP_ARR = pa.array(sorted(ALL), type=pa.string())


def _uniform(a):
    """Tools.uniformString over a StringArray: trim → lower → NFD → strip
    combining U+0300-036F → non-[a-z0-9_-] → space. A pure-ASCII batch skips
    the NFD + combining strip (identity on ASCII)."""
    a = pc.utf8_lower(pc.utf8_trim(a, characters=_JAVA_TRIM))
    if not pc.all(pc.string_is_ascii(a)).as_py():
        a = pc.utf8_normalize(a, form="NFD")
        a = pc.replace_substring_regex(a, pattern=_COMBINING_PAT, replacement="")
    return pc.replace_substring_regex(a, pattern=_NONWORD_PAT, replacement=" ")


def _explode(lists, row):
    """Flatten a ListArray aligned with `row`, repeating each row id."""
    return lists.flatten(), np.repeat(row, lists.value_lengths().to_numpy(zero_copy_only=False))


def _keep(flat, row, mask):
    return flat.filter(mask), row[mask.to_numpy(zero_copy_only=False)]


def _chunk_long(flat, row):
    """Lucene buffer flush: split each >MAX_TOKEN_LEN token into
    MAX_TOKEN_LEN-char pieces in place; only those few tokens touch Python."""
    # a token has at least as many bytes as chars: count chars only for the
    # few with more than MAX_TOKEN_LEN bytes
    long_pos = np.flatnonzero(pc.binary_length(flat).to_numpy(zero_copy_only=False) > MAX_TOKEN_LEN)
    long_pos = long_pos[pc.utf8_length(flat.take(long_pos)).to_numpy(zero_copy_only=False) > MAX_TOKEN_LEN]
    if not len(long_pos):
        return flat, row
    pieces = [
        [w[i : i + MAX_TOKEN_LEN] for i in range(0, len(w), MAX_TOKEN_LEN)]
        for w in flat.take(long_pos).to_pylist()
    ]
    reps = np.ones(len(flat), dtype=np.int64)
    reps[long_pos] = [len(p) for p in pieces]
    is_long = np.zeros(len(flat), dtype=bool)
    is_long[long_pos] = True
    # every output slot takes its token, except a long token's slots, which
    # take its pieces appended after `flat`
    src = np.repeat(np.arange(len(flat)), reps)
    src[np.repeat(is_long, reps)] = len(flat) + np.arange(reps[long_pos].sum())
    merged = pa.concat_arrays([flat, pa.array([w for p in pieces for w in p], type=pa.string())])
    return merged.take(src), np.repeat(row, reps)


def _token_stream(arr, pre_uniform: bool):
    """Analyzer steps 1-5 over a StringArray: (tokens, row ids) of every
    emitted prefix token in stream order, row ids non-decreasing."""
    if pre_uniform:
        arr = _uniform(arr)
    # 1) whitespace tokenize (Java isWhitespace class), chunk long runs
    flat, row = _explode(pc.split_pattern_regex(arr, pattern=_WS_PAT), np.arange(len(arr)))
    flat, row = _chunk_long(*_keep(flat, row, pc.greater(pc.binary_length(flat), 0)))
    # 2) UniformFilter on each token; 3) StopFilter on the WHOLE token
    flat = _uniform(flat)
    flat, row = _keep(flat, row, pc.invert(pc.is_in(flat, value_set=_STOP_ARR)))
    # 4) WhitespaceFilter: java-trim then re-split on " +"
    flat = pc.utf8_trim(flat, characters=_JAVA_TRIM)
    flat, row = _explode(pc.split_pattern_regex(flat, pattern=" +"), row)
    # 5) NGramFilter: len >= MIN -> prefix of MAX
    flat, row = _keep(flat, row, pc.greater_equal(pc.utf8_length(flat), MIN_NGRAM))
    return pc.utf8_slice_codeunits(flat, 0, MAX_NGRAM), row


def _token_keys(flat, row):
    """One int64 key per (row, token) pair, ordered by row first."""
    codes = pc.dictionary_encode(flat).indices.to_numpy(zero_copy_only=False).astype(np.int64)
    return row * (codes.max(initial=-1) + 1) + codes


def _first_k_per_row(rows, k: int):
    """Mask keeping the first `k` entries of each run of equal `rows`."""
    starts = np.r_[0, np.flatnonzero(np.diff(rows)) + 1]
    cumcount = np.arange(len(rows)) - np.repeat(starts, np.diff(np.r_[starts, len(rows)]))
    return cumcount < k


def _rows_to_lists(values, rows, n_rows: int):
    """Values grouped by non-decreasing `rows` → ListArray of n_rows lists."""
    return pa.ListArray.from_arrays(_list_offsets(np.bincount(rows, minlength=n_rows)), values)


def _tokenize_batch_arrow(arr, pre_uniform: bool, max_tokens: int | None):
    """The analyzer kernel: pa.StringArray -> pa.ListArray of the ordered
    distinct prefix tokens of each row (step 6: per-row first-occurrence
    dedup, optionally capped at `max_tokens`)."""
    flat, row = _token_stream(arr, pre_uniform)
    _, first = np.unique(_token_keys(flat, row), return_index=True)
    sel = np.sort(first)
    if max_tokens is not None:
        sel = sel[_first_k_per_row(row[sel], max_tokens)]
    return _rows_to_lists(flat.take(sel), row[sel], len(arr))


def _list_offsets(counts):
    """Per-row token counts → int32 ListArray offsets. Summed in int64 and
    checked: past 2^31 − 1 tokens in one batch, int32 offsets would wrap
    silently and corrupt the ListArray."""
    offsets = np.zeros(len(counts) + 1, dtype=np.int64)
    np.cumsum(counts, out=offsets[1:])
    if offsets[-1] > np.iinfo(np.int32).max:
        raise ValueError(f"{offsets[-1]} tokens in one Arrow batch overflow int32 offsets")
    return pa.array(offsets.astype(np.int32))


def _arrow_strings(texts: pd.Series):
    return pa.Array.from_pandas(texts.fillna(""), type=pa.string())


def _tokenize_series(texts: pd.Series, pre_uniform: bool, max_tokens: int | None) -> pd.Series:
    """UDF body: Series[str] -> Arrow-backed Series[list[str]]."""
    lists = _tokenize_batch_arrow(_arrow_strings(texts), pre_uniform, max_tokens)
    return pd.Series(pd.arrays.ArrowExtensionArray(lists), index=texts.index)


@pandas_udf(T.ArrayType(T.StringType()))
def tokenize(texts: pd.Series) -> pd.Series:
    """Index-path tokenizer: ordered distinct prefix tokens of a document."""
    return _tokenize_series(texts, pre_uniform=False, max_tokens=None)


@pandas_udf(T.ArrayType(T.StringType()))
def rerank_tokens(texts: pd.Series) -> pd.Series:
    """Rerank-path tokenizer: pre-uniformized, capped at 100 distinct tokens
    (getCommonNGrams semantics — SimDocsSearch.scala:509-528)."""
    return _tokenize_series(texts, pre_uniform=True, max_tokens=100)


_BOTH_RET = T.StructType(
    [
        T.StructField("tokens", T.ArrayType(T.StringType())),
        T.StructField("rr_tokens", T.ArrayType(T.StringType())),
    ]
)


@pandas_udf(_BOTH_RET)
def tokenize_with_rerank(texts: pd.Series, rerank_source: pd.Series) -> pd.DataFrame:
    """Fused index-path + rerank-path tokenizer: ONE Python eval node per doc
    row instead of two (same kernels as `tokenize`/`rerank_tokens`; the build
    path pays the JVM↔Python crossing once — guide §4.1)."""
    return pd.DataFrame(
        {
            "tokens": _tokenize_series(texts, pre_uniform=False, max_tokens=None),
            "rr_tokens": _tokenize_series(rerank_source, pre_uniform=True, max_tokens=100),
        }
    )


@pandas_udf(T.StringType())
def uniform(texts: pd.Series) -> pd.Series:
    """Vectorized Tools.uniformString equivalent (the kernel's `_uniform`)."""
    return pd.Series(pd.arrays.ArrowExtensionArray(_uniform(_arrow_strings(texts))), index=texts.index)
