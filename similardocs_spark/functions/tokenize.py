"""Vectorized tokenizer UDFs (pandas/Arrow — no per-row Python in the hot path).

Implements the analyzer-chain spec (see textnorm.py) over pandas Series using
C-backed `.str` operations: split → normalize → stopword mask → re-split →
length filter → prefix truncation → ordered dedup. The per-row Python loop is
avoided by exploding to a flat token frame and using vectorized masks +
`drop_duplicates`; only the rare >255-char-token chunking touches Python rows.

Parity with `textnorm.analyze` is enforced by tests/test_tokenize_udf.py
(including Hypothesis property tests over adversarial Unicode).
"""
from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from ..stopwords import ALL
from ..textnorm import (
    JAVA_WS_RE,
    MAX_NGRAM,
    MAX_TOKEN_LEN,
    MIN_NGRAM,
    _JAVA_TRIM,
    uniform_string,
)

_WS_PAT = JAVA_WS_RE.pattern
_COMBINING_PAT = "[\u0300-\u036f]"
_NONWORD_PAT = r"[^a-zA-Z0-9_\-]"


def _uniform_vec(s: pd.Series) -> pd.Series:
    """Vectorized Tools.uniformString (trim → lower → NFD → strip combining
    U+0300-036F → non-[a-z0-9_-] → space). ASCII inputs skip the NFD +
    combining-strip passes (identity on ASCII) — a big win on mostly-ASCII
    corpora without changing semantics."""
    lowered = s.str.strip(_JAVA_TRIM).str.lower()
    nonascii = lowered.str.contains("[^\x00-\x7f]", regex=True, na=False)
    if nonascii.any():
        slow = (
            lowered[nonascii]
            .str.normalize("NFD")
            .str.replace(_COMBINING_PAT, "", regex=True)
        )
        lowered = pd.concat([lowered[~nonascii], slow]).sort_index(kind="stable")
    return lowered.str.replace(_NONWORD_PAT, " ", regex=True)


def _token_frame(texts: pd.Series) -> pd.DataFrame:
    """Vectorized pre-dedup analyzer stream: Series[str] -> flat (row, tok)
    frame in stream order (steps 1-5 of the chain; callers add dedup or
    frequency counting on top). `row` is the input Series index."""
    # 1) whitespace tokenize (Java isWhitespace class); frame keeps (row, order)
    toks = texts.str.split(_WS_PAT, regex=True).explode().dropna()
    toks = toks[toks.str.len() > 0]
    frame = pd.DataFrame({"row": toks.index.to_numpy(), "tok": toks.to_numpy()})
    if len(frame):
        # 1b) Lucene buffer flush: chunk >255-char tokens, preserving order
        longmask = frame["tok"].str.len() > MAX_TOKEN_LEN
        if longmask.any():
            frame.loc[longmask, "tok"] = frame.loc[longmask, "tok"].map(
                lambda w: [w[i : i + MAX_TOKEN_LEN] for i in range(0, len(w), MAX_TOKEN_LEN)]
            )
            frame = frame.explode("tok", ignore_index=True)
        # 2) UniformFilter on each token
        frame["tok"] = _uniform_vec(frame["tok"])
        # 3) StopFilter on the WHOLE uniformized token (may contain spaces)
        frame = frame[~frame["tok"].isin(ALL)]
        # 4) WhitespaceFilter: java-trim then re-split on " +"
        frame = frame.assign(tok=frame["tok"].str.strip(_JAVA_TRIM).str.split(" +", regex=True))
        frame = frame.explode("tok", ignore_index=True)
        # 5) NGramFilter: len >= 3 → prefix of min(6, len)
        frame = frame[frame["tok"].str.len() >= MIN_NGRAM]
        frame = frame.assign(tok=frame["tok"].str.slice(0, MAX_NGRAM))
    return frame


def _tokenize_series_pandas(
    texts: pd.Series, pre_uniform: bool, max_tokens: int | None
) -> pd.Series:
    """Reference vectorized pipeline (pandas .str): Series[str] ->
    Series[list[str]]. Handles every input; the Arrow fast path below
    delegates non-ASCII / pathological rows here."""
    if pre_uniform:
        texts = _uniform_vec(texts)
    frame = _token_frame(texts)
    if len(frame):
        # 6) per-row ordered dedup (+ optional cap)
        frame = frame.drop_duplicates(["row", "tok"], keep="first")
        if max_tokens is not None:
            frame = frame.groupby("row", sort=False).head(max_tokens)
    grouped = frame.groupby("row", sort=False)["tok"].agg(list)
    out = pd.Series([[]] * len(texts), index=texts.index, dtype=object)
    out.loc[grouped.index] = grouped
    return out


# ---------------------------------------------------------- Arrow fast path
#
# guide §4.2: hand whole batches to vectorized native kernels. For rows of
# pure-ASCII text (the common case for web/transcript corpora, and all of
# the driver's tables) the analyzer chain is expressible in pyarrow.compute
# end-to-end — RE2 splits/replacements, utf8 trim/lower, hash-set stopword
# membership, dictionary-encode + numpy first-occurrence dedup — with the
# result assembled as an Arrow ListArray directly (no per-token Python
# objects; the pandas-UDF serializer consumes the Arrow-backed Series
# zero-copy). Rows containing any non-ASCII byte (the NFD/combining-strip
# path) or a >MAX_TOKEN_LEN whitespace run (the Lucene buffer-flush
# chunking) take the pandas reference path and are merged back by index —
# byte-identical semantics by construction, pinned by
# tests/test_tokenize_udf.py incl. the Hypothesis parity suite.

_STOP_ARR = None  # lazily built pa.array of the stopword set


def _tokenize_batch_arrow(
    arr, pre_uniform: bool, max_tokens: int | None
):
    """ASCII-only kernel: pa.StringArray -> pa.ListArray of prefix tokens.

    Caller guarantees every row is ASCII with no >MAX_TOKEN_LEN token."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    global _STOP_ARR
    if _STOP_ARR is None:
        _STOP_ARR = pa.array(sorted(ALL), type=pa.string())

    n_rows = len(arr)

    def uniform(a):
        a = pc.utf8_trim(a, characters=_JAVA_TRIM)
        a = pc.utf8_lower(a)
        return pc.replace_substring_regex(
            a, pattern=_NONWORD_PAT, replacement=" "
        )

    if pre_uniform:
        arr = uniform(arr)
    # 1) whitespace tokenize, flat (tok, row) frame in stream order
    tok_list = pc.split_pattern_regex(arr, pattern=_WS_PAT)
    flat = tok_list.flatten()
    row = np.repeat(
        np.arange(n_rows, dtype=np.int64),
        tok_list.value_lengths().to_numpy(zero_copy_only=False),
    )
    ne = pc.greater(pc.utf8_length(flat), 0)
    flat = flat.filter(ne)
    row = row[ne.to_numpy(zero_copy_only=False)]
    # 2) UniformFilter on each token
    flat = uniform(flat)
    # 3) StopFilter on the WHOLE uniformized token
    keep = pc.invert(pc.is_in(flat, value_set=_STOP_ARR))
    flat = flat.filter(keep)
    row = row[keep.to_numpy(zero_copy_only=False)]
    # 4) WhitespaceFilter: java-trim then re-split on " +"
    flat = pc.utf8_trim(flat, characters=_JAVA_TRIM)
    parts = pc.split_pattern_regex(flat, pattern=" +")
    flat = parts.flatten()
    row = np.repeat(
        row, parts.value_lengths().to_numpy(zero_copy_only=False)
    )
    # 5) NGramFilter: len >= MIN -> prefix of MAX
    m = pc.greater_equal(pc.utf8_length(flat), MIN_NGRAM)
    flat = flat.filter(m)
    row = row[m.to_numpy(zero_copy_only=False)]
    flat = pc.utf8_slice_codeunits(flat, 0, MAX_NGRAM)
    # 6) per-row FIRST-OCCURRENCE dedup (+ optional cap), all-numpy:
    # dictionary-encode tokens to int codes, first occurrence of each
    # (row, code) pair via np.unique(return_index), order restored by
    # sorting the kept positions (row ids are monotone in stream order)
    if len(flat):
        codes = (
            pc.dictionary_encode(flat)
            .indices.to_numpy(zero_copy_only=False)
            .astype(np.int64)
        )
        key = row * (codes.max() + 1) + codes
        _, first = np.unique(key, return_index=True)
        sel = np.sort(first)
        rows_sel = row[sel]
        if max_tokens is not None:
            starts = np.r_[0, np.flatnonzero(np.diff(rows_sel)) + 1]
            seg_len = np.diff(np.r_[starts, len(rows_sel)])
            cumcount = np.arange(len(rows_sel)) - np.repeat(starts, seg_len)
            capped = cumcount < max_tokens
            sel = sel[capped]
            rows_sel = rows_sel[capped]
        values = flat.take(pa.array(sel, type=pa.int64()))
        counts = np.bincount(rows_sel, minlength=n_rows)
    else:
        values = flat
        counts = np.zeros(n_rows, dtype=np.int64)
    return pa.ListArray.from_arrays(_list_offsets(counts), values)


def _list_offsets(counts):
    """Per-row token counts → int32 ListArray offsets. Summed in int64 and
    checked: past 2^31 − 1 tokens in one batch, int32 offsets would wrap
    silently and corrupt the ListArray."""
    import numpy as np
    import pyarrow as pa

    offsets = np.zeros(len(counts) + 1, dtype=np.int64)
    np.cumsum(counts, out=offsets[1:])
    if offsets[-1] > np.iinfo(np.int32).max:
        raise ValueError(f"{offsets[-1]} tokens in one Arrow batch overflow int32 offsets")
    return pa.array(offsets.astype(np.int32))


def _tokenize_series(texts: pd.Series, pre_uniform: bool, max_tokens: int | None) -> pd.Series:
    """Core vectorized pipeline: Series[str] -> Series[list[str]].

    Arrow fast path for ASCII rows, pandas reference path for the rest
    (see the fast-path note above)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    texts = texts.fillna("")
    arr = pa.Array.from_pandas(texts, type=pa.string())
    # fast-path gate: pure ASCII and no whitespace-free run that would hit
    # the MAX_TOKEN_LEN chunking (hex-escaped classes — no raw control
    # bytes inside the RE2 pattern strings; the ASCII whitespace members
    # of the Java class are \x09-\x0d, \x1c-\x1f and space)
    ascii_ok = pc.invert(
        pc.match_substring_regex(arr, pattern=r"[^\x00-\x7f]")
    )
    no_long = pc.invert(
        pc.match_substring_regex(
            arr,
            pattern=r"[^\x09-\x0d\x1c-\x1f\x20]{%d,}" % (MAX_TOKEN_LEN + 1),
        )
    )
    fast = pc.and_(ascii_ok, no_long)
    import numpy as np

    fast_np = fast.to_numpy(zero_copy_only=False)
    if fast_np.all():
        lists = _tokenize_batch_arrow(arr, pre_uniform, max_tokens)
        return pd.Series(
            pd.arrays.ArrowExtensionArray(lists), index=texts.index
        )
    if not fast_np.any():
        return _tokenize_series_pandas(texts, pre_uniform, max_tokens)
    # mixed batch: arrow path for the fast rows, pandas for the rest,
    # merged by position (object lists — the rare path)
    fast_pos = np.flatnonzero(fast_np)
    slow_pos = np.flatnonzero(~fast_np)
    out = pd.Series([None] * len(texts), index=texts.index, dtype=object)
    lists = _tokenize_batch_arrow(
        arr.take(pa.array(fast_pos, type=pa.int64())), pre_uniform, max_tokens
    )
    out.iloc[fast_pos] = pd.Series(lists.to_pylist()).values
    slow = _tokenize_series_pandas(
        texts.iloc[slow_pos].reset_index(drop=True), pre_uniform, max_tokens
    )
    out.iloc[slow_pos] = slow.values
    return out


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
    """Vectorized Tools.uniformString equivalent."""
    return _uniform_vec(texts.fillna(""))


def with_tokens(df, text_col: str = "text", out_col: str = "tokens"):
    """Attach index-path tokens to a DataFrame column."""
    return df.withColumn(out_col, tokenize(F.col(text_col)))
