"""NGramText — "most frequent n-gram tokens of a text" transform
(reference NGramText.scala:30-65, a standalone CLI/library transform; no
other reference module calls it).

Semantics note (deliberate, documented divergence): the reference feeds the
text through NGramAnalyzer, whose NGramFilter DEDUPLICATES tokens within a
field (NGramFilter.scala:30 "Avoid duplicated ngram in the same field"), so
every frequency its getFreq map sees is 1; its TreeMap[freq -> token] then
collapses all tokens into a single entry and getNGramText returns ONE
arbitrary (Scala-HashMap-ordered) token no matter what numOfTokens asks for.
That is unreproducible (JVM hash order) and plainly not the documented
intent ("a text formed of the most frequent trigrams" — NGramText.scala:26).
This module implements the documented intent deterministically: tokens are
counted BEFORE the stream dedup, ranked by (frequency desc, first-occurrence
asc), and the top `num_tokens` are joined with single spaces in rank order.
"""
from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from ..textnorm import (
    MAX_NGRAM,
    MIN_NGRAM,
    _MULTISPACE_RE,
    _stop_set,
    _ws_tokenize,
    java_trim,
    uniform_string,
)
from .tokenize import _arrow_strings, _first_k_per_row, _rows_to_lists, _token_keys, _token_stream

# every char Python's str.strip() removes (str.isspace(); all are <= U+3000)
_PY_WS = "".join(c for c in map(chr, range(0x3001)) if c.isspace())


def token_stream(text: str) -> list[str]:
    """The analyzer token stream WITHOUT the final dedup: same chain as
    textnorm.analyze (ws-tokenize → uniform → stop → ws-resplit → prefix
    truncate) but emitting every occurrence — the multiset NGramText's
    frequency map was meant to count."""
    stop = _stop_set()
    out: list[str] = []
    for raw in _ws_tokenize(text):
        u = uniform_string(raw)
        if u in stop:
            continue
        for part in _MULTISPACE_RE.split(java_trim(u)):
            if len(part) < MIN_NGRAM:
                continue
            out.append(part[: min(MAX_NGRAM, len(part))])
    return out


def ngram_text(text: str, num_tokens: int) -> str | None:
    """Scalar form (mirrors getNGramText's signature): top `num_tokens`
    analyzer tokens by (frequency desc, first-occurrence asc), space-joined;
    None when the analyzed text is empty (the reference's None branch)."""
    toks = token_stream(text.strip())
    if not toks:
        return None
    freq: dict[str, int] = {}
    first: dict[str, int] = {}
    for i, t in enumerate(toks):
        freq[t] = freq.get(t, 0) + 1
        if t not in first:
            first[t] = i
    ranked = sorted(freq, key=lambda t: (-freq[t], first[t]))
    return " ".join(ranked[:num_tokens])


def _ngram_text_series(texts: pd.Series, num_tokens: int) -> pd.Series:
    """Vectorized ngram_text over a batch: the tokenizer's Arrow token
    stream, with PRE-dedup frequency and first occurrence per (row, token)
    counted in numpy and ranked (freq desc, first-occurrence asc). Parity
    with the scalar `ngram_text` is pinned by tests (incl. Hypothesis)."""
    # scalar form does Python str.strip() before tokenizing (strips a few
    # non-Java-ws chars like NBSP at the edges) — replicate exactly
    arr = pc.utf8_trim(_arrow_strings(texts), characters=_PY_WS)
    flat, row = _token_stream(arr, pre_uniform=False)
    _, first, freq = np.unique(_token_keys(flat, row), return_index=True, return_counts=True)
    ranked = first[np.lexsort((first, -freq, row[first]))]
    top = ranked[_first_k_per_row(row[ranked], num_tokens)]
    joined = pc.binary_join(_rows_to_lists(flat.take(top), row[top], len(arr)), " ")
    has_tokens = pa.array(np.bincount(row, minlength=len(arr)) > 0)
    return pc.if_else(has_tokens, joined, None).to_pandas().set_axis(texts.index)


def ngram_text_col(
    docs: DataFrame,
    text_col: str = "text",
    num_tokens: int = 10,
    out_col: str = "ngram_text",
) -> DataFrame:
    """DataFrame form: adds `out_col` = ngram_text(text, num_tokens). Arrow-
    batched pandas UDF running the tokenizer's Arrow kernel; everything
    around it stays JVM-side."""

    @pandas_udf(T.StringType())
    def _udf(texts: pd.Series) -> pd.Series:
        return _ngram_text_series(texts, num_tokens)

    return docs.withColumn(out_col, _udf(F.col(text_col)))
