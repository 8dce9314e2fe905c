"""Parity: the Arrow analyzer kernel == the pure-Python spec
(textnorm.analyze for the tokenizer, ngram_text.ngram_text for NGramText).

Kernel-level tests run without Spark (fast, incl. Hypothesis properties over
all Unicode categories and over >255-char whitespace-free runs); the Spark
round trips validate the UDF wiring end-to-end, one of them over the mixed
ASCII / non-ASCII transcript fixture.
"""
from __future__ import annotations

import pandas as pd
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from similardocs_spark.functions.tokenize import _tokenize_series
from similardocs_spark.textnorm import MAX_TOKEN_LEN, analyze

ADVERSARIAL = [
    "",
    "   \t\n ",
    "the cat and the dog",
    "Café — Ção! zika DENGUE zika",
    "a b nbsp joined",
    "the(cat don't can't 'll",
    "x" * 600,
    "a" * 255 + "b" * 300,
    "febre-amarela _under_ hy-phen 123 12 1",
    "É À ñ ç ß æ 中文 русский",
    "é combining eݕ outside-block",
    "keep keeps keep\tkeeps",
    "word" + "́" * 5,
    "tab\tsep\nnewline\rcr",
    " ".join(f"w{i:03d}" for i in range(300)),
]


# texts holding whitespace-free runs longer than MAX_TOKEN_LEN, which the
# kernel chunks like Lucene's buffer flush (the all-category strategies,
# capped at 80 chars, never reach that code)
_RUN_CHARS = st.one_of(
    st.sampled_from("abcxyzÉéÇ_-.\u0301"),
    st.characters(codec="utf-8", categories=("L", "N", "M", "P", "S")),
)
_LONG_RUN_TEXT = st.lists(
    st.one_of(
        st.text(alphabet=_RUN_CHARS, min_size=MAX_TOKEN_LEN + 1, max_size=3 * MAX_TOKEN_LEN),
        st.text(alphabet="ab é\t", max_size=12),
    ),
    min_size=1,
    max_size=4,
).map(" ".join)


def _check(cases: list[str]) -> None:
    got = _tokenize_series(pd.Series(cases, dtype=object), False, None).tolist()
    exp = [analyze(c) for c in cases]
    assert got == exp
    got_r = _tokenize_series(pd.Series(cases, dtype=object), True, 100).tolist()
    exp_r = [analyze(c, pre_uniform=True, max_tokens=100) for c in cases]
    assert got_r == exp_r


def test_adversarial_cases():
    _check(ADVERSARIAL)


@settings(max_examples=200, deadline=None)
@given(
    st.lists(
        st.text(
            alphabet=st.characters(
                codec="utf-8", categories=("L", "N", "P", "Z", "M", "S", "C")
            ),
            max_size=80,
        ),
        min_size=1,
        max_size=8,
    )
)
def test_property_parity(texts):
    _check(texts)


@settings(max_examples=100, deadline=None)
@given(
    st.lists(
        st.text(alphabet="abc ézÇ-_.()\t ção", max_size=60), min_size=1, max_size=6
    )
)
def test_property_parity_focused(texts):
    _check(texts)


@settings(max_examples=60, deadline=None)
@given(st.lists(_LONG_RUN_TEXT, min_size=1, max_size=4))
def test_property_parity_long_runs(texts):
    _check(texts)


@pytest.mark.spark
def test_udf_on_spark(spark):
    from pyspark.sql import functions as F

    from similardocs_spark.functions.tokenize import rerank_tokens, tokenize, uniform
    from similardocs_spark.textnorm import uniform_string

    df = spark.createDataFrame([(i, t) for i, t in enumerate(ADVERSARIAL)], "id int, text string")
    rows = (
        df.select(
            "id",
            tokenize("text").alias("toks"),
            rerank_tokens("text").alias("rr"),
            uniform("text").alias("u"),
        )
        .orderBy("id")
        .collect()
    )
    for r, text in zip(rows, ADVERSARIAL):
        assert r.toks == analyze(text), text
        assert r.rr == analyze(text, pre_uniform=True, max_tokens=100), text
        assert r.u == uniform_string(text), text


def _check_ngram(cases: list[str], num_tokens: int = 5) -> None:
    from similardocs_spark.functions.ngram_text import _ngram_text_series, ngram_text

    got = _ngram_text_series(pd.Series(cases, dtype=object), num_tokens).tolist()
    exp = [ngram_text(c or "", num_tokens) for c in cases]
    assert got == exp


def test_ngram_text_vectorized_adversarial():
    _check_ngram(ADVERSARIAL, 3)
    _check_ngram(ADVERSARIAL, 10)
    _check_ngram(["\xa0edge nbsp\xa0", None, "dup dup dup one two two"], 2)


@settings(max_examples=150, deadline=None)
@given(
    st.lists(
        st.text(
            alphabet=st.characters(
                codec="utf-8", categories=("L", "N", "P", "Z", "M", "S", "C")
            ),
            max_size=80,
        ),
        min_size=1,
        max_size=8,
    ),
    st.integers(min_value=1, max_value=12),
)
def test_ngram_text_property_parity(texts, num_tokens):
    _check_ngram(texts, num_tokens)


@settings(max_examples=40, deadline=None)
@given(st.lists(_LONG_RUN_TEXT, min_size=1, max_size=4), st.integers(min_value=1, max_value=12))
def test_ngram_text_property_parity_long_runs(texts, num_tokens):
    _check_ngram(texts, num_tokens)


@pytest.mark.spark
def test_mixed_corpus_round_trip_on_spark(spark):
    """The transcript fixture mixes ASCII and non-ASCII rows inside every
    Arrow batch: through Spark, each row's tokens, rerank tokens and
    ngram_text equal the scalar oracles."""
    from pyspark.sql import functions as F

    from similardocs_spark.fixtures import make_transcripts
    from similardocs_spark.functions.ngram_text import ngram_text, ngram_text_col
    from similardocs_spark.functions.tokenize import tokenize_with_rerank

    texts = [t.text for t in make_transcripts(n_convs=300)]
    assert 0 < sum(t.isascii() for t in texts) < len(texts)
    df = spark.createDataFrame(list(enumerate(texts)), "id int, text string")
    rows = (
        ngram_text_col(df, num_tokens=10)
        .select("id", "ngram_text", tokenize_with_rerank(F.col("text"), F.col("text")).alias("b"))
        .orderBy("id")
        .collect()
    )
    assert [r.id for r in rows] == list(range(len(texts)))
    for r, text in zip(rows, texts):
        assert r.b.tokens == analyze(text), text
        assert r.b.rr_tokens == analyze(text, pre_uniform=True, max_tokens=100), text
        assert r.ngram_text == ngram_text(text, 10), text


def test_list_offsets_overflow_raises():
    """Token counts summing past int32 must fail loudly instead of wrapping
    the ListArray offsets; a sum that fits stays exact."""
    import numpy as np

    from similardocs_spark.functions.tokenize import _list_offsets

    assert _list_offsets(np.array([2, 0, 3], dtype=np.int64)).to_pylist() == [0, 2, 2, 5]
    fits = np.array([2**30, 2**30 - 1], dtype=np.int64)
    assert _list_offsets(fits).to_pylist()[-1] == 2**31 - 1
    with pytest.raises(ValueError, match="overflow int32"):
        _list_offsets(np.array([2**30, 2**30], dtype=np.int64))
