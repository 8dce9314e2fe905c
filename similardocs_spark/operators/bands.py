"""The banded-candidate join of every near-dup operator: filter over
(band, key) buckets, then verify each candidate once.

Every operator — MinHash bands, SimHash bit bands, the LSH tables of the
embedding operator stacked as bands; batch and incremental — reduces its
input to (doc_id, band, key, is_new) rows and runs:

  - `band_pairs`: the bucket-size cap (one window count over the
    (band, key) shuffle the pair join needs), the within-bucket self-join
    on doc_a < doc_b with ≥1 new side, and `distinct`. Batch operators
    mark every row new;
  - `oversized_buckets`: the no-silent-caps audit — exactly the buckets
    the cap drops, with their sizes;
  - `verify_pairs`: one join-back per pair side against a signature
    table, scoring each unique pair with the caller's expression (the
    signature-agreement fraction, `bit_count(xor)`, cosine).

Only ids flow through the candidate join; signatures and vectors are
joined once per unique pair, never once per shared bucket.
"""
from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def band_pairs(rows: DataFrame, max_bucket: int) -> DataFrame:
    """(doc_a, doc_b), doc_a < doc_b, with ≥1 new side: the rows sharing
    a (band, key) bucket of at most `max_bucket` rows."""
    capped = (
        rows.withColumn(
            "_bsz", F.count("*").over(Window.partitionBy("band", "key"))
        )
        .filter(F.col("_bsz") <= max_bucket)
        .drop("_bsz")
    )
    a, b = capped.alias("a"), capped.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & (F.col("a.is_new") | F.col("b.is_new")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )


def oversized_buckets(rows: DataFrame, max_bucket: int) -> DataFrame:
    """(band, key, bucket_size) of the buckets `band_pairs` drops."""
    return (
        rows.groupBy("band", "key")
        .agg(F.count("*").alias("bucket_size"))
        .filter(F.col("bucket_size") > max_bucket)
    )


def verify_pairs(
    pairs: DataFrame,
    sig: DataFrame,
    cols: list[str],
    name: str,
    score: Callable[[list[Column], list[Column]], Column],
    a: str = "doc_a",
    b: str = "doc_b",
) -> DataFrame:
    """(a, b, name): each pair scored by `score(a_cols, b_cols)` over its
    two members' `cols` of `sig` (id column first, then the score's
    inputs), which must cover every pair member."""
    id_col, *vals = cols

    def side(key: str, tag: str) -> DataFrame:
        return sig.select(
            F.col(id_col).alias(key),
            *[F.col(c).alias(f"_{tag}{i}") for i, c in enumerate(vals)],
        )

    n = range(len(vals))
    scored = score([F.col(f"_a{i}") for i in n], [F.col(f"_b{i}") for i in n])
    return (
        pairs.join(side(a, "a"), a)
        .join(side(b, "b"), b)
        .select(a, b, scored.alias(name))
    )
