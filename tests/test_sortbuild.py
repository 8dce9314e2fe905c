"""Sort-based posting encoder: carry across Arrow batch boundaries, equality
with a naive reference grouping; the written postings format (schema and
parquet encoding)."""
from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from similardocs_spark.index.sortbuild import _encode_groups


def _reference(rows):
    groups = {}
    for seg, term, doc_id in rows:
        groups.setdefault((seg, term), []).append(doc_id)
    return {k: np.array(v, dtype=np.int64) for k, v in groups.items()}


def _run(rows, batch_sizes):
    batches = []
    i = 0
    for b in batch_sizes:
        chunk = rows[i : i + b]
        i += b
        batches.append(
            pd.DataFrame(chunk, columns=["seg", "term", "doc_id"])
        )
    assert i == len(rows)
    out = pd.concat(list(_encode_groups(iter(batches))), ignore_index=True)
    return out


def test_encoder_carry_and_content():
    rng = np.random.default_rng(5)
    rows = []
    for seg in (0, 1):
        for t in range(20):
            term = f"t{t:03d}"
            ids = np.sort(rng.choice(5000, size=rng.integers(1, 400), replace=False))
            for d in ids:
                rows.append((seg, term, int(d) + seg * 5000))
    ref = _reference(rows)

    for sizes in ([len(rows)], [7] * (len(rows) // 7) + [len(rows) % 7], [1] * len(rows)):
        sizes = [s for s in sizes if s > 0]
        out = _run(rows, sizes)
        assert len(out) == len(ref)
        assert list(out.columns) == ["seg", "term", "df_seg", "doc_ids"]
        for r in out.itertuples(index=False):
            ids = ref[(r.seg, r.term)]
            assert r.df_seg == len(ids)
            assert np.array_equal(np.asarray(r.doc_ids), ids), (r.seg, r.term)


def test_encoder_empty_batches():
    out = list(_encode_groups(iter([pd.DataFrame(columns=["seg", "term", "doc_id"])])))
    assert not out or sum(len(o) for o in out) == 0


@pytest.mark.spark
def test_postings_format_is_delta_packed_doc_ids(spark, tmp_path):
    """A built index's postings are exactly (seg, term, df_seg, doc_ids),
    and every written file stores the doc_ids elements as parquet
    DELTA_BINARY_PACKED (the writer options in sortbuild)."""
    import glob
    import os

    import pyarrow.parquet as pq

    from similardocs_spark.fixtures import transcripts_df
    from similardocs_spark.index.build import build_index

    paths = build_index(
        spark, transcripts_df(spark, n_convs=40, seed=7), str(tmp_path), seg_size=16
    )
    postings = spark.read.parquet(paths.postings)
    assert sorted(postings.columns) == sorted(["seg", "term", "df_seg", "doc_ids"])
    assert postings.schema["doc_ids"].dataType.simpleString() == "array<bigint>"
    files = glob.glob(os.path.join(paths.postings, "seg=*", "*.parquet"))
    assert files
    for f in files:
        meta = pq.ParquetFile(f).metadata
        for g in range(meta.num_row_groups):
            rg = meta.row_group(g)
            cols = [rg.column(i) for i in range(rg.num_columns)]
            ids_col = [c for c in cols if c.path_in_schema.startswith("doc_ids.")]
            assert len(ids_col) == 1, [c.path_in_schema for c in cols]
            assert "DELTA_BINARY_PACKED" in ids_col[0].encodings, (f, ids_col[0].encodings)
            assert not any("DICTIONARY" in e for e in ids_col[0].encodings)
