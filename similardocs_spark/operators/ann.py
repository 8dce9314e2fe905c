"""Similarity search over embedding columns (array<float>).

- cosine_topk: brute-force exact baseline — JVM-side `aggregate`/`zip_with`
  dot products (no Python in the loop), distributed TakeOrdered top-k.
- lsh_cosine_topk: the scale path — random-hyperplane LSH (deterministic,
  seeded) buckets candidates so each probe only scores its bucket ∪ probe
  neighborhood; exactness traded for a bounded candidate set. At 100 TB the
  brute force is a full scan per probe; the LSH variant prunes to
  |bucket| ≈ n / 2^bits with multi-probe fallback.
- embedding_near_dup_pairs: LSH near-dup pairs — the tables stacked as the
  bands of bands.py's one pair join, cap audit (embedding_oversized_buckets)
  and cosine verify join-back, the same join every near-dup operator runs;
  embedding_near_dup_pairs_exact is its all-pairs reference.
"""
from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .bands import band_pairs, oversized_buckets, verify_pairs


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a):
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double"))
    )


def cosine_topk(
    embeddings: DataFrame, probe_vec: list[float], k: int = 10,
    id_col: str = "vec_id", vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k of one probe vector against the corpus."""
    probe = F.array(*[F.lit(float(x)) for x in probe_vec])
    pnorm = float(np.sqrt(np.sum(np.asarray(probe_vec, dtype=np.float64) ** 2)))
    return (
        embeddings.withColumn(
            "cosine",
            _dot(F.col(vec_col), probe) / (_norm(F.col(vec_col)) * F.lit(pnorm)),
        )
        .select(id_col, F.round(F.col("cosine") * 1e6).cast("long").alias("cosine_e6"))
        .orderBy(F.desc("cosine_e6"), F.asc(id_col))
        .limit(k)
    )


def infer_dim(embeddings: DataFrame, vec_col: str = "embedding") -> int:
    """Embedding dimensionality from the data: one bounded probe job over
    the first NON-NULL vector (a null first row must not TypeError — null
    embeddings are tolerated everywhere else as NULL buckets). Callers on a
    per-tick path should pass `dim` explicitly instead; this probe is one
    extra Spark job at plan-build time."""
    row = (
        embeddings.select(vec_col).filter(F.col(vec_col).isNotNull()).first()
    )
    if row is None:
        raise ValueError(
            f"cannot infer embedding dim: no non-null '{vec_col}' rows "
            "(empty batch or all-null vectors) — pass dim= explicitly"
        )
    return len(row[0])


def hyperplanes(dim: int, bits: int = 8, seed: int = 42) -> np.ndarray:
    rng = np.random.default_rng(seed)
    return rng.standard_normal((bits, dim))


def lsh_bits_for(
    n_vectors: int, target_bucket: int = 75, lo: int = 6, hi: int = 24
) -> int:
    """Hyperplane count sized to the corpus: 2^bits buckets per table such
    that the EXPECTED bucket size is ~target_bucket. The default bits=6
    (64 buckets/table) is a small-corpus setting — at ≥10^5 vectors every
    bucket blows past max_bucket and candidate recall collapses to zero,
    the same failure mode round 5 fixed for simhash by auto-selecting
    64-bit. More bits = smaller buckets = cheaper within-bucket joins but
    lower per-table recall for pairs near the threshold (compensate with
    `tables`); the 306k-vector campaign ran bits=14 → 98.5% planted recall
    at cosine ≈ 0.999 (BENCH_OPS_SCALING embedding_near_dup_pairs).
    Callers that persist LSH state must size bits ONCE at bootstrap (the
    config is stamped into state metadata and ticks must match)."""
    import math

    if n_vectors <= 0:
        return lo
    return max(lo, min(hi, math.ceil(math.log2(n_vectors / target_bucket))))


# Above this embedding dim the JVM literal-array plan is replaced by one
# Arrow-batched matmul UDF: the literal plan embeds dim×bits F.lit nodes
# (at dim=768, bits=8, tables=2 that is ~12k literals — Catalyst analysis
# time + plan bloat), while the UDF closes over the plane matrix and does
# one numpy (batch × dim) @ (dim × bits) product per Arrow batch.
LSH_UDF_DIM_THRESHOLD = 64


def _lsh_bucket_udf(planes: np.ndarray):
    from pyspark.sql.functions import pandas_udf

    P = np.ascontiguousarray(planes.astype(np.float64).T)  # (dim, bits)
    weights = (np.int64(1) << np.arange(planes.shape[0], dtype=np.int64))

    @pandas_udf("long")
    def bucket(vecs: pd.Series) -> pd.Series:
        # null embeddings → null bucket (the JVM literal path's aggregate
        # over a null array yields null; the UDF path must match rather
        # than crash np.stack on a None row)
        out = pd.Series([None] * len(vecs), index=vecs.index, dtype="object")
        valid = [i for i, v in enumerate(vecs) if v is not None]
        if valid:
            M = np.stack(
                [np.asarray(vecs.iloc[i], dtype=np.float64) for i in valid]
            )
            proj = M @ P  # (batch, bits)
            buckets = (proj > 0) @ weights
            out.iloc[valid] = [int(b) for b in buckets]
        return out

    return bucket


def lsh_bucket_col(vec_col, planes: np.ndarray, use_udf: bool | None = None):
    """Bucket id = sign bits against the seeded hyperplanes.

    Low-dim: JVM-side literal-array dot products (whole-stage codegen, no
    Python). Above LSH_UDF_DIM_THRESHOLD (or with use_udf=True): one
    vectorized pandas UDF doing a per-Arrow-batch matrix multiply — plan
    node count stays flat in dim. Both paths compute sign(planes · v) in
    float64; all vectors in one invocation use the same path, so bucket
    assignments are self-consistent.

    Null embeddings bucket to NULL on both paths (they then drop out of
    bucket joins/filters) — a corpus with missing vectors must neither
    crash the UDF batch nor silently pile nulls into bucket 0."""
    if use_udf is None:
        use_udf = planes.shape[1] > LSH_UDF_DIM_THRESHOLD
    if use_udf:
        return _lsh_bucket_udf(planes)(vec_col)
    bucket = F.lit(0).cast("long")
    for j, plane in enumerate(planes):
        proj = _dot(vec_col, F.array(*[F.lit(float(x)) for x in plane]))
        bucket = bucket + F.when(proj > 0, F.lit(1 << j)).otherwise(F.lit(0))
    return F.when(vec_col.isNotNull(), bucket)


def embedding_near_dup_pairs_exact(
    embeddings: DataFrame, threshold: float = 0.9,
    id_col: str = "vec_id", vec_col: str = "embedding",
) -> DataFrame:
    """EXACT embedding-cosine near-duplicate pairs: all pairs with
    cosine ≥ threshold. All-pairs self-join — O(n²), the oracle baseline for
    bounded corpora and the correctness reference for the LSH variant below
    (same split as cosine_topk vs lsh_cosine_topk). Never run this at 100 TB;
    that is what embedding_near_dup_pairs is for."""
    # norms once per vector, not per pair (the pair join would otherwise
    # re-run the O(dim) norm fold n² times)
    e = embeddings.select(
        F.col(id_col), F.col(vec_col), _norm(F.col(vec_col)).alias("_n")
    )
    a = e.select(
        F.col(id_col).alias("vec_a"), F.col(vec_col).alias("_va"),
        F.col("_n").alias("_na"),
    )
    b = e.select(
        F.col(id_col).alias("vec_b"), F.col(vec_col).alias("_vb"),
        F.col("_n").alias("_nb"),
    )
    return (
        a.join(b, F.col("vec_a") < F.col("vec_b"))
        .withColumn(
            "cosine_e6",
            F.round(
                _dot(F.col("_va"), F.col("_vb"))
                / (F.col("_na") * F.col("_nb"))
                * 1e6
            ).cast("long"),
        )
        .filter(F.col("cosine_e6") >= int(round(threshold * 1e6)))
        .select("vec_a", "vec_b", "cosine_e6")
    )


def state_for(
    embeddings: DataFrame,
    dim: int | None = None,
    bits: int = 6,
    tables: int = 2,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """LSH rows (id, vector, _n, b0..b{tables-1}): the vector norm and one
    hyperplane bucket per table — the input of the batch operator and the
    state ann_incremental persists for a corpus. Bucket columns carry the
    LSH config as field metadata."""
    if dim is None:
        dim = infer_dim(embeddings, vec_col)
    cols = [
        F.col(id_col),
        F.col(vec_col),
        _norm(F.col(vec_col)).alias("_n"),
    ]
    meta = {"dim": dim, "bits": bits, "tables": tables, "seed": seed}
    for t in range(tables):
        cols.append(
            lsh_bucket_col(
                F.col(vec_col), hyperplanes(dim, bits, seed + t)
            ).alias(f"b{t}", metadata=meta)
        )
    return embeddings.select(*cols)


def _bucket_rows(state: DataFrame, id_col: str, tables: int) -> DataFrame:
    """(doc_id, band, key) rows: the LSH tables stacked as bands — one
    pass over the state (posexplode, as dedup._band_buckets), null
    buckets (null vectors) dropped."""
    return state.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(F.array(*[F.col(f"b{t}") for t in range(tables)])).alias(
            "band", "key"
        ),
    ).filter(F.col("key").isNotNull())


def _table_audit(rows: DataFrame, max_bucket: int) -> DataFrame:
    """`bands.oversized_buckets` of stacked LSH rows, as (table, bucket,
    bucket_size)."""
    return oversized_buckets(rows, max_bucket).select(
        F.col("band").alias("table"), F.col("key").alias("bucket"), "bucket_size"
    )


def cosine_e6(a: list, b: list):
    """round(cosine · 1e6) of two [vector, norm] column pairs."""
    return F.round(_dot(a[0], b[0]) / (a[1] * b[1]) * 1e6).cast("long")


def embedding_near_dup_pairs(
    embeddings: DataFrame, threshold: float = 0.9, bits: int = 6,
    tables: int = 2, seed: int = 42, max_bucket: int = 2000,
    id_col: str = "vec_id", vec_col: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs at scale: random-hyperplane LSH
    buckets (multiple independent tables, stacked as the bands of one
    `bands.band_pairs` join for recall), within-bucket self-join only,
    exact cosine verification of candidates, bucket-size cap (one hot
    bucket would make the join O(|bucket|²) — same guard as
    minhash_lsh_pairs, audited by embedding_oversized_buckets). Candidate
    recall is probabilistic (pytest-verified against the exact operator);
    every emitted pair is exactly verified.

    Pass `dim` (the embedding dimensionality) to skip the one-row probe job
    that otherwise learns it from the data at plan-build time."""
    state = state_for(embeddings, dim, bits, tables, seed, id_col, vec_col)
    # ids only through the candidate join: vectors + norms are joined back
    # once per UNIQUE pair, not shuffled once per shared bucket
    cands = band_pairs(
        _bucket_rows(state, id_col, tables).withColumn("is_new", F.lit(True)),
        max_bucket,
    ).select(F.col("doc_a").alias("vec_a"), F.col("doc_b").alias("vec_b"))
    return verify_pairs(
        cands, state, [id_col, vec_col, "_n"], "cosine_e6", cosine_e6,
        "vec_a", "vec_b",
    ).filter(F.col("cosine_e6") >= int(round(threshold * 1e6)))


def embedding_oversized_buckets(
    embeddings: DataFrame, bits: int = 6, tables: int = 2, seed: int = 42,
    max_bucket: int = 2000, id_col: str = "vec_id",
    vec_col: str = "embedding", dim: int | None = None,
) -> DataFrame:
    """Audit (no-silent-caps): the (table, bucket, bucket_size) LSH buckets
    embedding_near_dup_pairs skips at the same config."""
    state = state_for(embeddings, dim, bits, tables, seed, id_col, vec_col)
    return _table_audit(_bucket_rows(state, id_col, tables), max_bucket)


# --------------------------------------------------------------------- IVF
#
# Inverted-file ANN (the FAISS IVF-Flat shape): a small coarse quantizer
# partitions the corpus into n_centroids inverted lists; a probe scores the
# centroids first and scans only the n_probe nearest lists. Complements the
# LSH path above: LSH buckets are data-independent (hyperplane signs), IVF
# lists follow the data distribution, which is what production ANN serving
# uses when the corpus is clusterable.
#
# The coarse quantizer here is a DETERMINISTIC hash-sample of corpus vectors
# (the n_centroids rows with the smallest md5(id), L2-normalized) rather
# than trained k-means: it is reproducible cross-engine (→ a DuckDB oracle
# pair can replay centroid selection exactly), and sampled-corpus seeding is
# the standard k-means init anyway — a k-means refinement loop over
# mapInPandas partial-sums would slot in behind the same API but breaks
# oracle replay, so it is intentionally not the default.


def ivf_centroids(
    embeddings: DataFrame, n_centroids: int = 16,
    id_col: str = "vec_id", vec_col: str = "embedding",
) -> np.ndarray:
    """The coarse quantizer: (n_centroids, dim) float64 matrix of
    L2-normalized hash-sampled corpus vectors. Centroid j = the row with the
    j-th smallest md5(CAST(id AS STRING)). The collect is bounded by
    n_centroids — this is a MODEL PARAMETER (like the LSH plane matrix),
    not data; at 100 TB n_centroids is a few thousand rows.

    TakeOrderedAndProject plan: no full sort, no shuffle of vectors."""
    rows = (
        embeddings.select(F.col(id_col), F.col(vec_col))
        .filter(F.col(vec_col).isNotNull())
        .withColumn("_h", F.md5(F.col(id_col).cast("string")))
        .orderBy("_h")
        .limit(n_centroids)
        .collect()
    )
    C = np.array([list(r[1]) for r in rows], dtype=np.float64)
    norms = np.linalg.norm(C, axis=1, keepdims=True)
    norms[norms == 0] = 1.0
    return C / norms


def _ivf_assign_udf(cents: np.ndarray):
    from pyspark.sql.functions import pandas_udf

    CT = np.ascontiguousarray(cents.T)  # (dim, nc)

    @pandas_udf("int")
    def assign(vecs: pd.Series) -> pd.Series:
        out = pd.Series([None] * len(vecs), index=vecs.index, dtype="object")
        valid = [i for i, v in enumerate(vecs) if v is not None]
        if valid:
            M = np.stack([np.asarray(vecs.iloc[i], dtype=np.float64) for i in valid])
            # centroids pre-normalized → argmax dot == argmax cosine; ties
            # resolve to the smallest centroid index (np.argmax = first max)
            cids = np.argmax(M @ CT, axis=1)
            out.iloc[valid] = [int(c) for c in cids]
        return out

    return assign


def ivf_assign_col(vec_col, cents: np.ndarray, use_udf: bool | None = None):
    """Column: index of the nearest centroid by cosine (centroids arrive
    pre-normalized from ivf_centroids, so argmax of the raw dot product).
    Same JVM-literal vs Arrow-matmul split (and the same dim threshold) as
    lsh_bucket_col; ties break to the smallest centroid index on both paths
    (array_position returns the FIRST occurrence of the max). Null vectors
    get a NULL centroid and drop out of probe filters."""
    if use_udf is None:
        use_udf = cents.shape[1] > LSH_UDF_DIM_THRESHOLD
    if use_udf:
        return _ivf_assign_udf(cents)(vec_col)
    dots = F.array(
        *[_dot(vec_col, F.array(*[F.lit(float(x)) for x in c])) for c in cents]
    )
    cid = (F.array_position(dots, F.array_max(dots)) - 1).cast("int")
    return F.when(vec_col.isNotNull(), cid)


def ivf_assignments(
    embeddings: DataFrame, n_centroids: int = 16,
    id_col: str = "vec_id", vec_col: str = "embedding",
    use_udf: bool | None = None, cents: np.ndarray | None = None,
) -> DataFrame:
    """(id, cid) inverted-list assignment for the whole corpus. At 100 TB
    this is the table you MATERIALIZE partitioned/bucketed by cid — each
    probe then prunes to n_probe partitions at scan time instead of
    filtering a full pass."""
    if cents is None:
        cents = ivf_centroids(embeddings, n_centroids, id_col, vec_col)
    return embeddings.select(
        F.col(id_col), ivf_assign_col(F.col(vec_col), cents, use_udf).alias("cid")
    )


def nearest_centroid_ids(
    cents: np.ndarray, probe_vec: list[float], n_probe: int
) -> list[int]:
    """The n_probe centroid indices nearest the probe by cosine (centroids
    arrive pre-normalized); ties break to the smaller index — the same order
    ivf_assign_col uses, so a vector's own list is always probed first."""
    p = np.asarray(probe_vec, dtype=np.float64)
    pn = np.linalg.norm(p)
    cos = cents @ (p / pn if pn > 0 else p)
    order = sorted(range(len(cos)), key=lambda j: (-cos[j], j))
    return order[:n_probe]


def ivf_cosine_topk(
    embeddings: DataFrame, probe_vec: list[float], k: int = 10,
    n_centroids: int = 16, n_probe: int = 4,
    id_col: str = "vec_id", vec_col: str = "embedding",
    use_udf: bool | None = None, cents: np.ndarray | None = None,
) -> DataFrame:
    """Approximate cosine top-k via IVF WITHOUT a materialized index: every
    probe assigns the whole corpus a centroid and filters — one full pass.
    This is the small-corpus / oracle-replay path; a serving deployment
    materializes the assignment once with `ivf_build` and probes it with
    `ivf_probe_topk`, which prunes the scan to n_probe partitions (measured
    4.7× vs this full pass at 3.06M vectors — BENCH_OPS_SCALING.json).
    Recall is pytest-verified against cosine_topk; n_probe = n_centroids
    degrades to exact."""
    if cents is None:
        cents = ivf_centroids(embeddings, n_centroids, id_col, vec_col)
    probes = nearest_centroid_ids(cents, probe_vec, n_probe)
    cand = embeddings.withColumn(
        "_cid", ivf_assign_col(F.col(vec_col), cents, use_udf)
    ).filter(F.col("_cid").isin(probes))
    return cosine_topk(cand, probe_vec, k, id_col, vec_col)


def ivf_build(
    embeddings: DataFrame, index_dir: str, n_centroids: int = 16,
    id_col: str = "vec_id", vec_col: str = "embedding",
    use_udf: bool | None = None, cents: np.ndarray | None = None,
) -> np.ndarray:
    """Materialize the IVF index: ONE assignment pass over the corpus,
    written partitioned by inverted list —

        index_dir/lists/cid=<j>/   (id, vector) rows of list j
        index_dir/centroids/       (cid, centroid float64 array)

    so every subsequent probe is a PARTITION-PRUNED read of n_probe
    directories instead of a full corpus pass (the 100-TB serving shape;
    the scripts/ops_scale.py campaign measured 2.4 s probe vs 11.2 s full
    scan at 3.06M vectors). Null-embedding rows land in the cid=NULL
    partition and are never probed. Writes route through the storage
    substrate shim (Iceberg when available, committed parquet otherwise).
    Returns the centroid matrix (also persisted for `ivf_probe_topk`)."""
    from ..index.catalog import get_io

    spark = embeddings.sparkSession
    io = get_io(spark, index_dir)
    if cents is None:
        cents = ivf_centroids(embeddings, n_centroids, id_col, vec_col)
    assigned = embeddings.select(
        F.col(id_col), F.col(vec_col),
        ivf_assign_col(F.col(vec_col), cents, use_udf).alias("cid"),
    )
    io.overwrite_partitioned(assigned, f"{index_dir}/lists", col="cid")
    cent_rows = [(j, [float(x) for x in c]) for j, c in enumerate(cents)]
    from ..util import local_df

    io.overwrite(
        local_df(spark, cent_rows, "cid int, centroid array<double>"),
        f"{index_dir}/centroids",
    )
    return cents


def ivf_load_centroids(spark, index_dir: str) -> np.ndarray:
    """The (n_centroids, dim) matrix persisted by ivf_build — bounded
    model-parameter collect, same contract as ivf_centroids."""
    from ..index.catalog import get_io

    io = get_io(spark, index_dir)
    rows = (
        io.read(spark, f"{index_dir}/centroids")
        .orderBy("cid")
        .collect()
    )
    return np.array([list(r["centroid"]) for r in rows], dtype=np.float64)


def ivf_probe_topk(
    spark, index_dir: str, probe_vec: list[float], k: int = 10,
    n_probe: int = 4, id_col: str = "vec_id", vec_col: str = "embedding",
    cents: np.ndarray | None = None,
) -> DataFrame:
    """Approximate cosine top-k against a MATERIALIZED `ivf_build` index:
    ranks the stored centroids driver-side (model-sized matmul), then scans
    ONLY the n_probe nearest list partitions — `cid isin(...)` on the
    partition column is pruned at scan time, so probe cost follows list
    size, not corpus size. Pass `cents` (from ivf_build/ivf_load_centroids)
    to skip the centroid-table read on a hot serving path. Equivalent
    results to ivf_cosine_topk over the same corpus + centroids
    (pytest-pinned)."""
    from ..index.catalog import get_io

    io = get_io(spark, index_dir)
    if cents is None:
        cents = ivf_load_centroids(spark, index_dir)
    probes = nearest_centroid_ids(cents, probe_vec, n_probe)
    cand = io.read(spark, f"{index_dir}/lists").filter(
        F.col("cid").isin(probes)
    )
    return cosine_topk(cand, probe_vec, k, id_col, vec_col)


def ivf_centroids_kmeans(
    embeddings: DataFrame, n_centroids: int = 16, n_iter: int = 5,
    id_col: str = "vec_id", vec_col: str = "embedding",
    use_udf: bool | None = None, init: np.ndarray | None = None,
) -> np.ndarray:
    """Lloyd-refined coarse quantizer: k-means over the corpus, seeded from
    the deterministic hash-sample (`ivf_centroids` — sampled-corpus seeding
    is the standard init). Each iteration is ONE corpus pass: a mapInPandas
    kernel emits per-Arrow-batch PARTIAL sums (cid, sum_vec, count) — at
    most n_centroids rows per batch, Arrow-vectorized numpy adds — and the
    driver combines the model-sized partials (n_centroids × dim, NOT data),
    renormalizes, and iterates. No per-pair shuffle, no groupBy of vectors.
    Empty clusters keep their previous centroid. Deterministic for a fixed
    input partitioning (float-sum order within a partition is row order).

    Use when the corpus is clusterable and recall at low n_probe matters
    more than oracle replay: hash-sampled centroids are cross-engine
    reproducible (the DuckDB oracle replays them), k-means centroids are
    not — which is why this is opt-in, not the ivf_build default."""
    import pandas as pd_  # local alias; pandas is module-level for UDFs

    spark = embeddings.sparkSession
    cents = (
        init
        if init is not None
        else ivf_centroids(embeddings, n_centroids, id_col, vec_col)
    )
    nc, dim = cents.shape
    vecs = embeddings.select(F.col(vec_col).alias("v")).filter(
        F.col("v").isNotNull()
    )
    out_schema = "cid int, psum array<double>, cnt long"
    for _ in range(n_iter):
        CT = np.ascontiguousarray(cents.T)

        def partials(batches, CT=CT, nc=nc):
            for pdf in batches:
                if not len(pdf):
                    continue
                M = np.stack(
                    [np.asarray(v, dtype=np.float64) for v in pdf["v"]]
                )
                cids = np.argmax(M @ CT, axis=1)
                rows = []
                for c in np.unique(cids):
                    sel = M[cids == c]
                    rows.append(
                        (int(c), sel.sum(axis=0).tolist(), int(len(sel)))
                    )
                yield pd_.DataFrame(
                    rows, columns=["cid", "psum", "cnt"]
                )

        collected = vecs.mapInPandas(partials, out_schema).collect()
        sums = np.zeros((nc, dim), dtype=np.float64)
        cnts = np.zeros(nc, dtype=np.int64)
        for r in sorted(collected, key=lambda r: r["cid"]):
            sums[r["cid"]] += np.asarray(r["psum"], dtype=np.float64)
            cnts[r["cid"]] += r["cnt"]
        new = cents.copy()
        nz = cnts > 0
        new[nz] = sums[nz] / cnts[nz, None]
        norms = np.linalg.norm(new, axis=1, keepdims=True)
        norms[norms == 0] = 1.0
        cents = new / norms
    return cents


def lsh_cosine_topk(
    embeddings: DataFrame, probe_vec: list[float], k: int = 10, bits: int = 6,
    seed: int = 42, id_col: str = "vec_id", vec_col: str = "embedding",
) -> DataFrame:
    """Approximate cosine top-k: score only vectors whose LSH bucket is within
    Hamming distance 1 of the probe's bucket (multi-probe)."""
    dim = len(probe_vec)
    planes = hyperplanes(dim, bits, seed)
    signs = planes @ np.asarray(probe_vec, dtype=np.float64)
    pbucket = sum((1 << j) for j, s in enumerate(signs) if s > 0)
    probes = [pbucket] + [pbucket ^ (1 << j) for j in range(bits)]
    cand = embeddings.withColumn("bucket", lsh_bucket_col(F.col(vec_col), planes)).filter(
        F.col("bucket").isin(probes)
    )
    return cosine_topk(cand, probe_vec, k, id_col, vec_col)
