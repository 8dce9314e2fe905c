"""Persistent PRE-BANDED MinHash signature state for incremental dedup —
the storage layer under operators/dedup_incremental.py (which is pure
dataflow over caller-supplied DataFrames).

Banding is stored once per accepted doc and bucket sizes are
materialized, so a tick neither re-bands the corpus nor counts its
buckets:

  <root>/meta/    one row (n_hashes, n_bands) — config pinned at creation;
                  opening with a different config fails fast (band keys
                  from different configs must never be joined)
  <root>/sig/     (doc_id, mh0..mh{n-1})        — SOURCE OF TRUTH
  <root>/bands/   (band, key, doc_id)            — banding, computed ONCE
                                                    per accepted doc
  <root>/counts/  (band, key, cnt)               — materialized bucket
                                                    sizes (per-tick deltas,
                                                    summed on read)

all three partitioned by `ingest_batch` (one partition per accepted tick,
plus "base" after bootstrap/compaction). Every tick write is a DYNAMIC
PARTITION OVERWRITE of the tick's own partition through the
storage-substrate shim (index/catalog.py), which makes a replayed tick
IDEMPOTENT: it replaces its own partition with identical content instead
of appending duplicates. Reads go through `catalog.read_committed`, which
excludes the in-flight tick's partition, so a replay adjudicates against
exactly the state the original run saw, at any crash point. Compaction
replaces the three tables through `catalog.replace_staged`.

Crash/replay matrix (tick label L, caller writes its corpus partition for
L BEFORE committing the state — see streaming.gated_ingest):
  - crash before any write ........ replay recomputes everything
  - crash mid-state-writes ........ replay reads state minus partition L
                                    (untouched), overwrites L identically
  - compaction between crash and
    replay ........................ L's rows (if any were written) folded
                                    into "base"; the replay's existence
                                    gate then classifies them "already
                                    adjudicated" — accepted set is empty,
                                    nothing is double-appended, and the
                                    corpus partition for L already exists
`compact()` rebuilds bands/ and counts/ FROM sig/ (both are projections
of it), so a torn tick can never leave them permanently inconsistent.

Reference parity note: this is the dedup-state edition of the reference's
stateful-index top-up (SimilarDocs' WebUpdaterService add-documents path);
the Lucene index there is likewise the only state the updater consults.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..index.catalog import get_io, read_committed, recover_staged, replace_staged
from ..util import local_df
from .dedup import MAX_BUCKET, N_BANDS, N_HASHES, _band_buckets
from .dedup_incremental import adjudicate_batch, pairs_against, signatures_for

BATCH_COL = "ingest_batch"
BASE_LABEL = "base"
_TABLES = ("sig", "bands", "counts")


def _sig_schema(n_hashes: int) -> str:
    mh = ", ".join(f"mh{i} string" for i in range(n_hashes))
    return f"doc_id long, {mh}, {BATCH_COL} string"


_BANDS_SCHEMA = f"band int, key string, doc_id long, {BATCH_COL} string"
_COUNTS_SCHEMA = f"band int, key string, cnt long, {BATCH_COL} string"


class BandedDedupState:
    """Open (validating config) or create the state at `root`."""

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        n_hashes: int = N_HASHES,
        n_bands: int = N_BANDS,
    ):
        self.spark = spark
        self.root = root.rstrip("/")
        self.n_hashes = n_hashes
        self.n_bands = n_bands
        self.io = get_io(spark, self.root)
        self.sig_path = f"{self.root}/sig"
        self.bands_path = f"{self.root}/bands"
        self.counts_path = f"{self.root}/counts"
        self.meta_path = f"{self.root}/meta"
        recover_staged(self.root, _TABLES, f"{self.root}/_compact")
        if self.io.exists(spark, self.meta_path):
            row = self.io.read(spark, self.meta_path).collect()[0]
            if (row["n_hashes"], row["n_bands"]) != (n_hashes, n_bands):
                raise ValueError(
                    f"state at {root} was created with n_hashes="
                    f"{row['n_hashes']}, n_bands={row['n_bands']}; opened "
                    f"with ({n_hashes}, {n_bands}) — band keys from "
                    "different configs must never be joined. Re-open with "
                    "the original config or rebuild the state."
                )
        else:
            self.io.overwrite(
                local_df(
                    spark, [(n_hashes, n_bands)], "n_hashes int, n_bands int"
                ),
                self.meta_path,
            )

    # ------------------------------------------------------------- reads

    def _read(self, path: str, schema: str, exclude: str | None) -> DataFrame:
        return read_committed(
            self.spark, self.io, path, schema, BATCH_COL, exclude
        )

    def read_signatures(self, exclude: str | None = None) -> DataFrame:
        return self._read(
            self.sig_path, _sig_schema(self.n_hashes), exclude
        ).drop(BATCH_COL)

    def read_bands(self, exclude: str | None = None) -> DataFrame:
        return self._read(self.bands_path, _BANDS_SCHEMA, exclude).drop(
            BATCH_COL
        )

    def read_count_deltas(self, exclude: str | None = None) -> DataFrame:
        """RAW (band, key, cnt) per-tick delta rows — what pairs_against
        consumes (it restricts to touched buckets BEFORE summing, so the
        full-table aggregation below never runs on the tick path)."""
        return self._read(self.counts_path, _COUNTS_SCHEMA, exclude).drop(
            BATCH_COL
        )

    def read_counts(self, exclude: str | None = None) -> DataFrame:
        """Aggregated (band, key, cnt) — per-tick deltas summed (an
        O(live buckets) shuffle; audits/maintenance only, NOT the tick
        path); compaction collapses the deltas to one row per bucket."""
        return (
            self.read_count_deltas(exclude)
            .groupBy("band", "key")
            .agg(F.sum("cnt").alias("cnt"))
        )

    def ids(self, exclude: str | None = None) -> DataFrame:
        """The `doc_id` column the ingest gate checks arrivals against."""
        return self.read_signatures(exclude).select("doc_id")

    # ------------------------------------------------------------ writes

    def _write_tables(self, write, root: str, sig: DataFrame, label: str) -> None:
        """Write `sig` and the bands and bucket counts derived from it as
        partition `label` of sig/, bands/ and counts/ under `root`, through
        `write` (a TableIO overwrite method). `sig` must already be
        MATERIALIZED (localCheckpoint) — its plan must not read the
        directories this replaces, nor shingle once per table."""
        bands = _band_buckets(sig, self.n_hashes, self.n_bands)
        counts = bands.groupBy("band", "key").agg(F.count("*").alias("cnt"))
        for name, df in zip(_TABLES, (sig, bands, counts)):
            write(
                df.withColumn(BATCH_COL, F.lit(label)),
                f"{root}/{name}",
                col=BATCH_COL,
            )

    def bootstrap(
        self,
        corpus_docs: DataFrame | None = None,
        corpus_sig: DataFrame | None = None,
        text_col: str = "text",
    ) -> None:
        """One-time O(corpus) build of the state from an existing accepted
        corpus (docs, or a pre-computed signature table): the signatures
        are materialized once, then written as a compaction writes them —
        FULL partitioned replaces, not dynamic overwrites: a re-bootstrap
        of a state that already has tick partitions must replace them, not
        coexist with them."""
        if (corpus_docs is None) == (corpus_sig is None):
            raise ValueError("pass exactly one of corpus_docs / corpus_sig")
        if corpus_sig is None:
            corpus_sig = signatures_for(corpus_docs, text_col, self.n_hashes)
        keep = ["doc_id", *[f"mh{i}" for i in range(self.n_hashes)]]
        sig = corpus_sig.select(*keep).localCheckpoint(eager=True)
        self._compact_into(self.io, self.root, sig)

    # -------------------------------------------------------------- tick

    def adjudicate(
        self,
        new_docs: DataFrame,
        label: str,
        text_col: str = "text",
        min_jaccard: float | None = None,
        max_bucket: int = MAX_BUCKET,
    ) -> tuple[DataFrame, DataFrame, DataFrame]:
        """Phase 1 of a tick: adjudicate `new_docs` against the state (the
        corpus is STREAMED through two broadcast semi-joins, shuffle is
        O(batch + hits)) WITHOUT writing anything. Returns (accepted_docs,
        pairs, state_rows), all three eagerly materialized by the phased
        `adjudicate_batch` — their plans must not re-read the state
        directories once phase 2 starts replacing them, and a caller may
        durably commit its own outputs (e.g. the accepted-corpus
        partition) BETWEEN the phases for the crash ordering documented in
        the module docstring."""
        return adjudicate_batch(
            new_docs,
            signatures_for(new_docs, text_col, self.n_hashes),
            lambda new_sig: pairs_against(
                new_docs,
                self.read_signatures(exclude=label),
                text_col,
                max_bucket=max_bucket,
                n_hashes=self.n_hashes,
                n_bands=self.n_bands,
                min_jaccard=min_jaccard,
                new_sig=new_sig,
                corpus_bands=self.read_bands(exclude=label),
                corpus_counts=self.read_count_deltas(exclude=label),
            ),
            materialize=True,
        )

    def commit_batch(self, state_rows: DataFrame, label: str) -> None:
        """Phase 2 of a tick: write the accepted signatures' state
        partition (sig + bands + counts, all `ingest_batch=label`).
        Idempotent — a replay with the same label replaces its own
        partitions."""
        self._write_tables(self.io.overwrite_dynamic, self.root, state_rows, label)

    def tick(
        self,
        new_docs: DataFrame,
        label: str,
        text_col: str = "text",
        min_jaccard: float | None = None,
        max_bucket: int = MAX_BUCKET,
    ) -> tuple[DataFrame, DataFrame]:
        """One-shot ingest tick (adjudicate + commit) for callers with no
        between-phase output of their own: returns (accepted_docs, pairs),
        both eagerly materialized. `label` must be unique per tick —
        re-running a tick with the same label and input replaces its
        partition idempotently."""
        accepted, pairs, state_rows = self.adjudicate(
            new_docs, label, text_col, min_jaccard, max_bucket
        )
        self.commit_batch(state_rows, label)
        return accepted, pairs

    # -------------------------------------------------------- compaction

    def compact(self) -> None:
        """Fold the per-tick partitions into one "base" partition: sig/ is
        rewritten as-is; bands/ and counts/ are REBUILT from sig/ (they are
        projections of it — this also heals a torn tick that committed sig
        but crashed before bands/counts). The three tables are replaced
        through `catalog.replace_staged` (a crash never loses the state).
        Run from maintenance, not concurrently with ticks."""
        sig = self.read_signatures().localCheckpoint(eager=True)
        replace_staged(
            self.io,
            self.root,
            _TABLES,
            lambda io, root: self._compact_into(io, root, sig),
            f"{self.root}/_compact",
        )

    def _compact_into(self, io, root: str, sig: DataFrame) -> None:
        # overwrite_partitioned (FULL replace, keeping the partition layout),
        # NOT overwrite_dynamic: the compacted output contains only the
        # "base" partition, and a dynamic overwrite replaces only the
        # partitions present in the data — it would leave every old
        # per-tick partition alive alongside the base rows that subsume
        # them (on Iceberg, where compaction rewrites the live table in
        # place, that means every previously-ticked row duplicated; the
        # parquet path stages into a fresh dir, where the two are
        # equivalent, but uses the same call for contract parity)
        self._write_tables(io.overwrite_partitioned, root, sig, BASE_LABEL)

    # ------------------------------------------------------------- audit

    def oversized_buckets(
        self, new_docs: DataFrame, text_col: str = "text",
        max_bucket: int = MAX_BUCKET,
    ) -> DataFrame:
        """Combined (state ∪ batch) buckets a tick would skip, with sizes —
        the no-silent-caps audit against the materialized counts (only
        buckets the batch touches can be skipped, so only they are
        reported; corpus-only buckets never reach a pair join)."""
        nb = _band_buckets(
            signatures_for(new_docs, text_col, self.n_hashes),
            self.n_hashes,
            self.n_bands,
        )
        batch_cnt = nb.groupBy("band", "key").agg(
            F.count("*").alias("_bcnt")
        )
        return (
            batch_cnt.join(self.read_counts(), ["band", "key"], "left")
            .select(
                "band",
                "key",
                (F.coalesce(F.col("cnt"), F.lit(0)) + F.col("_bcnt")).alias(
                    "bucket_size"
                ),
            )
            .filter(F.col("bucket_size") > max_bucket)
        )
