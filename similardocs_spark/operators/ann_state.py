"""Persistent LSH bucket/vector state for incremental embedding dedup —
the vector edition of `operators/dedup_state.BandedDedupState`, backing
`streaming/ann_stream.py` the way BandedDedupState backs
`streaming/dedup_stream.py`.

Layout (all under one root, through the storage-substrate shim):

  <root>/meta/   one row (dim, bits, tables, seed) — config pinned at
                 creation; opening with a different config fails fast
                 (bucket ids from different hash families must never be
                 joined). THE SOURCE OF TRUTH for the LSH config: state
                 rows also stamp it in field metadata (ann_incremental's
                 convention), but partitioned-append round-trips may drop
                 field metadata, so reads re-stamp from meta.
  <root>/state/  (vec_id, embedding float[], _n, b0..b{tables-1})
                 partitioned by `ingest_batch` — one partition per
                 accepted tick plus "base" after bootstrap/compaction.

The text edition's crash/replay matrix (dedup_state.py) holds here too:
every tick is a DYNAMIC partition overwrite of its own
`ingest_batch=label` partition (idempotent replays), reads go through
`catalog.read_committed`, and compaction replaces state/ and meta/
through `catalog.replace_staged`. Bootstrap and compaction are FULL
partitioned replaces (overwrite_partitioned — a dynamic overwrite would
leave old tick partitions alive next to the base rows that subsume
them).

`compact(reband_bits=...)` optionally re-sizes the bucket space during
the fold (`ann_incremental.reband_state`, one projection pass over the
stored vectors — the measured maintenance recipe: ANN_TICK_SCALING.json
shows a +1-bit reband of a 3M-vector state at 6.4 s / zero shuffle with
the follow-up tick's shuffle dropping 3×).
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..index.catalog import get_io, read_committed, recover_staged, replace_staged
from ..util import local_df
from . import ann_incremental as inc
from .ann import lsh_bits_for
from .dedup_incremental import adjudicate_batch

BATCH_COL = "ingest_batch"
BASE_LABEL = "base"
_TABLES = ("state", "meta")


def _state_schema(tables: int) -> str:
    b = ", ".join(f"b{t} long" for t in range(tables))
    return (
        f"vec_id long, embedding array<float>, _n double, {b}, "
        f"{BATCH_COL} string"
    )


class VectorDedupState:
    """Open (validating config) or create the vector state at `root`.

    dim/bits/tables/seed: required at CREATION (bits defaults from
    `lsh_bits_for(expected_corpus)` if `expected_corpus` is given);
    on open, omitted values load from meta and provided ones must match.
    """

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        dim: int | None = None,
        bits: int | None = None,
        tables: int | None = None,
        seed: int | None = None,
        expected_corpus: int | None = None,
    ):
        self.spark = spark
        self.root = root.rstrip("/")
        self.io = get_io(spark, self.root)
        self.state_path = f"{self.root}/state"
        self.meta_path = f"{self.root}/meta"
        recover_staged(self.root, _TABLES, f"{self.root}/_compact")
        if self.io.exists(spark, self.meta_path):
            row = self.io.read(spark, self.meta_path).collect()[0]
            stored = {
                "dim": row["dim"], "bits": row["bits"],
                "tables": row["tables"], "seed": row["seed"],
            }
            # only EXPLICITLY provided values are validated; omitted ones
            # (None — the default for every config argument) load from meta,
            # matching the documented open contract (a state created with
            # non-default tables/seed reopens cleanly via
            # VectorDedupState(spark, root))
            asked = {"dim": dim, "bits": bits, "tables": tables, "seed": seed}
            for k, v in asked.items():
                if v is not None and v != stored[k]:
                    raise ValueError(
                        f"state at {root} was created with {k}={stored[k]}, "
                        f"opened with {v} — bucket ids from different LSH "
                        "configs must never be joined. Re-open with the "
                        "original config (or omit it) or rebuild."
                    )
            self.dim, self.bits = stored["dim"], stored["bits"]
            self.tables, self.seed = stored["tables"], stored["seed"]
        else:
            if dim is None:
                raise ValueError("dim is required when creating a new state")
            if bits is None:
                bits = lsh_bits_for(expected_corpus or 1_000_000)
            self.dim, self.bits, self.tables, self.seed = (
                dim, bits, tables if tables is not None else 2,
                seed if seed is not None else 42,
            )
            self._write_meta(self.io, self.root, self.bits)

    # ------------------------------------------------------------- reads

    def read_state(self, exclude: str | None = None) -> DataFrame:
        df = read_committed(
            self.spark, self.io, self.state_path, _state_schema(self.tables),
            BATCH_COL, exclude,
        )
        # re-stamp the LSH config as field metadata (meta/ is the truth;
        # partitioned round-trips may drop it) so ann_incremental's
        # fail-fast validation and config resolution keep working
        meta = {
            "dim": self.dim, "bits": self.bits,
            "tables": self.tables, "seed": self.seed,
        }
        cols = [
            F.col(c).alias(c, metadata=meta) if c.startswith("b") else F.col(c)
            for c in df.columns
            if c != BATCH_COL
        ]
        return df.select(*cols)

    def ids(self, exclude: str | None = None) -> DataFrame:
        """The `vec_id` column the ingest gate checks arrivals against."""
        return self.read_state(exclude).select("vec_id")

    # ------------------------------------------------------------ writes

    def bootstrap(self, corpus_embeddings: DataFrame) -> None:
        """One-time O(corpus) build from an existing accepted corpus —
        FULL partitioned replace (a re-bootstrap must replace stale tick
        partitions, not coexist with them)."""
        rows = inc.state_for(
            corpus_embeddings, self.dim, self.bits, self.tables, self.seed
        )
        self.io.overwrite_partitioned(
            rows.withColumn(BATCH_COL, F.lit(BASE_LABEL)),
            self.state_path,
            col=BATCH_COL,
        )

    # -------------------------------------------------------------- tick

    def adjudicate(
        self,
        new_embeddings: DataFrame,
        label: str,
        threshold: float = 0.9,
        max_bucket: int = 2000,
    ) -> tuple[DataFrame, DataFrame, DataFrame]:
        """Phase 1 of a tick (no writes): (accepted, pairs, state_rows),
        phased and eagerly materialized as BandedDedupState.adjudicate's
        (dedup_incremental.adjudicate_batch) — phase 2 replaces the
        directories their plans would otherwise re-read. Reads exclude the
        in-flight label's own partition (replay sees the original's
        state)."""
        corpus = self.read_state(exclude=label)
        return adjudicate_batch(
            new_embeddings,
            inc.state_for(
                new_embeddings, self.dim, self.bits, self.tables, self.seed
            ),
            lambda new_state: inc.pairs_against(
                new_embeddings, corpus, threshold, self.bits, self.tables,
                self.seed, max_bucket, dim=self.dim, new_state=new_state,
            ),
            "vec_id",
            "vec_a",
            "vec_b",
            materialize=True,
        )

    def commit_batch(self, state_rows: DataFrame, label: str) -> None:
        """Phase 2: dynamic overwrite of the tick's own partition
        (idempotent on replay)."""
        self.io.overwrite_dynamic(
            state_rows.withColumn(BATCH_COL, F.lit(label)),
            self.state_path,
            col=BATCH_COL,
        )

    def tick(
        self,
        new_embeddings: DataFrame,
        label: str,
        threshold: float = 0.9,
        max_bucket: int = 2000,
    ) -> tuple[DataFrame, DataFrame]:
        accepted, pairs, state_rows = self.adjudicate(
            new_embeddings, label, threshold, max_bucket
        )
        self.commit_batch(state_rows, label)
        return accepted, pairs

    # -------------------------------------------------------- compaction

    def compact(self, reband_bits: int | None = None) -> None:
        """Fold per-tick partitions into "base"; with `reband_bits`,
        re-derive the bucket columns at the new size in the same pass
        (`reband_state` — one projection over the stored vectors) and
        update meta so subsequent ticks pick the new config up. state/
        and meta/ are replaced through `catalog.replace_staged`. Run from
        maintenance, not concurrently with ticks."""
        rows = self.read_state().localCheckpoint(eager=True)
        new_bits = self.bits
        if reband_bits is not None and reband_bits != self.bits:
            rows = inc.reband_state(
                rows, bits=reband_bits
            ).localCheckpoint(eager=True)
            new_bits = reband_bits
        replace_staged(
            self.io,
            self.root,
            _TABLES,
            lambda io, root: self._compact_into(io, root, rows, new_bits),
            f"{self.root}/_compact",
        )
        self.bits = new_bits

    def _compact_into(self, io, root: str, rows: DataFrame, bits: int) -> None:
        io.overwrite_partitioned(
            rows.withColumn(BATCH_COL, F.lit(BASE_LABEL)),
            f"{root}/state",
            col=BATCH_COL,
        )
        self._write_meta(io, root, bits)

    def _write_meta(self, io, root: str, bits: int) -> None:
        io.overwrite(
            local_df(
                self.spark,
                [(self.dim, bits, self.tables, self.seed)],
                "dim int, bits int, tables int, seed int",
            ),
            f"{root}/meta",
        )
