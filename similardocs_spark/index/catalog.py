"""Storage-substrate shim: Iceberg tables when the runtime jar is on the
classpath, plain parquet paths otherwise.

The north_rule names Iceberg as the table substrate (MERGE INTO, snapshot
commits, per-partition checkpoints). This sandbox ships no Iceberg runtime
jar (verified: `org.apache.iceberg.*` absent from the classpath, no network
to fetch one), so the default mode implements the same commit semantics by
hand on parquet paths:

| Iceberg operation            | parquet-mode equivalent                     |
|------------------------------|---------------------------------------------|
| overwritePartitions snapshot | dynamic partition overwrite of seg= dirs    |
| MERGE INTO                   | staged two-phase merge (incremental.py)     |
| snapshot lineage             | lineage/ journal rows (build._log_lineage)  |
| createOrReplace              | mode("overwrite") parquet write             |
| createOrReplace of n tables  | replace_staged: dedup states, profile store, index stats |

When the jar IS present (a real deployment), `get_io` returns IcebergIO,
which maps every write onto native Iceberg table operations via a Hadoop
catalog warehoused at the index root — the rest of the build/query code is
substrate-blind: it only ever calls the TableIO methods and reads back via
`io.read(path)`. The active substrate is recorded in the lineage journal
(phase="substrate") so every index self-describes how it was committed.
"""
from __future__ import annotations

import os
import re
import shutil
from typing import Callable

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..util import local_df

CATALOG_NAME = "simdocs"


def iceberg_available(spark: SparkSession) -> bool:
    """True iff the Iceberg runtime is loadable in the driver JVM."""
    try:
        spark._jvm.java.lang.Class.forName(  # type: ignore[union-attr]
            "org.apache.iceberg.catalog.Catalog"
        )
        return True
    except Exception:
        return False


COMMIT_MARKER = "_SIMDOCS_COMMIT"


class ParquetIO:
    """Default substrate: parquet paths + hand-rolled commit semantics
    (exactly the write patterns the build used before this shim existed).

    Commit detection does not rely solely on Hadoop's _SUCCESS marker:
    deployments that set mapreduce.fileoutputcommitter.marksuccessfuljobs=
    false would make a fully committed staging write look partial (and
    resume_incremental would then DISCARD committed data mid-repair), so
    every write also drops an own COMMIT_MARKER file after the write job
    returns; `committed` accepts either marker."""

    mode = "parquet"

    @staticmethod
    def _mark(path: str) -> None:
        try:
            with open(os.path.join(path, COMMIT_MARKER), "w"):
                pass
        except OSError:
            pass  # non-local filesystem URI; _SUCCESS remains the marker

    def overwrite_partitioned(self, df: DataFrame, path: str, col: str = "seg") -> None:
        """Full overwrite of a partitioned table (createOrReplace)."""
        df.write.partitionBy(col).mode("overwrite").parquet(path)
        self._mark(path)

    def overwrite_dynamic(
        self, df: DataFrame, path: str, col: str = "seg",
        options: dict[str, str] | None = None,
    ) -> None:
        """Replace ONLY the partitions present in df (overwritePartitions
        snapshot): the idempotent per-segment commit unit. `options` are
        parquet writer options (e.g. sortbuild's postings encoding)."""
        (
            df.write.partitionBy(col)
            .options(**(options or {}))
            .option("partitionOverwriteMode", "dynamic")
            .mode("overwrite")
            .parquet(path)
        )
        self._mark(path)

    def overwrite(self, df: DataFrame, path: str) -> None:
        df.write.mode("overwrite").parquet(path)
        self._mark(path)

    def append(self, df: DataFrame, path: str) -> None:
        mode = "append" if os.path.exists(path) else "overwrite"
        df.write.mode(mode).parquet(path)
        self._mark(path)

    def read(self, spark: SparkSession, path: str) -> DataFrame:
        return spark.read.parquet(path)

    def exists(self, spark: SparkSession, path: str) -> bool:
        return os.path.exists(path)

    def committed(self, spark: SparkSession, path: str) -> bool:
        """True iff the write job that produced `path` COMPLETED: parquet
        jobs place a _SUCCESS marker at job commit (unless
        marksuccessfuljobs=false) and ParquetIO writes its own marker right
        after the write call returns; a crash mid-write leaves data files
        but neither marker."""
        return os.path.exists(os.path.join(path, "_SUCCESS")) or os.path.exists(
            os.path.join(path, COMMIT_MARKER)
        )

    def drop(self, spark: SparkSession, path: str) -> None:
        shutil.rmtree(path, ignore_errors=True)


class IcebergIO:
    """Iceberg substrate: a Hadoop catalog warehoused at the index root;
    every table is `simdocs.index.<basename>`. Requires the runtime jar
    (iceberg-spark-runtime) on the classpath — constructing this without it
    raises immediately rather than failing mid-build.

    NOTE: exercised only on deployments that ship the jar; in this sandbox
    get_io() always selects ParquetIO (see module docstring)."""

    mode = "iceberg"

    def __init__(self, spark: SparkSession, warehouse: str):
        if not iceberg_available(spark):
            raise RuntimeError(
                "IcebergIO requested but no Iceberg runtime jar on the "
                "classpath (org.apache.iceberg.catalog.Catalog not loadable)"
            )
        self.spark = spark
        spark.conf.set(
            f"spark.sql.catalog.{CATALOG_NAME}",
            "org.apache.iceberg.spark.SparkCatalog",
        )
        spark.conf.set(f"spark.sql.catalog.{CATALOG_NAME}.type", "hadoop")
        spark.conf.set(f"spark.sql.catalog.{CATALOG_NAME}.warehouse", warehouse)

    @staticmethod
    def _ident(path: str) -> str:
        base = re.sub(r"[^A-Za-z0-9_]", "_", os.path.basename(path.rstrip("/")))
        return f"{CATALOG_NAME}.index.{base}"

    def overwrite_partitioned(self, df: DataFrame, path: str, col: str = "seg") -> None:
        df.writeTo(self._ident(path)).using("iceberg").partitionedBy(
            col
        ).createOrReplace()

    def overwrite_dynamic(
        self, df: DataFrame, path: str, col: str = "seg",
        options: dict[str, str] | None = None,
    ) -> None:
        """Native snapshot commit: replaces exactly the partitions in df.
        `options` are ignored: Iceberg's own parquet writer and table
        properties choose the encoding. The arrays are the same, but their
        encoding is untested (the tests run without the Iceberg jar)."""
        df.writeTo(self._ident(path)).overwritePartitions()

    def overwrite(self, df: DataFrame, path: str) -> None:
        df.writeTo(self._ident(path)).using("iceberg").createOrReplace()

    def append(self, df: DataFrame, path: str) -> None:
        ident = self._ident(path)
        try:
            df.writeTo(ident).append()
        except Exception:
            df.writeTo(ident).using("iceberg").create()

    def read(self, spark: SparkSession, path: str) -> DataFrame:
        return spark.read.table(self._ident(path))

    def exists(self, spark: SparkSession, path: str) -> bool:
        return self.spark.catalog.tableExists(self._ident(path))

    def committed(self, spark: SparkSession, path: str) -> bool:
        # Iceberg table commits are atomic: the table is visible iff the
        # write job completed, so existence IS the completion marker
        return self.exists(spark, path)

    def drop(self, spark: SparkSession, path: str) -> None:
        spark.sql(f"DROP TABLE IF EXISTS {self._ident(path)}")


def get_io(spark: SparkSession, root: str) -> ParquetIO | IcebergIO:
    """Select the substrate for a NEW index: Iceberg when its runtime is
    loadable AND not explicitly disabled (SIMDOCS_SUBSTRATE=parquet forces
    parquet; =iceberg forces Iceberg and fails fast if the jar is absent).
    For an EXISTING index use get_io_for_index, which honors the substrate
    the index was committed with."""
    forced = os.environ.get("SIMDOCS_SUBSTRATE", "").lower()
    if forced == "parquet":
        return ParquetIO()
    if forced == "iceberg":
        return IcebergIO(spark, root)
    return IcebergIO(spark, root) if iceberg_available(spark) else ParquetIO()


def get_io_for_index(spark: SparkSession, paths) -> ParquetIO | IcebergIO:
    """IO for an EXISTING index: every build logs its substrate to the
    (always-parquet) lineage journal as a phase='substrate' row; reads and
    maintenance MUST use that substrate — environment-based re-selection
    would silently point the query/repair paths at the wrong storage (e.g.
    an index written as Iceberg tables read back as raw parquet paths).
    Fails fast when the recorded substrate is unavailable or ambiguous;
    falls back to environment selection only when no record exists
    (pre-shim indexes)."""
    recorded: set[str] = set()
    if os.path.exists(paths.lineage):
        from pyspark.sql import functions as F

        recorded = {
            r["status"]
            for r in spark.read.parquet(paths.lineage)
            .filter(F.col("phase") == "substrate")
            .select("status")
            .distinct()
            .collect()
        }
    if len(recorded) > 1:
        raise RuntimeError(
            f"index at {paths.root} records conflicting substrates {sorted(recorded)}"
        )
    if recorded == {"parquet"}:
        return ParquetIO()
    if recorded == {"iceberg"}:
        return IcebergIO(spark, paths.root)  # raises if the jar is absent
    return get_io(spark, paths.root)


def read_committed(
    spark: SparkSession,
    io: ParquetIO | IcebergIO,
    path: str,
    schema: str,
    col: str,
    exclude: str | None = None,
) -> DataFrame:
    """The table at `path` minus its partition `col=exclude`; an empty
    frame of `schema` while the table is absent or uncommitted."""
    if not (io.exists(spark, path) and io.committed(spark, path)):
        return local_df(spark, [], schema)
    # a replayed tick must see exactly the state the original run saw,
    # minus any partial rows it wrote itself. On parquet, list the other
    # partitions rather than filter: a filter on the partition column
    # reads as selective to the optimizer, which then builds a runtime
    # bloom filter over this read (1 MiB for an unknown row count) and
    # ships it inside every task of the join it feeds
    listed = exclude is not None and io.mode == "parquet"
    try:
        df = spark.read.option("basePath", path).parquet(*[
            f"{path}/{d}" for d in os.listdir(path)
            if d.startswith(f"{col}=") and d != f"{col}={exclude}"
        ]) if listed else io.read(spark, path)
    except AnalysisException:
        # committed-but-empty table (zero-row partitioned write leaves a
        # marker and no data files), or no partition left to list — schema
        # inference has nothing to read
        return local_df(spark, [], schema)
    return df if exclude is None or listed else df.filter(F.col(col) != exclude)


def replace_staged(
    io: ParquetIO | IcebergIO,
    root: str,
    names: tuple[str, ...],
    write: Callable[[ParquetIO | IcebergIO, str], None],
    staging: str,
) -> None:
    """Replace the tables `root/<name>` with what `write(io, dir)` writes
    as `dir/<name>`.

    Iceberg: `write` rewrites the live tables in place (each table commit
    is atomic). Parquet: `write` fills `staging`, `_READY` marks it
    complete, then `recover_staged` swaps each table in through
    `root/_trash_<name>` — the same call that finishes, on the next open,
    a swap a crash interrupted, so the tables are never lost. `staging`
    belongs to this table set alone: recovery discards it while it lacks
    `_READY`, so a staging shared with another writer loses its writes."""
    if io.mode != "parquet":
        write(io, root)
        return
    recover_staged(root, names, staging)
    write(ParquetIO(), staging)
    with open(f"{staging}/_READY", "w"):
        pass
    recover_staged(root, names, staging)


def recover_staged(root: str, names: tuple[str, ...], staging: str) -> None:
    """Roll a staged replace forward (the staged tables are complete once
    `_READY` exists) or discard an incomplete staging."""
    if not os.path.exists(staging):
        return
    if not os.path.exists(f"{staging}/_READY"):
        shutil.rmtree(staging, ignore_errors=True)
        return
    for name in names:
        src, dst = f"{staging}/{name}", f"{root}/{name}"
        trash = f"{root}/_trash_{name}"
        if os.path.exists(src):  # absent: swapped before a crash
            shutil.rmtree(trash, ignore_errors=True)
            if os.path.exists(dst):
                os.rename(dst, trash)
            try:
                os.rename(src, dst)
            except OSError:  # lost to another process's roll-forward
                if os.path.exists(src) or not os.path.exists(dst):
                    raise
        shutil.rmtree(trash, ignore_errors=True)
    shutil.rmtree(staging, ignore_errors=True)
