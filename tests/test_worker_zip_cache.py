"""The package's zipimport hook (similardocs_spark._install_zip_dir_reuse):
inside a pyspark worker, `importlib.invalidate_caches()` re-reads a zip
archive's directory only when the archive changed on disk."""
from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

import pytest

needs_eager_zip_invalidation = pytest.mark.skipif(
    sys.implementation.name != "cpython" or sys.version_info >= (3, 13),
    reason="CPython >= 3.13 invalidates zip directories lazily; no hook is installed",
)


def _count_reads(monkeypatch, archive: str | None = None) -> list[str]:
    """Record every zipimport._read_directory call (of `archive` only, when
    given) in the returned list."""
    calls: list[str] = []
    real = zipimport._read_directory

    def counted(path):
        if archive is None or path == archive:
            calls.append(path)
        return real(path)

    monkeypatch.setattr(zipimport, "_read_directory", counted)
    return calls


def test_driver_keeps_stdlib_invalidate_caches():
    import similardocs_spark  # noqa: F401  (the import installs nothing here)

    assert zipimport.zipimporter.invalidate_caches.__module__ == "zipimport"


@needs_eager_zip_invalidation
def test_stat_checked_invalidation_rereads_only_a_changed_zip(tmp_path, monkeypatch):
    """With the hook installed, invalidating an unchanged archive reads no
    directory; after the archive is rewritten with a second module, one
    invalidation re-reads it and the new module imports."""
    from similardocs_spark import _stat_checked

    archive = str(tmp_path / "mods.zip")
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("zhook_first.py", "VALUE = 1\n")
    monkeypatch.syspath_prepend(archive)
    for name in ("zhook_first", "zhook_second"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    assert importlib.import_module("zhook_first").VALUE == 1

    monkeypatch.setattr(
        zipimport.zipimporter,
        "invalidate_caches",
        _stat_checked(zipimport.zipimporter.invalidate_caches),
    )
    reads = _count_reads(monkeypatch, archive)
    importlib.invalidate_caches()  # first call after install reads the archive
    assert reads == [archive]
    reads.clear()
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert reads == []

    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("zhook_first.py", "VALUE = 1\n")
        z.writestr("zhook_second.py", "VALUE = 2\n")
    importlib.invalidate_caches()
    assert reads == [archive]
    assert importlib.import_module("zhook_second").VALUE == 2


@pytest.mark.spark
@needs_eager_zip_invalidation
def test_reused_worker_skips_zip_reread(spark):
    """A Python UDF in a worker that already imported the package (in an
    earlier task) counts the zip directory reads of one
    `importlib.invalidate_caches()`, the call pyspark's worker makes at the
    start of every task: there are none. A fresh worker's first import may
    read, so single-task jobs run until reused workers have answered."""

    def probe(rows):
        import importlib
        import sys
        import zipimport

        reused = "similardocs_spark" in sys.modules
        import similardocs_spark  # noqa: F401  (what every package UDF does)

        calls = []
        real = zipimport._read_directory
        zipimport._read_directory = lambda path: calls.append(path) or real(path)
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = real
        for _ in rows:  # a worker is reused only once its input is drained
            pass
        yield reused, len(calls)

    sc = spark.sparkContext
    runs = []
    for _ in range(12):
        runs += sc.parallelize([0], 1).mapPartitions(probe).collect()
        if sum(reused for reused, _ in runs) >= 3:
            break
    reused_reads = [n for reused, n in runs if reused]
    assert reused_reads and reused_reads == [0] * len(reused_reads), runs
