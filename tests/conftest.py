from __future__ import annotations

import pytest


@pytest.fixture(scope="session")
def spark():
    from pyspark.sql import SparkSession

    s = (
        SparkSession.builder.master("local[4]")
        .appName("similardocs-tests")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "4g")
        .config("spark.sql.adaptive.enabled", "true")
        .getOrCreate()
    )
    yield s
    s.stop()


def _persistent_rdds(spark, floor: int = 0) -> int:
    """RDDs the context still holds persisted, read after dropped frames
    are collected. The context holds persisted RDDs weakly, so one that
    nothing references leaves once the JVM collects it; a CacheManager
    entry references its RDD and never leaves. Python releases dropped JVM
    objects from a py4j worker that wakes once a second, and each read
    returns a map that pins every RDD in it until that worker releases
    it. So poll: `gc.collect()`, wait one worker wake, `System.gc()`, then
    re-read; stop at `floor`, once the count stops falling, or after 5 s."""
    import gc
    import time

    sc = spark.sparkContext
    start, last = time.monotonic(), None
    while True:
        gc.collect()
        time.sleep(1.1)
        sc._jvm.System.gc()
        n = sc._jsc.getPersistentRDDs().size()
        if n <= floor or (last is not None and n >= last):
            return n
        if time.monotonic() - start > 5.0:
            return n
        last = n


@pytest.fixture(scope="session")
def persistent_rdds():
    return _persistent_rdds


class SwapCrash(Exception):
    """An injected crash inside `catalog.replace_staged` — not an OSError,
    so no code path swallows it."""

    @staticmethod
    def inject(m, prefix: str, at) -> list[tuple[str, str]]:
        """Crash a staged replace under `prefix` at `at`: "before_ready"
        raises once the staging is written but before its `_READY`; an
        int raises INSTEAD of that rename/rmtree step; None never raises.
        Returns the log of (primitive, path) steps run."""
        import os
        import shutil

        from similardocs_spark.index import catalog

        steps: list[tuple[str, str]] = []

        def counted(real):
            def run(path, *args, **kwargs):
                if str(path).startswith(prefix):
                    if len(steps) == at:
                        raise SwapCrash(f"step {at}: {real.__name__} {path}")
                    steps.append((real.__name__, str(path)))
                return real(path, *args, **kwargs)

            return run

        def ready_crashes(path, *args, **kwargs):
            if str(path).endswith("/_READY"):
                raise SwapCrash("before _READY")
            return open(path, *args, **kwargs)

        m.setattr(os, "rename", counted(os.rename))
        m.setattr(shutil, "rmtree", counted(shutil.rmtree))
        if at == "before_ready":
            m.setattr(catalog, "open", ready_crashes, raising=False)
        return steps


@pytest.fixture(scope="session")
def swap_crash():
    return SwapCrash
