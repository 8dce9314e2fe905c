"""Build the benchmark's index over the fixed corpus into the directory given
as the only argument, in a Spark session of its own; the measured runs then
open it. The index is built inside this process's work directory and renamed
into place, so a reader never sees a partial index.

    python3 perfbench/build_cache.py <checkout>/.perfbench/index-<key>
"""
from __future__ import annotations

import os
import shutil
import sys

from run import ROOT, WORK, start_spark, stop_spark
from workloads import build_index


def main(dest: str) -> int:
    sys.path.insert(0, ROOT)
    work = os.path.join(WORK, f"build-{os.getpid()}")
    os.makedirs(work)
    try:
        spark = start_spark(work)
        try:
            build_index(spark, work, os.path.join(work, "index"))
        finally:
            stop_spark(spark)
        try:
            os.rename(os.path.join(work, "index"), dest)
        except OSError:  # a concurrent run published it first
            if not os.path.isdir(dest):
                raise
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1]))
