"""spark-submit entry point: run similar-document queries against an index.

    spark-submit --py-files simdocs.zip scripts/query_cli.py \
        --index <index-root> --text "zika dengue" [--max-docs 10] \
        [--sources MEDLINE,LILACS] [--last-days 365] [--split-time] \
        [--today 2026-01-02]
"""
from __future__ import annotations

import argparse
import os
import sys
from datetime import date

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--index", required=True)
    p.add_argument("--text", action="append", required=True, help="repeatable")
    p.add_argument("--max-docs", type=int, default=10)
    p.add_argument("--min-ngrams", type=int, default=2)
    p.add_argument("--sources", default=None)
    p.add_argument("--instances", default=None)
    p.add_argument("--last-days", type=int, default=None)
    p.add_argument("--split-time", action="store_true")
    p.add_argument("--today", default=None, help="pinned clock yyyy-mm-dd")
    p.add_argument("--master", default=None)
    args = p.parse_args()

    from pyspark.sql import SparkSession

    b = SparkSession.builder.appName("similardocs-query")
    if args.master:
        b = b.master(args.master)
    spark = b.config("spark.sql.execution.arrow.pyspark.enabled", "true").getOrCreate()

    from similardocs_spark.index.build import IndexPaths
    from similardocs_spark.query.engine import SearchEngine

    today = date.fromisoformat(args.today) if args.today else date.today()
    engine = SearchEngine(spark, IndexPaths(args.index), today)
    srcs = set(args.sources.split(",")) if args.sources else None
    insts = set(args.instances.split(",")) if args.instances else None

    if len(args.text) == 1:
        hits = engine.search(
            args.text[0], max_docs=args.max_docs, min_ngrams=args.min_ngrams,
            sources=srcs, instances=insts, last_days=args.last_days,
            split_time=args.split_time,
        )
        for h in hits:
            print(f"{h.doc_id}\t{h.conv_id}\t{h.score:.6f}\t{h.n_common}\t{h.update_date}")
    else:
        res = engine.search_batch(
            {f"q{i}": t for i, t in enumerate(args.text)},
            max_docs=args.max_docs, min_ngrams=args.min_ngrams,
            sources=srcs, instances=insts, last_days=args.last_days,
            split_time=args.split_time,
        )
        for qid in sorted(res):
            for h in res[qid]:
                print(f"{qid}\t{h.doc_id}\t{h.conv_id}\t{h.score:.6f}\t{h.n_common}")
    spark.stop()


if __name__ == "__main__":
    main()
