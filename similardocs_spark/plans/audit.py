"""Physical-plan audit: assert the plans we rely on actually materialize.

Run against a built index to verify, from `explain(formatted)` output of the
one plan a search runs (query/batch.py:rerank_plan):
  - query-term predicate reaches the postings scan: the parquet scan's
    PushedFilters, or on a cache=True engine the in-memory scan's
    batch-pruning predicate
  - doc-stats scan prunes columns (ReadSchema excludes text/tokens)
  - postings and doc stats meet in the per-segment kernel cogroup
    (FlatMapCoGroupsInArrow), never in a nested-loop or cartesian join
  - the kernel reads its inputs in place: a default search is under the
    kernel's one-task gate (query/wand.py), so no Exchange sits below the
    cogroup
  - the candidate pool is cut by a window per query, never a global sort
  - no candidate join: the plan joins nothing, and the docs are scanned
    once, for the kernel
  - no pandas UDF: neither that plan nor the later-bucket plan of a
    split_time ladder (the one with the settle) holds an *InPandas node,
    so both Python steps exchange Arrow tables only

Used by tests/test_sources_streaming_plans.py and handy interactively:
    from similardocs_spark.plans.audit import audit_query_plan
    print(audit_query_plan(engine, "zika dengue"))
"""
from __future__ import annotations

import re
from itertools import takewhile


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), "formatted"
    )


def _search_plan(engine, text: str, split_time: bool = False) -> str:
    """Formatted plan of a default search() of `text`, planned under the
    same execution confs it is collected with; with `split_time`, the plan
    of the ladder's later buckets (query/batch.py:ladder_hits)."""
    from ..oracle.refsearch import DEFAULT_MAX_DOCS, DEFAULT_MIN_NGRAMS
    from ..query.batch import rerank_plan
    from ..util import kernel_exec_conf

    prep = engine.prepare(text)
    assert prep is not None
    buckets = engine._day_buckets(*engine._day_bounds(None), split_time)
    if split_time:
        buckets = buckets[1:]
    with kernel_exec_conf(engine.spark):
        return _plan(
            rerank_plan(
                engine, {"q": prep}, {"q": DEFAULT_MAX_DOCS}, DEFAULT_MIN_NGRAMS,
                buckets, None, None,
            )
        )


def audit_query_plan(engine, text: str) -> dict[str, bool]:
    plan = _search_plan(engine, text)
    ladder = _search_plan(engine, text, split_time=True)
    joins = re.findall(r"^\(\d+\) (\w*Join)\b", plan, re.M)
    kernel_in = _subtree(plan, "FlatMapCoGroupsInArrow (")
    cached_term_in = re.search(
        r"InMemoryTableScan\n(?:.+\n)*?Arguments: .*\bterm#\d+ IN \(", plan
    )
    return {
        "term_filter_pushed": "In(term," in plan or cached_term_in is not None,
        "kernel_cogroup": plan.count("FlatMapCoGroupsInArrow (") == 1,
        "kernel_in_place": kernel_in is not None and "Exchange" not in kernel_in,
        "no_nested_loop": "BroadcastNestedLoopJoin" not in plan
        and "CartesianProduct" not in plan,
        "topk_not_global_sort": "Window (" in plan
        and not re.search(r"Sort \(\d+\)\nArguments: \[.*\], true", plan),
        "column_pruned_docs": "text" not in _read_schema_of(plan, "docs"),
        "no_candidate_join": not joins
        and len(re.findall(r"Location: \w+ \[\S*/docs\]", plan)) == 1,
        "no_pandas_udf": "InPandas" not in plan + ladder,
    }


def _subtree(plan: str, node: str) -> str | None:
    """The plan tree's lines below its first `node` line (None without one)."""
    lines = plan.split("\n\n")[0].splitlines()
    at = next((i for i, line in enumerate(lines) if node in line), None)
    if at is None:
        return None

    def indent(line: str) -> int:
        return len(line) - len(line.lstrip())

    below = takewhile(lambda line: indent(line) > indent(lines[at]), lines[at + 1:])
    return "\n".join(below)


def _read_schema_of(plan: str, table_hint: str) -> str:
    out = []
    for block in plan.split("\n\n"):
        if table_hint in block and "ReadSchema" in block:
            out.append(block)
    return "\n".join(out) or ""


def explain_all(engine, text: str = "zika dengue") -> str:
    """Full formatted plan of a default search (debugging aid)."""
    if engine.prepare(text) is None:
        return "(empty query)"
    return _search_plan(engine, text)
