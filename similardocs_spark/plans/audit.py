"""Physical-plan audit: assert the plans we rely on actually materialize.

Run against a built index to verify, from `explain(formatted)` output of the
kernel cut that `SearchEngine.score_bucket` collects:
  - query-term predicate reaches the postings parquet scan (PushedFilters)
  - doc-stats scan prunes columns (ReadSchema excludes text/tokens)
  - postings and doc stats meet in the per-segment kernel cogroup
    (FlatMapCoGroupsInPandas), never in a nested-loop or cartesian join
  - the candidate top-k is a TakeOrderedAndProject (no global sort)

Used by tests/test_sources_streaming_plans.py and handy interactively:
    from similardocs_spark.plans.audit import audit_query_plan
    print(audit_query_plan(engine, "zika dengue"))
"""
from __future__ import annotations

from ..oracle.refsearch import days_ago_str


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), "formatted"
    )


def _kernel_cut_plan(engine, w_idf: dict[str, float]) -> str:
    """Formatted plan of score_bucket's kernel cut, planned under the same
    execution confs it is collected with."""
    from ..util import kernel_exec_conf

    with kernel_exec_conf(engine.spark):
        return _plan(
            engine._kernel_cut(
                w_idf,
                days_ago_str(engine.today, 18250),
                days_ago_str(engine.today, engine.end_days_ago),
                1500,
                None,
                None,
            )
        )


def audit_query_plan(engine, text: str) -> dict[str, bool]:
    prep = engine.prepare(text)
    assert prep is not None
    w_idf, _ = prep
    plan = _kernel_cut_plan(engine, w_idf)
    return {
        "term_filter_pushed": "PushedFilters: [In(term" in plan or "In(term," in plan,
        "kernel_cogroup": "FlatMapCoGroupsInPandas" in plan,
        "no_nested_loop": "BroadcastNestedLoopJoin" not in plan
        and "CartesianProduct" not in plan,
        "topk_not_global_sort": "TakeOrderedAndProject" in plan,
        "column_pruned_docs": "text" not in _read_schema_of(plan, "docs"),
    }


def _read_schema_of(plan: str, table_hint: str) -> str:
    out = []
    for block in plan.split("\n\n"):
        if table_hint in block and "ReadSchema" in block:
            out.append(block)
    return "\n".join(out) or ""


def explain_all(engine, text: str = "zika dengue") -> str:
    """Full formatted plan of the kernel cut (debugging aid)."""
    prep = engine.prepare(text)
    if prep is None:
        return "(empty query)"
    w_idf, _ = prep
    return _kernel_cut_plan(engine, w_idf)
