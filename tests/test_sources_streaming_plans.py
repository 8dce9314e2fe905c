"""Solr-XML source, streaming incremental feed, plan audit, JSON import."""
from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from similardocs_spark.fixtures import END_DAYS_AGO, PINNED_TODAY, transcripts_df
from similardocs_spark.index.build import IndexPaths, build_index
from similardocs_spark.query.engine import SearchEngine

XML_OK = """<?xml version="1.0" encoding="UTF-8"?>
<add>
  <doc>
    <field name="id">doc1</field>
    <field name="ti">dengue fever studies</field>
    <field name="ti_pt">estudos de dengue</field>
  </doc>
  <doc>
    <field name="id">doc2</field>
    <field name="ti">zika virus</field>
  </doc>
</add>
"""
XML_BAD = "<add><doc><field name='id'>broken"


@pytest.mark.spark
def test_solr_xml_source(spark, tmp_path):
    from similardocs_spark.sources.solr_xml import (
        list_xml_files,
        read_solr_xml,
        solr_docs_to_transcripts,
    )

    d = tmp_path / "xml"
    d.mkdir()
    (d / "a.xml").write_text(XML_OK)
    (d / "bad.xml").write_text(XML_BAD)  # malformed → whole file skipped
    (d / "notes.txt").write_text("ignored")
    assert [os.path.basename(p) for p in list_xml_files(str(d))] == ["a.xml", "bad.xml"]

    fields = read_solr_xml(spark, str(d))
    rows = fields.collect()
    assert {r.file for r in rows} == {"a.xml"}
    assert len(rows) == 5  # doc1: id+ti+ti_pt, doc2: id+ti

    t = solr_docs_to_transcripts(fields, {"ti", "ti_pt"}).collect()
    by_conv = {}
    for r in t:
        by_conv.setdefault(r.conv_id, []).append(r.text)
    assert set(by_conv) == {"doc1", "doc2"}
    assert len(by_conv["doc1"]) == 2


@pytest.mark.spark
def test_streaming_incremental(spark, tmp_path):
    from similardocs_spark.streaming.incremental_stream import run_available_now

    root = str(tmp_path / "idx")
    base = transcripts_df(spark, n_convs=30, seed=42)
    build_index(spark, base, root, seg_size=16)

    landing = str(tmp_path / "landing")
    new = transcripts_df(spark, n_convs=5, seed=77).withColumn(
        "conv_id", F.concat(F.lit("st"), "conv_id")
    )
    new.write.mode("overwrite").parquet(landing)

    res = run_available_now(spark, landing, root, str(tmp_path / "ckpt"))
    assert sum(r["inserts"] for r in res) == 5

    docs = spark.read.parquet(os.path.join(root, "docs"))
    assert docs.count() == 35

    # replay with the same checkpoint: no re-ingestion (exactly-once)
    res2 = run_available_now(spark, landing, root, str(tmp_path / "ckpt"))
    assert sum(r.get("inserts", 0) for r in res2) == 0


@pytest.mark.spark
def test_plan_audit(spark, tmp_path):
    from similardocs_spark.plans.audit import audit_query_plan

    root = str(tmp_path / "idx")
    build_index(spark, transcripts_df(spark, n_convs=40, seed=42), root, seg_size=16)
    engine = SearchEngine(spark, IndexPaths(root), PINNED_TODAY, END_DAYS_AGO)
    checks = audit_query_plan(engine, "zika dengue saude")
    assert checks["term_filter_pushed"], checks
    assert checks["kernel_cogroup"], checks
    assert checks["no_nested_loop"], checks
    assert checks["topk_not_global_sort"], checks
    assert checks["column_pruned_docs"], checks
    assert checks["no_candidate_join"], checks
    assert checks["no_pandas_udf"], checks


@pytest.mark.spark
def test_json_profile_import(spark, tmp_path):
    import json

    from similardocs_spark.profiles import ProfileStore, import_json_profiles

    store = ProfileStore(spark, str(tmp_path / "profiles"))
    data = {
        "u1_p1": {"user": ["u1"], "prof_name": ["p1"], "prof_content": ["zika dengue"]},
        "u1_p2": {"user": ["u1"], "prof_name": ["p2"], "prof_content": ["febre", "amarela"]},
    }
    p = tmp_path / "profiles.json"
    p.write_text(json.dumps(data))
    assert import_json_profiles(store, str(p), now_ms=1000) == 2
    profs = store.get_profiles("u1")
    assert [x["prof_content"] for x in profs] == ["zika dengue", "febre amarela"]
