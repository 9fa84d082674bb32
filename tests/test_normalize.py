"""Unit tests for llm/normalize.py (NFC ingest normalization, r8)."""

from __future__ import annotations

import os
import sys
import unicodedata

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from yelp_review_data_analysis_using_big_data_technologies_spark.llm.normalize import normalize_text


@pytest.fixture(scope="module")
def docs(spark):
    nfc = unicodedata.normalize("NFC", "café résumé")
    nfd = unicodedata.normalize("NFD", nfc)
    return spark.createDataFrame(
        [(1, nfc), (2, nfd), (3, "plain ascii"), (4, ""), (5, None)],
        "doc_id BIGINT, text STRING",
    )


def test_nfc_collapses_nfd_twin(spark, docs):
    out = {
        r["doc_id"]: r["text"]
        for r in normalize_text(docs).collect()
    }
    assert out[1] == out[2] == unicodedata.normalize("NFC", "café résumé")


def test_changed_flag_marks_only_rewritten_rows(spark, docs):
    flags = {
        r["doc_id"]: r["changed"]
        for r in normalize_text(docs).collect()
    }
    # NFC input, ascii, empty, and NULL are untouched; only NFD changes
    assert flags == {1: False, 2: True, 3: False, 4: False, 5: False}


def test_null_and_empty_pass_through(spark, docs):
    out = {r["doc_id"]: r["text"] for r in normalize_text(docs).collect()}
    assert out[4] == "" and out[5] is None


def test_plan_is_arrow_batched_not_row_udf(spark, docs):
    plan = (
        normalize_text(docs)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BatchEvalPython" not in plan, "row-at-a-time UDF in the plan"
    assert "ArrowEvalPython" in plan or "EvalPython" in plan
