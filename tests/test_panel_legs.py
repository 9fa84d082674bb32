"""Every panel leg in ``tests/panel_legs.py`` returns its panel twin's
rows for that leg on the smoke data, so the projections the plan lint
and the robustness suites check the legs with are themselves right."""

from __future__ import annotations

import os

import duckdb
import pytest

import __spark_entry__ as entrymod
import panel_legs
from yelp_review_data_analysis_using_big_data_technologies_spark.llm.staging import release_staging
from yelp_review_data_analysis_using_big_data_technologies_spark.sources.readers import TABLES


@pytest.fixture(scope="module")
def duck(smoke_dir):
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(smoke_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    yield con
    con.close()


def test_no_leg_is_registered():
    assert not set(panel_legs.LEGS) & set(entrymod.queries())


@pytest.mark.parametrize("name", sorted(panel_legs.LEGS))
def test_leg_agrees_with_its_panel_twin(spark, smoke_dir, duck, name, check):
    try:
        problems = check.compare(
            name, spark, duck, smoke_dir, panel_legs.builder(name), panel_legs.twin(name)
        )
    finally:
        release_staging()
    assert not problems, "\n".join(problems)
