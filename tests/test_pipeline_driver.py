"""End-to-end three-zone pipeline lifecycle (reference §3): gates, markers,
error isolation, and load-failure semantics."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from bigdata_rags_spark.io.zones import ERROR, SUCCESS, ZoneLayout, read_status
from bigdata_rags_spark.pipelines.driver import (
    ALL_INPUTS,
    run_extract,
    run_load,
    run_pipeline,
    run_transform,
)
from bigdata_rags_spark.schemas import FOOTBALL
from tests.test_football_pipeline import _fixtures

RUN_DATE = dt.date(2026, 8, 13)


@pytest.fixture()
def sources(spark):
    return {
        name: spark.createDataFrame(pdf, schema=FOOTBALL[name])
        for name, pdf in _fixtures().items()
    }


def test_full_pipeline_end_to_end(spark, sources, tmp_path):
    layout = ZoneLayout(str(tmp_path / "lake"))
    served: dict[str, int] = {}
    result = run_pipeline(
        spark, sources, layout, RUN_DATE, lambda df, name: served.update({name: df.count()})
    )
    assert all(s == SUCCESS for s in result["extract_status"].values())
    assert result["transformed"] is True
    assert sorted(result["loaded"]) == ["attack", "defense", "discipline"]
    # exploration tables carry the pipelines' row counts (Everton dropped
    # from attack by the inner join)
    assert served == {"attack": 4, "defense": 5, "discipline": 5}
    # zone layout is Hive-partitioned by date
    assert (tmp_path / "lake/raw/mysql/big_chance_team/year=2026/month=08/day=13").exists()
    assert read_status(layout, "stage", "transform", RUN_DATE) == SUCCESS


def test_empty_source_gets_error_and_gates_transform(spark, sources, tmp_path):
    layout = ZoneLayout(str(tmp_path / "lake"))
    empty = sources["saves_team"].filter("1 = 0")
    status = run_extract({**sources, "saves_team": empty}, layout, RUN_DATE)
    assert status["saves_team"] == ERROR
    assert read_status(layout, "raw", "saves_team", RUN_DATE) == ERROR
    # ShortCircuit: transform refuses to run and writes no stage marker
    assert run_transform(spark, layout, RUN_DATE) is False
    assert read_status(layout, "stage", "transform", RUN_DATE) is None


def test_failing_source_is_isolated_and_gates_transform(spark, sources, tmp_path):
    layout = ZoneLayout(str(tmp_path / "lake"))
    broken = sources["saves_team"].withColumn("Team", F.raise_error("source read failed"))
    status = run_extract({**sources, "saves_team": broken}, layout, RUN_DATE)
    assert list(status) == list(sources)  # registration order
    assert status["saves_team"] == ERROR
    assert read_status(layout, "raw", "saves_team", RUN_DATE) == ERROR
    others = [name for name in sources if name != "saves_team"]
    assert all(status[n] == SUCCESS for n in others)
    assert all(read_status(layout, "raw", n, RUN_DATE) == SUCCESS for n in others)
    assert run_transform(spark, layout, RUN_DATE) is False
    assert read_status(layout, "stage", "transform", RUN_DATE) is None


def test_load_raises_without_stage_gate(spark, tmp_path):
    layout = ZoneLayout(str(tmp_path / "lake"))
    with pytest.raises(RuntimeError, match="transform_SUCCESS missing"):
        run_load(spark, layout, RUN_DATE, lambda df, name: None)


def test_duplicate_source_registration_is_deduped():
    # reference extracts interception_team twice (dag-extract.py:31,36)
    assert ALL_INPUTS.count("interception_team") == 1


def test_transform_reads_raw_tables_without_schema_inference(spark, sources, tmp_path):
    """Extract runs one job per dataset; transform reads the raw tables
    with their registered schemas: no per-table schema-inference job (the
    schema-less reads took 38 jobs)."""
    from bigdata_rags_spark.testing import spark_jobs

    layout = ZoneLayout(str(tmp_path / "lake"))
    # one job per dataset: the row count rides the write; the overlapped
    # writes' jobs stay in the caller's job group, so the pins see them
    assert len(sources) == 18
    assert spark_jobs(spark, lambda: run_extract(sources, layout, RUN_DATE)) == 18
    assert 0 < spark_jobs(spark, lambda: run_transform(spark, layout, RUN_DATE)) <= 20
    assert read_status(layout, "stage", "transform", RUN_DATE) == SUCCESS
