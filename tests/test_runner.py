"""Model-DAG runner tests: materialization into staging/marts databases,
DQ wiring, lineage-as-data report."""

from __future__ import annotations

import json
from dataclasses import asdict

from pyspark.sql import functions as F

from tfl_realtime_lakehouse_spark.dq.checks import (
    FCT_HEADWAYS_CHECKS,
    STG_ARRIVALS_CHECKS,
    run_checks,
)
from tfl_realtime_lakehouse_spark.plans.runner import run_pipeline
from tfl_realtime_lakehouse_spark.sources.tables import write_bronze

ROWS = [
    ("S1", "central", "P1", "D", 100, "2025-01-01T10:00:00Z"),
    ("S1", "central", "P1", "D", 90, "2025-01-01T10:04:00Z"),
    ("S1", "central", "P1", "D", 80, "2025-01-01T10:09:00Z"),
    ("S2", "central", "P1", "D", 70, "2025-01-01T10:02:00Z"),
    ("S2", "central", "P1", "D", 60, "2025-01-01T10:30:00Z"),
]


def _write_bronze(spark, rows, raw_dir):
    df = spark.createDataFrame(
        rows,
        "stopId string, lineId string, platformName string, destinationName string, "
        "timeToStation long, timestamp string",
    ).withColumn("date", F.lit("2025-01-01").cast("date"))
    write_bronze(df, raw_dir)


def test_run_pipeline_report_and_tables(spark, tmp_path):
    raw_dir = str(tmp_path / "bronze")
    _write_bronze(spark, ROWS, raw_dir)

    report = run_pipeline(spark, raw_dir, save=True)
    json.dumps(report)  # must be JSON-serializable (lineage as data)
    assert report["ok"] is True
    assert [m["model"] for m in report["models"]] == ["stg_arrivals", "fct_headways"]
    assert report["models"][0]["rows"] == 5
    assert report["models"][1]["rows"] == 2  # (central,S1,10h), (central,S2,10h)
    assert {(e["from"], e["to"]) for e in report["lineage"]} == {
        (f"parquet://{raw_dir}", "staging.stg_arrivals"),
        ("staging.stg_arrivals", "marts.fct_headways"),
    }
    # materialized tables queryable through the catalog (CTAS parity, S9)
    assert spark.table("staging.stg_arrivals").count() == 5
    assert spark.table("marts.fct_headways").count() == 2
    # all reference checks green on clean data
    assert all(
        c["status"] == "pass"
        for m in report["models"]
        for c in m["checks"]
        if c["severity"] == "error"
    )


def test_run_pipeline_empty_input_skips_checks(spark, tmp_path):
    report = run_pipeline(spark, str(tmp_path / "missing"), save=False)
    assert report["ok"] is True
    assert report["models"][0]["rows"] == 0
    assert all(
        c["status"] == "skipped" for m in report["models"] for c in m["checks"]
    )


def test_observed_report_equals_recount_and_check_pass(spark, tmp_path):
    """Rows and check results observed on the model writes equal a
    recount and a ``run_checks`` pass over the saved tables, on a bronze
    with a warning (out-of-range timeToStation) and a failure (null stop)."""
    raw_dir = str(tmp_path / "bronze")
    dirty = [
        ("S1", "central", "P1", "D", 4000, "2025-01-01T10:12:00Z"),
        (None, "central", "P1", "D", 50, "2025-01-01T10:13:00Z"),
    ]
    _write_bronze(spark, ROWS + dirty, raw_dir)

    report = run_pipeline(spark, raw_dir, save=True)
    statuses = set()
    for model, checks in zip(report["models"], (STG_ARRIVALS_CHECKS, FCT_HEADWAYS_CHECKS)):
        table = spark.table(model["output"])
        assert model["rows"] == table.count()
        assert model["checks"] == [asdict(r) for r in run_checks(table, checks)]
        statuses |= {c["status"] for c in model["checks"]}
    assert statuses == {"pass", "warn", "fail"}
    assert report["ok"] is False
