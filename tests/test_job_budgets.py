"""Spark-job budgets of the refresh cycle: the host-independent counters
behind its cost, pinned the way test_plan_regressions.py pins shuffle
exchanges. Counts are upper bounds — a cycle may get cheaper, never
dearer."""

from __future__ import annotations

import glob
import os
import uuid
from contextlib import contextmanager
from datetime import datetime, timedelta, timezone

import pytest

from tfl_realtime_lakehouse_spark.plans.runner import run_pipeline
from tfl_realtime_lakehouse_spark.sources.http import ingest_snapshot
from tfl_realtime_lakehouse_spark.sources.tables import read_raw_arrivals

T0 = datetime(2025, 1, 1, 10, 0, tzinfo=timezone.utc)
SNAPSHOTS = 40  # past Spark's 32-path parallel-listing threshold


def _rows(i: int) -> list[dict]:
    ts = T0 + timedelta(minutes=2 * i)
    return [
        {
            "naptanId": f"S{s}",
            "lineId": "central",
            "platformName": "P1",
            "destinationName": "Epping",
            "timeToStation": 60 * s,
            "timestamp": (ts + timedelta(seconds=s)).isoformat().replace("+00:00", "Z"),
        }
        for s in range(3)
    ]


@contextmanager
def _jobs(spark):
    """Collects the ids of the Spark jobs started inside the block."""
    sc = spark.sparkContext
    group = f"budget-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "job budget")
    jobs: list[int] = []
    try:
        yield jobs
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        jobs.extend(sc.statusTracker().getJobIdsForGroup(group))


def _parquet_files(raw_dir: str) -> list[str]:
    return glob.glob(os.path.join(raw_dir, "date=*", "*.parquet"))


@pytest.fixture(scope="module")
def bronze(spark, tmp_path_factory):
    """SNAPSHOTS ingests over two dates: a multi-file bronze."""
    raw_dir = str(tmp_path_factory.mktemp("budget") / "bronze")
    for i in range(SNAPSHOTS):
        ingest_snapshot(spark, _rows(i), raw_dir, now=T0 + timedelta(days=i % 2))
    return raw_dir


def test_ingest_snapshot_is_one_job_and_one_file(spark, tmp_path):
    raw_dir = str(tmp_path / "bronze")
    for i in range(2):
        with _jobs(spark) as jobs:
            ingest_snapshot(spark, _rows(i), raw_dir, now=T0)
        assert len(jobs) == 1
        assert len(_parquet_files(raw_dir)) == i + 1


def test_read_raw_arrivals_starts_no_job(spark, bronze):
    assert len(_parquet_files(bronze)) >= SNAPSHOTS
    with _jobs(spark) as jobs:
        read_raw_arrivals(spark, bronze)
    assert jobs == []


def test_refresh_runs_at_most_three_jobs(spark, bronze):
    """stg_arrivals' write is one job and fct_headways' is two (its
    shuffle map stage and the write); rows and DQ ride on them."""
    with _jobs(spark) as jobs:
        report = run_pipeline(spark, bronze, save=True)
    assert report["ok"]
    assert report["models"][0]["rows"] == 3 * SNAPSHOTS
    assert len(jobs) <= 3
