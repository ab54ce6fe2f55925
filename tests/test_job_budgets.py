"""Spark-job budgets of the refresh cycle and the query path: the
host-independent counters behind their cost, pinned the way
test_plan_regressions.py pins shuffle exchanges. Counts are upper
bounds — a cycle or query may get cheaper, never dearer."""

from __future__ import annotations

import glob
import os
import uuid
from contextlib import contextmanager
from datetime import datetime, timedelta, timezone

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import types as T

from tfl_realtime_lakehouse_spark.plans.runner import run_pipeline
from tfl_realtime_lakehouse_spark.queries import REGISTRY
from tfl_realtime_lakehouse_spark.sources.http import ingest_snapshot
from tfl_realtime_lakehouse_spark.sources.tables import read_raw_arrivals, read_table

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


def test_repeated_read_table_starts_no_job(spark, sf_smoke):
    """The footer schema is inferred once per file; a repeated read
    passes it to the reader instead of running an inference job."""
    for name in ("lineitem", "events"):
        first = read_table(spark, sf_smoke, name)
        with _jobs(spark) as jobs:
            again = read_table(spark, sf_smoke, name)
        assert jobs == []
        assert again.schema == first.schema
    assert isinstance(again.schema["ts"].dataType, T.TimestampType)


def test_read_table_infers_again_after_rewrite_or_conf_change(spark, tmp_path):
    sf_dir = str(tmp_path)
    path = os.path.join(sf_dir, "t.parquet")
    pq.write_table(pa.table({"a": pa.array([1, 2], pa.int64())}), path)
    assert read_table(spark, sf_dir, "t").columns == ["a"]
    with _jobs(spark) as jobs:
        assert read_table(spark, sf_dir, "t").columns == ["a"]
    assert jobs == []
    pq.write_table(
        pa.table({"b": pa.array([b"x"], pa.binary()), "c": pa.array([1.5], pa.float64())}),
        path,
    )
    with _jobs(spark) as jobs:
        df = read_table(spark, sf_dir, "t")
    assert len(jobs) == 1
    assert df.columns == ["b", "c"] and df.collect()[0]["c"] == 1.5
    assert isinstance(df.schema["b"].dataType, T.BinaryType)
    key = "spark.sql.parquet.binaryAsString"
    prev = spark.conf.get(key)
    spark.conf.set(key, "true")
    try:
        with _jobs(spark) as jobs:
            df = read_table(spark, sf_dir, "t")
        assert len(jobs) == 1
        assert isinstance(df.schema["b"].dataType, T.StringType)
        assert df.collect()[0]["b"] == "x"
        with _jobs(spark) as jobs:
            read_table(spark, sf_dir, "t")
        assert jobs == []
    finally:
        spark.conf.set(key, prev)
    assert isinstance(read_table(spark, sf_dir, "t").schema["b"].dataType, T.BinaryType)


@pytest.mark.parametrize(
    "query, budget",
    [("q1_pricing_summary", 2), ("q5_region_revenue", 7), ("graph_pagerank", 15)],
)
def test_query_job_budget(spark, sf_smoke, query, budget):
    """Jobs of one noop-sink run of a query with warm footer schemas:
    q1 is its aggregation's map stage and result; q5's joins broadcast
    its small tables; PageRank's three rounds each run one broadcast
    and one shuffle besides the lineage cut."""
    fn = REGISTRY[query].fn
    fn(spark, sf_smoke).write.format("noop").mode("overwrite").save()
    with _jobs(spark) as jobs:
        fn(spark, sf_smoke).write.format("noop").mode("overwrite").save()
    assert len(jobs) <= budget
