"""pipeline_refresh: the reference's own 2-minute loop as a closed loop
with one caller.

Each cycle ingests one new seeded snapshot through
``sources.http.ingest_snapshot`` and then fully rebuilds
``staging.stg_arrivals`` → ``marts.fct_headways`` with DQ through
``plans.runner.run_pipeline(save=True)``. Write-heavy, many small
files, and no ``operators/`` or ``queries/`` code: the no-change control
for operator work.

In a traced run every other cycle calls, one span each, the public
functions ``run_pipeline`` composes; the cycles in between are the
untraced reference for the tracing overhead.
"""

from __future__ import annotations

import glob
import os
import time

import duckdb

import gen
from common import (
    Result,
    cpu_s,
    deadline_loop,
    group_job_stats,
    interleaved_overhead,
    median,
    mismatches,
    peak_rss_mb,
    read_event_log,
)

BRONZE_FILES = 48  # a rolling 1.6 hours of 2-minute snapshots
STOPS_PER_LINE = 10
ROWS_PER_SNAPSHOT = 80
WARMUP_CYCLES = 3  # the cold first cycle and two more, while the JIT settles
MIN_CYCLES = 4  # measured operations per run, however slow the host

# The reference mart (fct_headways.sql) over the reference staging
# contract (stg_arrivals.sql: try_cast of the raw timestamp).
ORACLE_SQL = """
WITH stg AS (
  SELECT CAST(lineId AS VARCHAR) AS line_id, CAST(stopId AS VARCHAR) AS stop_id,
         TRY_CAST("timestamp" AS TIMESTAMP) AS event_ts
  FROM read_parquet('{raw}/date=*/*.parquet', hive_partitioning = true, union_by_name = true)
), lagged AS (
  SELECT line_id, stop_id, event_ts AS ts,
         LAG(event_ts) OVER (PARTITION BY line_id, stop_id ORDER BY event_ts) AS prev_ts
  FROM stg WHERE event_ts IS NOT NULL
), gaps AS (
  SELECT line_id, stop_id, DATE_TRUNC('hour', ts) AS hour,
         EPOCH_US(ts) - EPOCH_US(prev_ts) AS headway_us
  FROM lagged WHERE prev_ts IS NOT NULL
)
SELECT line_id, stop_id, hour,
       CAST(SUM(headway_us) AS DOUBLE) / COUNT(*) / 1000000.0 AS avg_headway_s,
       (LIST_SORT(LIST(headway_us)))[CAST(CEIL(0.5 * COUNT(*)) AS INTEGER)] / 1000000.0 AS p50_headway_s,
       (LIST_SORT(LIST(headway_us)))[CAST(CEIL(0.9 * COUNT(*)) AS INTEGER)] / 1000000.0 AS p90_headway_s
FROM gaps GROUP BY line_id, stop_id, hour
"""


def expire(raw: str) -> None:
    """Bronze retention, run before each ingest: keep the newest
    BRONZE_FILES - 1 snapshots, so every cycle rebuilds BRONZE_FILES of
    them and a cycle's cost does not depend on how many ran before it."""
    files = sorted(glob.glob(os.path.join(raw, "date=*", "*.parquet")))
    for path in files[: len(files) - BRONZE_FILES + 1]:
        os.remove(path)


def traced_cycle(run, spark, rows, raw: str, ts, trace: str) -> bool:
    """One refresh through the public functions ``run_pipeline``
    composes, a span around each; returns the DQ verdict."""
    from tfl_realtime_lakehouse_spark.dq.checks import (
        FCT_HEADWAYS_CHECKS,
        STG_ARRIVALS_CHECKS,
        run_checks,
    )
    from tfl_realtime_lakehouse_spark.plans.marts import fct_headways
    from tfl_realtime_lakehouse_spark.plans.staging import stg_arrivals
    from tfl_realtime_lakehouse_spark.sources.http import ingest_snapshot
    from tfl_realtime_lakehouse_spark.sources.tables import (
        drop_table_and_location,
        read_raw_arrivals,
    )

    span = run.tracer.span
    with span("plans.runner.cycle", trace):
        with span("sources.http.ingest_snapshot", trace):
            ingest_snapshot(spark, rows, raw, now=ts)
        with span("sources.tables.read_raw_arrivals", trace):
            bronze = read_raw_arrivals(spark, raw)
        with span("plans.staging.stg_arrivals", trace):
            drop_table_and_location(spark, "staging.stg_arrivals")
            stg_arrivals(bronze).write.mode("overwrite").saveAsTable("staging.stg_arrivals")
            stg = spark.table("staging.stg_arrivals")
            stg.count()
        with span("dq.checks.run_checks", trace):
            checks = run_checks(stg, STG_ARRIVALS_CHECKS)
        with span("plans.marts.fct_headways", trace):
            drop_table_and_location(spark, "marts.fct_headways")
            fct_headways(stg).write.mode("overwrite").saveAsTable("marts.fct_headways")
            fct = spark.table("marts.fct_headways")
            fct.count()
        with span("dq.checks.run_checks", trace):
            checks += run_checks(fct, FCT_HEADWAYS_CHECKS)
    return all(c.ok for c in checks)


def run(run) -> Result:
    from tfl_realtime_lakehouse_spark.plans.runner import run_pipeline
    from tfl_realtime_lakehouse_spark.sources.http import ingest_snapshot

    # Set-up: session (launches the JVM), seeded bronze, and the first
    # WARMUP_CYCLES cycles, cold to warm.
    failed = 0
    t0 = time.time()
    spark = run.session()
    session_s = time.time() - t0
    raw = run.path("bronze")
    gen.write_bronze(raw, run.seed, BRONZE_FILES, STOPS_PER_LINE, ROWS_PER_SNAPSHOT)
    for idx in range(BRONZE_FILES, BRONZE_FILES + WARMUP_CYCLES):
        ts = gen.snapshot_time(idx)
        rows = gen.snapshot_rows(run.seed, idx, ts, STOPS_PER_LINE, ROWS_PER_SNAPSHOT)
        expire(raw)
        ingest_snapshot(spark, rows, raw, now=ts)
        report = run_pipeline(spark, raw, save=True)
        failed += not report["ok"]
    setup_s = time.time() - t0

    cycle_s, report_s, cycle_cpu = [], [], []
    traced_flags: list[bool] = []
    groups: list[str] = []
    stats = []
    sc = spark.sparkContext
    for i in deadline_loop(run.seconds, MIN_CYCLES):
        idx = BRONZE_FILES + WARMUP_CYCLES + i
        ts = gen.snapshot_time(idx)
        rows = gen.snapshot_rows(run.seed, idx, ts, STOPS_PER_LINE, ROWS_PER_SNAPSHOT)
        traced = run.trace and i % 2 == 1
        group = f"cycle-{i}"
        expire(raw)
        sc.setJobGroup(group, "pipeline_refresh cycle")
        t0 = time.time()
        c0 = cpu_s(spark)
        if traced:
            ok = traced_cycle(run, spark, rows, raw, ts, group)
        else:
            ingest_snapshot(spark, rows, raw, now=ts)
            report = run_pipeline(spark, raw, save=True)
            ok = report["ok"]
            report_s.append(report["elapsed_s"])
        dt = time.time() - t0
        cycle_cpu.append(cpu_s(spark) - c0)
        failed += not ok
        cycle_s.append(dt)
        traced_flags.append(traced)
        if traced:
            groups.append(group)
            stats.append(group_job_stats(spark, group))
    attempted = len(cycle_s)

    # Output check (untimed): the mart equals the reference SQL over the
    # same bronze files.
    got = spark.table("marts.fct_headways").toPandas()
    want = duckdb.sql(ORACLE_SQL.format(raw=raw)).df()
    bad_rows = mismatches(got, want)
    failed += bad_rows > 0
    rss = peak_rss_mb(spark)
    res = Result(
        attempted=attempted,
        failed=min(failed, attempted),
        notes={
            "cycles": attempted,
            "cycle_s": [round(v, 3) for v in cycle_s],
            "cycle_cpu_s": [round(v, 3) for v in cycle_cpu],
            "cycle_s_median": round(median(cycle_s), 4),
            "run_pipeline_elapsed_s_median": median(report_s) if report_s else None,
            "mart_rows": len(want),
            "mart_mismatched_rows": bad_rows,
        },
    )
    if not run.trace:
        res.e2e = {"setup_s": setup_s, "cpu_per_op_s": median(cycle_cpu), "peak_rss_mb": rss}
        return res

    run.close()  # flushes the event log
    log = read_event_log(run.path("eventlog"))
    tr = run.tracer

    res.layer = {
        "session.get_spark_s": session_s,
        "trace.overhead_s": interleaved_overhead(cycle_s, traced_flags),
        "trace.unattributed_share": tr.unattributed_share("plans.runner.cycle"),
        "e2e.wall_p50_s": median(cycle_s),
        "sources.http.ingest_snapshot_s": tr.per_trace("sources.http.ingest_snapshot"),
        "sources.tables.read_raw_arrivals_s": tr.per_trace("sources.tables.read_raw_arrivals"),
        "sources.tables.bronze_files": len(glob.glob(os.path.join(raw, "date=*", "*.parquet"))),
        "plans.staging.stg_arrivals_s": tr.per_trace("plans.staging.stg_arrivals"),
        "plans.marts.fct_headways_s": tr.per_trace("plans.marts.fct_headways"),
        "dq.checks.run_checks_s": tr.per_trace("dq.checks.run_checks"),
        "plans.runner.jobs": median([s["jobs"] for s in stats]) if stats else 0,
        "plans.runner.tasks": median([s["tasks"] for s in stats]) if stats else 0,
        "plans.runner.shuffle_bytes": median(
            [log.get(g, {}).get("shuffle_bytes", 0) for g in groups]
        ) if groups else 0,
    }
    return res
