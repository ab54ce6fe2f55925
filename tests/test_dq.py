"""DQ engine tests (SURVEY Q1-Q7): single-pass evaluation, severity
semantics, empty-input skip."""

from __future__ import annotations

from tfl_realtime_lakehouse_spark.dq import not_null, run_checks, value_between
from tfl_realtime_lakehouse_spark.dq.checks import (
    FCT_HEADWAYS_CHECKS,
    STG_ARRIVALS_CHECKS,
)
from tfl_realtime_lakehouse_spark.plans import fct_headways, stg_arrivals


def _stg(spark):
    raw = spark.createDataFrame(
        [
            ("S1", "central", "P1", "D", 100, "2025-01-01T10:00:00Z"),
            ("S1", "central", "P1", "D", 4000, "2025-01-01T10:05:00Z"),  # range warn
            (None, "central", "P1", "D", 50, "2025-01-01T10:06:00Z"),  # null stop
            ("S1", "central", "P1", "D", 50, "garbage"),  # null event_ts
        ],
        "stopId string, lineId string, platformName string, destinationName string, "
        "timeToStation long, timestamp string",
    )
    return stg_arrivals(raw)


def test_not_null_fails_on_nulls(spark):
    results = {r.name: r for r in run_checks(_stg(spark), STG_ARRIVALS_CHECKS)}
    assert results["not_null_line_id"].status == "pass"
    assert results["not_null_stop_id"].status == "fail"
    assert results["not_null_stop_id"].failed_count == 1
    assert results["not_null_event_ts"].status == "fail"


def test_warning_severity_reports_but_does_not_fail(spark):
    results = {r.name: r for r in run_checks(_stg(spark), STG_ARRIVALS_CHECKS)}
    rng = results["between_time_to_station_s_0_3600"]
    assert rng.status == "warn" and rng.ok and rng.failed_count == 1


def test_empty_input_skips_validation(spark):
    empty = _stg(spark).limit(0)
    results = run_checks(empty, STG_ARRIVALS_CHECKS)
    assert all(r.status == "skipped" for r in results)


def test_reference_suite_green_on_clean_mart(spark):
    raw = spark.createDataFrame(
        [
            ("S1", "central", "P1", "D", 100, "2025-01-01T10:00:00Z"),
            ("S1", "central", "P1", "D", 90, "2025-01-01T10:04:00Z"),
            ("S1", "central", "P1", "D", 90, "2025-01-01T10:09:00Z"),
        ],
        "stopId string, lineId string, platformName string, destinationName string, "
        "timeToStation long, timestamp string",
    )
    mart = fct_headways(stg_arrivals(raw))
    results = run_checks(mart, FCT_HEADWAYS_CHECKS)
    assert all(r.status == "pass" for r in results)
    # one aggregation pass evaluated 6 checks: spot-check totals align
    assert {r.total for r in results} == {1}


def test_single_pass_check_count(spark):
    df = _stg(spark)
    checks = [not_null("line_id"), value_between("time_to_station_s", 0, 3600)]
    results = run_checks(df, checks)
    assert len(results) == 2
    assert all(r.total == 4 for r in results)


def test_observed_checks_piggyback_on_action(spark):
    from tfl_realtime_lakehouse_spark.dq.checks import (
        attach_observation,
        results_from_observation,
    )

    df = _stg(spark)
    observed, obs = attach_observation(df, STG_ARRIVALS_CHECKS)
    n = observed.count()  # the ONLY job; metrics ride along
    results = {r.name: r for r in results_from_observation(obs, STG_ARRIVALS_CHECKS)}
    assert n == 4
    assert results["not_null_stop_id"].status == "fail"
    assert results["between_time_to_station_s_0_3600"].status == "warn"


def test_observed_results_equal_pass_results(spark):
    """The observed path and the aggregation pass share one rule set:
    pass, warn (out-of-range timeToStation), fail and empty-input
    skipped all come out identical on the same frame."""
    from tfl_realtime_lakehouse_spark.dq.checks import (
        attach_observation,
        results_from_observation,
    )

    stg = _stg(spark)
    for df in (stg, stg.limit(0)):
        observed, obs = attach_observation(df, STG_ARRIVALS_CHECKS)
        observed.write.format("noop").mode("overwrite").save()
        got = results_from_observation(obs, STG_ARRIVALS_CHECKS)
        assert got == run_checks(df, STG_ARRIVALS_CHECKS)
        statuses = {r.status for r in got}
        assert statuses == ({"pass", "warn", "fail"} if got[0].total else {"skipped"})
