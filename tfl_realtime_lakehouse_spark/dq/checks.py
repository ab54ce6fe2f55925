"""Single-pass data-quality engine.

Re-expresses the reference's two DQ layers as one mechanism:
- dbt ``not_null`` schema tests (``schema.yml:4-37`` — 9 tests, failure
  = rows returned)  → severity="error"
- Great Expectations runtime checks (``tfl_transform_dag.py:50-61`` —
  between/not-null at severity=warning, report-not-fail) → severity="warning"

Design for scale: ALL checks over a DataFrame evaluate in ONE aggregation
pass (a single scan, map-side partial aggregation, no per-check jobs).
The reference's empty-input guard (``tfl_transform_dag.py:17-19``) is
kept: an empty input yields skipped results rather than vacuous passes.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


@dataclass(frozen=True)
class Check:
    name: str
    column: str
    # SQL predicate, True where the row VIOLATES the check. A string so
    # check suites can be declared at import time, before any session.
    predicate: str
    severity: str = "error"  # "error" | "warning"


@dataclass(frozen=True)
class CheckResult:
    name: str
    column: str
    severity: str
    status: str  # "pass" | "fail" | "warn" | "skipped"
    failed_count: int
    total: int

    @property
    def ok(self) -> bool:
        return self.status in ("pass", "warn", "skipped")


def not_null(column: str, severity: str = "error") -> Check:
    """dbt-style not_null (reference schema.yml)."""
    return Check(
        name=f"not_null_{column}",
        column=column,
        predicate=f"{column} IS NULL",
        severity=severity,
    )


def value_between(
    column: str, lo: float, hi: float, severity: str = "warning"
) -> Check:
    """GX ExpectColumnValuesToBeBetween (reference tfl_transform_dag.py:50-55);
    NULLs are not violations (null-ness is not_null's job)."""
    return Check(
        name=f"between_{column}_{lo}_{hi}",
        column=column,
        predicate=f"{column} IS NOT NULL AND NOT ({column} BETWEEN {lo} AND {hi})",
        severity=severity,
    )


def _check_aggs(checks: list[Check]) -> list:
    """Row count plus one violation count per check: the single
    aggregation both the pass and the observed path evaluate."""
    return [F.count(F.lit(1)).alias("__total")] + [
        F.sum(F.when(F.expr(c.predicate), 1).otherwise(0)).alias(f"__c{i}")
        for i, c in enumerate(checks)
    ]


def _results(row, checks: list[Check]) -> list[CheckResult]:
    """Status rules over an aggregated row: an empty input skips every
    check; otherwise any violation fails (error) or warns (warning)."""
    total = int(row["__total"])
    results = []
    for i, c in enumerate(checks):
        failed = int(row[f"__c{i}"] or 0)  # SUM over no rows is NULL
        if total == 0:
            status = "skipped"
        elif failed == 0:
            status = "pass"
        else:
            status = "warn" if c.severity == "warning" else "fail"
        results.append(
            CheckResult(
                name=c.name,
                column=c.column,
                severity=c.severity,
                status=status,
                failed_count=failed,
                total=total,
            )
        )
    return results


def run_checks(df: DataFrame, checks: list[Check]) -> list[CheckResult]:
    """Evaluate every check in one aggregation pass over ``df``."""
    return _results(df.agg(*_check_aggs(checks)).collect()[0], checks)


def attach_observation(df: DataFrame, checks: list[Check], name: str = "dq"):
    """Zero-extra-pass DQ: piggyback the check metrics on whatever action
    the caller runs next via ``df.observe`` (works identically on batch
    and streaming DataFrames — the streaming-native DQ path). The
    observed frame carries ``name`` in its plan, so each observed model
    needs its own name and downstream models should read the unobserved
    frame.

    Returns ``(df, observation)``; read results with
    :func:`results_from_observation` after an action has run.
    """
    from pyspark.sql import Observation

    obs = Observation(name)
    return df.observe(obs, *_check_aggs(checks)), obs


def results_from_observation(obs, checks: list[Check]) -> list[CheckResult]:
    """The check results an action over the observed frame recorded;
    ``obs.get["__total"]`` is the number of rows that action saw."""
    return _results(obs.get, checks)


# The reference pipeline's exact check suite (9 not_null + 2 GX).
STG_ARRIVALS_CHECKS = [
    not_null("line_id"),
    not_null("stop_id"),
    not_null("event_ts"),
    value_between("time_to_station_s", 0, 3600, severity="warning"),
    not_null("line_id", severity="warning"),  # GX duplicate of the dbt test
]

FCT_HEADWAYS_CHECKS = [
    not_null("line_id"),
    not_null("stop_id"),
    not_null("hour"),
    not_null("avg_headway_s"),
    not_null("p50_headway_s"),
    not_null("p90_headway_s"),
]


def accepted_values(column: str, values: list[str], severity: str = "error") -> Check:
    """dbt-style accepted_values: a row violates when the column holds a
    non-null value outside the allowed set (nulls are not_null's job)."""
    quoted = ", ".join("'" + v.replace("'", "''") + "'" for v in values)
    return Check(
        name=f"accepted_values_{column}",
        column=column,
        predicate=f"{column} IS NOT NULL AND {column} NOT IN ({quoted})",
        severity=severity,
    )


def unique_violations(df: DataFrame, cols: list[str]) -> DataFrame:
    """dbt-style unique test, dataset-level: the (cols) values that
    appear more than once, with their multiplicity. One map-side-
    combined groupBy on the key — the same shuffle an exact dedup
    pays, nothing broadcast. Empty result = check passes."""
    return (
        df.groupBy(*cols)
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .where(F.col("n_rows") > 1)
    )


def referential_violations(
    child: DataFrame, child_col: str, parent: DataFrame, parent_col: str
) -> DataFrame:
    """dbt-style relationships test, dataset-level: child keys with no
    matching parent (orphans), as distinct keys. A left-anti equi-join
    keyed on the FK — AQE broadcasts the parent's distinct-key side
    when it is small, else a shuffled anti hash join; either way no
    full-table materialization. Empty result = check passes."""
    parents = parent.select(F.col(parent_col).alias(child_col)).distinct()
    return (
        child.select(child_col)
        .where(F.col(child_col).isNotNull())
        .distinct()
        .join(parents, child_col, "left_anti")
    )
