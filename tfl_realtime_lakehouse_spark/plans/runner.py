"""Model-DAG runner: the reference's transform entry point (dbt build +
GX check + OpenLineage emit, SURVEY §3 entry point 2) re-expressed as a
Spark-native pipeline run.

- Models materialize as managed tables in ``staging`` / ``marts``
  databases (the reference's two schemas, dbt_project.yml:9-12) via
  CTAS-equivalent ``saveAsTable`` (SURVEY S9).
- The reference's 9 dbt not_null tests + GX checks run from the DQ
  module, observed on each model's write (no extra pass per model).
- Lineage is emitted AS DATA: a run report with per-model input/output
  datasets, row counts, durations and check results — the Marquez
  stand-in (SURVEY §7 M2), serializable straight to JSON.
"""

from __future__ import annotations

import time
from dataclasses import asdict, dataclass, field
from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession

from tfl_realtime_lakehouse_spark.dq.checks import (
    FCT_HEADWAYS_CHECKS,
    STG_ARRIVALS_CHECKS,
    Check,
    CheckResult,
    attach_observation,
    results_from_observation,
)
from tfl_realtime_lakehouse_spark.plans.marts import fct_headways
from tfl_realtime_lakehouse_spark.plans.staging import stg_arrivals
from tfl_realtime_lakehouse_spark.sources.tables import (
    drop_table_and_location,
    read_raw_arrivals,
)


@dataclass
class ModelRun:
    model: str
    inputs: list[str]
    output: str
    rows: int
    duration_s: float
    checks: list[CheckResult] = field(default_factory=list)

    @property
    def ok(self) -> bool:
        return all(c.ok for c in self.checks)


def _materialize(
    spark: SparkSession,
    df: DataFrame,
    table_name: str,
    checks: list[Check],
    save: bool,
) -> tuple[DataFrame, int, list[CheckResult]]:
    """CTAS-equivalent full-refresh materialization (the reference's dbt
    `table` materialization = full rebuild every run, T4/T6), with the
    model's DQ checks observed on the write itself: the rows written and
    every check come out of the one execution, with no recount or check
    pass. ``save=False`` runs the model into a ``noop`` sink instead.

    Returns the frame downstream models read (the saved table, or the
    unobserved ``df``), the row count and the check results."""
    observed, obs = attach_observation(df, checks, name=f"dq.{table_name}")
    if save:
        drop_table_and_location(spark, table_name)
        observed.write.mode("overwrite").saveAsTable(table_name)
        out = spark.table(table_name)
    else:
        observed.write.format("noop").mode("overwrite").save()
        df.createOrReplaceTempView(table_name.replace(".", "__"))
        out = df
    return out, int(obs.get["__total"]), results_from_observation(obs, checks)


def run_pipeline(
    spark: SparkSession,
    raw_dir: str,
    save: bool = True,
) -> dict:
    """bronze → staging.stg_arrivals → marts.fct_headways with DQ and a
    lineage run report. Returns the report dict (JSON-serializable)."""
    started = datetime.now(timezone.utc).isoformat()
    runs: list[ModelRun] = []

    t0 = time.time()
    bronze = read_raw_arrivals(spark, raw_dir)
    stg, stg_rows, stg_checks = _materialize(
        spark, stg_arrivals(bronze), "staging.stg_arrivals", STG_ARRIVALS_CHECKS, save
    )
    runs.append(
        ModelRun(
            model="stg_arrivals",
            inputs=[f"parquet://{raw_dir}"],
            output="staging.stg_arrivals",
            rows=stg_rows,
            duration_s=round(time.time() - t0, 3),
            checks=stg_checks,
        )
    )

    t1 = time.time()
    _, fct_rows, fct_checks = _materialize(
        spark, fct_headways(stg), "marts.fct_headways", FCT_HEADWAYS_CHECKS, save
    )
    runs.append(
        ModelRun(
            model="fct_headways",
            inputs=["staging.stg_arrivals"],
            output="marts.fct_headways",
            rows=fct_rows,
            duration_s=round(time.time() - t1, 3),
            checks=fct_checks,
        )
    )

    return {
        "run_started": started,
        "elapsed_s": round(time.time() - t0, 3),
        "ok": all(r.ok for r in runs),
        "models": [asdict(r) for r in runs],
        # lineage edges as data (dataset-level, Marquez stand-in)
        "lineage": [
            {"from": src, "to": r.output} for r in runs for src in r.inputs
        ],
    }
