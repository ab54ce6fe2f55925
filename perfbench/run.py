"""Benchmark entry point.

    python3 perfbench/run.py --workload pipeline_refresh --seed 1 --seconds 10 --trace 0

Run from the repository root. Each run is one fresh process on
``local[SPARK_GRAFT_CPUS or nproc]`` with all of its state (bronze,
warehouse, checkpoints, Spark local dirs, temp files) under a fresh
directory ``.perfbench/run-<pid>`` that is deleted at exit. With
``--trace 1`` the spans are kept in ``.perfbench/traces/``.

The last stdout line is the result object
``{"correct", "attempted", "failed", "metrics"}``; ``--trace 0`` reports
the end-to-end metrics, ``--trace 1`` the per-layer metrics. The line
before it carries the host stamp. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "tfl_realtime_lakehouse_spark"

WORKLOADS = ("pipeline_refresh", "stream_headways", "query_mix")

# End-to-end metrics every workload reports (see README.md for what an
# operation is per workload) and their units.
END_TO_END = {
    "setup_s": "s",
    "cpu_per_op_s": "s",
    "peak_rss_mb": "MB",
}


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric and its unit. Each workload reports all of
    them; a layer the workload never calls reads 0."""
    from querymix import MIX

    units = {
        "session.get_spark_s": "s",
        "trace.overhead_s": "s",
        "trace.unattributed_share": "ratio",
        "e2e.wall_p50_s": "s",
        # pipeline_refresh
        "sources.http.ingest_snapshot_s": "s",
        "sources.tables.read_raw_arrivals_s": "s",
        "sources.tables.bronze_files": "count",
        "plans.staging.stg_arrivals_s": "s",
        "plans.marts.fct_headways_s": "s",
        "dq.checks.run_checks_s": "s",
        "plans.runner.jobs": "count",
        "plans.runner.tasks": "count",
        "plans.runner.shuffle_bytes": "bytes",
        # stream_headways
        "streaming.headways.batch_ms": "ms",
        "streaming.headways.add_batch_ms": "ms",
        "streaming.headways.latest_offset_ms": "ms",
        "streaming.headways.query_planning_ms": "ms",
        "streaming.headways.wal_commit_ms": "ms",
        "streaming.headways.batches": "count",
        "streaming.headways.rows_per_batch": "count",
        "streaming.headways.state_rows": "count",
        "streaming.headways.state_memory_bytes": "bytes",
        "streaming.headways.rows_dropped_late": "count",
        "streaming.sink.write_s": "s",
        "stream.latency_p50_s": "s",
        "stream.latency_tail_s": "s",
        "stream.backlog_files_end": "count",
        "stream.generator_late_s": "s",
    }
    # query_mix
    for cls, names in MIX.items():
        units[f"{cls}.pass_s"] = "s"
        units[f"{cls}.cpu_s"] = "s"
        units[f"{cls}.tasks"] = "count"
        units[f"{cls}.shuffle_bytes"] = "bytes"
        units[f"{cls}.spill_bytes"] = "bytes"
        units[f"{cls}.gc_s"] = "s"
        units[f"{cls}.planning_s"] = "s"
        units[f"{cls}.serial_fraction"] = "ratio"
        for q in names:
            units[f"queries.{q}.wall_s"] = "s"
            units[f"queries.{q}.jobs"] = "count"
    return units


class Run:
    """One benchmark run: its arguments, its private state directory and
    the Spark session it builds."""

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool) -> None:
        from common import Tracer

        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.tracer = Tracer(enabled=trace)
        self.work = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}")
        self.spark = None

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def session(self):
        """Build the run's SparkSession (this launches the JVM) with its
        warehouse, local and temp directories inside the run directory."""
        from tfl_realtime_lakehouse_spark.session import get_spark

        conf = {
            "spark.sql.warehouse.dir": self.path("warehouse"),
            "spark.local.dir": self.path("spark-local"),
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={self.path('jvm-tmp')} -XX:-UsePerfData "
                f"-Xms{os.environ['SPARK_GRAFT_DRIVER_MEM']} -XX:+AlwaysPreTouch "
                # The JVM is set up so that an operation costs the same
                # CPU early and late in a run. C1 only: with C2 the JIT
                # kept recompiling for the whole run. Low C1 thresholds:
                # warm within a few operations. No code cache flushing:
                # flushing and recompiling Spark's generated classes put
                # a 50-80 % CPU bump into every run about 30 s in. Serial
                # GC: no concurrent collector threads.
                "-XX:TieredStopAtLevel=1 -XX:Tier3InvocationThreshold=20 "
                "-XX:Tier3MinInvocationThreshold=10 -XX:Tier3CompileThreshold=200 "
                "-XX:Tier3BackEdgeThreshold=6000 -XX:-UseCodeCacheFlushing "
                "-XX:ReservedCodeCacheSize=256m -XX:+UseSerialGC"
            ),
            # A small status store reaches its steady size (and its
            # cleanup cost) during warm-up, not during the measurement.
            "spark.ui.enabled": "false",
            "spark.ui.retainedJobs": "200",
            "spark.ui.retainedStages": "200",
            "spark.sql.ui.retainedExecutions": "50",
            "spark.ui.showConsoleProgress": "false",
        }
        if self.trace:
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": self.path("eventlog"),
                    "spark.eventLog.compress": "false",
                }
            )
        self.spark = get_spark(app_name=f"perfbench-{self.workload}", extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def close(self) -> None:
        """Stop the session and wait for the JVM to exit (it exits when
        its stdin, the gateway's lifeline to this process, closes)."""
        if self.spark is None:
            return
        jvm = getattr(self.spark.sparkContext._gateway, "proc", None)
        self.spark.stop()
        self.spark = None
        if jvm is not None:
            jvm.stdin.close()
            jvm.wait(timeout=60)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: no {PACKAGE}/ beside perfbench/ in {ROOT}; "
              "run from a checkout of the repository", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)

    # A run stopped with SIGTERM still stops its JVM and removes its
    # directory (the finally below).
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    run = Run(args.workload, args.seed, args.seconds, bool(args.trace))
    shutil.rmtree(run.work, ignore_errors=True)
    for d in ("tmp", "spark-local", "jvm-tmp", "eventlog"):
        os.makedirs(run.path(d), exist_ok=True)
    # Everything the run, Spark and its Python workers write stays in
    # the run directory.
    os.environ["TMPDIR"] = run.path("tmp")
    os.environ["SPARK_LOCAL_DIRS"] = run.path("spark-local")
    # A 1 GB heap is ample at these sizes. It is committed and touched
    # up front (see Run.session), so peak RSS does not depend on when the
    # collector chose to grow the heap.
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "1g")
    os.environ["PYSPARK_PYTHON"] = sys.executable

    from common import HostStamp

    host = HostStamp()
    try:
        if args.workload == "pipeline_refresh":
            import pipeline as wl
        elif args.workload == "stream_headways":
            import stream as wl
        else:
            import querymix as wl
        res = wl.run(run)
    finally:
        try:
            run.close()
        finally:
            shutil.rmtree(run.work, ignore_errors=True)

    stamp = host.finish()
    if run.trace:
        units = per_layer_units()
        undeclared = set(res.layer) - set(units)
        values = {k: res.layer.get(k, 0.0) for k in units}
    else:
        units = END_TO_END
        undeclared = set(res.e2e) ^ set(units)
        values = res.e2e
    if undeclared:
        raise RuntimeError(f"metrics reported and declared differ: {sorted(undeclared)}")
    if run.trace:
        run.tracer.dump(
            os.path.join(ROOT, ".perfbench", "traces", f"{run.workload}-seed{run.seed}.json"),
            {"workload": run.workload, "seed": run.seed, "host": stamp, "notes": res.notes},
        )
    print("# host " + json.dumps(stamp))
    print("# notes " + json.dumps(res.notes, default=str))
    print(
        json.dumps(
            {
                "correct": res.failed == 0 and res.attempted > 0,
                "attempted": res.attempted,
                "failed": res.failed,
                "metrics": {
                    k: {"value": float(values[k]), "unit": units[k]} for k in units
                },
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
