"""stream_headways: the realtime path. Two Structured Streaming queries
read the bronze file stream at once:

- gold: ``read_bronze_stream`` → ``stg_arrivals`` → ``streaming_headways``
  (``applyInPandasWithState``), written per micro-batch to parquet by a
  benchmark-side ``foreachBatch`` that stamps each batch's emission time;
- silver: ``run_silver_stream`` over the same stream.

One operation is a replay: both queries start from empty checkpoints and
drain a fixed seeded backlog with ``availableNow``, a closed loop with
one caller. Every replay does the same work, so a run's medians do not
depend on how many replays fit in it. Fixed per-batch and per-query
overhead and the Python per-row state loop dominate, and the batch query
registry is never touched.

A traced run spends the second half of its window in a live phase: both
queries run continuously while an open-loop generator process
(``gen.py live``) writes a snapshot every ``LIVE_INTERVAL_S``; per-event
latency is emission at the gold sink minus the event's creation stamp.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import threading
import time
from datetime import datetime

import gen
from common import (
    Result,
    cpu_s,
    deadline_loop,
    interleaved_overhead,
    median,
    mismatches,
    peak_rss_mb,
    tail,
)

BACKLOG_FILES = 16  # one micro-batch at read_bronze_stream's maxFilesPerTrigger
STOPS_PER_LINE = 10
ROWS_PER_SNAPSHOT = 80
WARMUP_REPLAYS = 3
MIN_REPLAYS = 5  # measured operations per run, however slow the host
LIVE_INTERVAL_S = 0.25
LIVE_ROWS = 20
MIN_LIVE_S = 4.0


def _queries(spark, raw: str, out: str, available_now: bool, emit: dict):
    """Start the gold and silver queries over ``raw`` with outputs and
    checkpoints under ``out``; returns both."""
    from tfl_realtime_lakehouse_spark.plans.staging import stg_arrivals
    from tfl_realtime_lakehouse_spark.streaming import read_bronze_stream, streaming_headways
    from tfl_realtime_lakehouse_spark.streaming.sink import run_silver_stream

    gold_dir = os.path.join(out, "gold")

    def gold_writer(batch_df, batch_id: int) -> None:
        batch_df.write.mode("overwrite").parquet(os.path.join(gold_dir, f"batch={batch_id}"))
        emit[batch_id] = time.time()

    gold = (
        streaming_headways(stg_arrivals(read_bronze_stream(spark, raw)))
        .writeStream.foreachBatch(gold_writer)
        .option("checkpointLocation", os.path.join(out, "ckpt-gold"))
    )
    gold = gold.trigger(availableNow=True) if available_now else gold
    silver = run_silver_stream(
        stg_arrivals(read_bronze_stream(spark, raw)),
        os.path.join(out, "silver"),
        os.path.join(out, "ckpt-silver"),
        available_now=available_now,
    )
    return gold.start(), silver


def _replay(spark, raw: str, out: str) -> list[dict]:
    """Drain ``raw`` through both queries from empty checkpoints;
    returns the gold query's progress reports."""
    shutil.rmtree(out, ignore_errors=True)
    gold_q, silver_q = _queries(spark, raw, out, True, {})
    gold_q.awaitTermination()
    silver_q.awaitTermination()
    return _progress(gold_q)


def _progress(q) -> list[dict]:
    return [json.loads(p.json) for p in q.recentProgress]


def _epoch(iso: str) -> float:
    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


def _check(spark, raw: str, gold_dir: str) -> int:
    """Rows by which gold differs from batch headway_events over the
    same files."""
    from tfl_realtime_lakehouse_spark.plans.marts import headway_events
    from tfl_realtime_lakehouse_spark.plans.staging import stg_arrivals

    cols = ["line_id", "stop_id", "event_ts", "headway_s"]
    got = spark.read.parquet(gold_dir).where("headway_s IS NOT NULL").select(*cols).toPandas()
    bronze = spark.read.option("basePath", raw).parquet(os.path.join(raw, "date=*"))
    want = headway_events(stg_arrivals(bronze)).select(*cols).toPandas()
    return mismatches(got, want)


def _live(run, spark, raw: str, seconds: float, tr) -> dict:
    """The traced run's live phase; returns its latencies, progress and
    generator report."""
    out = run.path("live")
    emit: dict[int, float] = {}
    # The gold query first drains the backlog, so the live batches are
    # incremental ones.
    gold_q, silver_q = _queries(spark, raw, out, False, emit)
    gold_q.processAllAvailable()
    silver_q.processAllAvailable()
    first_live = max(emit) + 1 if emit else 0
    count = int(seconds / LIVE_INTERVAL_S)
    gen_out = run.path("live-generator.json")
    t_live = time.time() + 0.2
    proc = subprocess.Popen(
        [sys.executable, gen.__file__, "live", "--raw", raw, "--seed", str(run.seed),
         "--first", str(BACKLOG_FILES), "--count", str(count), "--interval", str(LIVE_INTERVAL_S),
         "--t0", repr(t_live), "--rows", str(LIVE_ROWS), "--stops", str(STOPS_PER_LINE),
         "--out", gen_out]
    )
    try:
        proc.wait(timeout=seconds + 60)
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
    # Files the gold query had not consumed when the generator finished.
    consumed = sum(p["numInputRows"] for p in _progress(gold_q) if p["batchId"] >= first_live)
    backlog_files_end = count - consumed / LIVE_ROWS
    root = tr.record("stream.live", t_live, time.time(), "live", None)
    gold_q.processAllAvailable()
    silver_q.processAllAvailable()
    progress = _progress(gold_q)
    gold_q.stop()
    silver_q.stop()
    with open(gen_out) as fh:
        late = json.load(fh)["late_s"]
    events = (
        spark.read.parquet(os.path.join(out, "gold"))
        .where(f"batch >= {first_live}")
        .select("batch", "event_ts")
        .toPandas()
    )
    due = [ts.timestamp() for ts in events["event_ts"].dt.tz_localize("UTC")]
    return {
        "root": root,
        "progress": [p for p in progress if p["batchId"] >= first_live],
        "latency": [emit[int(b)] - d for b, d in zip(events["batch"], due)],
        "late": late,
        "backlog_files_end": backlog_files_end,
    }


def run(run) -> Result:
    from tfl_realtime_lakehouse_spark.streaming import sink

    sink_write_s: list[float] = []
    sink_lock = threading.Lock()
    timing = threading.Event()
    if run.trace:
        # Time the silver sink by wrapping the writer run_silver_stream
        # installs; foreachBatch calls it on a callback thread. Timing
        # is on in the traced replays and the live phase.
        inner_factory = sink.silver_partition_overwrite_writer

        def timed_factory(out_dir: str):
            inner = inner_factory(out_dir)

            def write(batch_df, batch_id: int) -> None:
                if not timing.is_set():
                    inner(batch_df, batch_id)
                    return
                t0 = time.time()
                inner(batch_df, batch_id)
                with sink_lock:
                    sink_write_s.append(time.time() - t0)

            return write

        sink.silver_partition_overwrite_writer = timed_factory

    # Set-up: session (launches the JVM), seeded backlog, and
    # WARMUP_REPLAYS replays, cold to warm.
    t0 = time.time()
    spark = run.session()
    session_s = time.time() - t0
    raw = run.path("bronze")
    events = gen.write_bronze(raw, run.seed, BACKLOG_FILES, STOPS_PER_LINE, ROWS_PER_SNAPSHOT)
    for _ in range(WARMUP_REPLAYS):
        _replay(spark, raw, run.path("replay"))
    setup_s = time.time() - t0

    tr = run.tracer
    window = run.seconds / 2 if run.trace else run.seconds
    replay_s, replay_cpu, traced_flags = [], [], []
    progress: list[dict] = []
    for i in deadline_loop(window, MIN_REPLAYS):
        traced = run.trace and i % 2 == 1
        if traced:
            timing.set()
        t0 = time.time()
        c0 = cpu_s(spark)
        prog = _replay(spark, raw, run.path("replay"))
        replay_cpu.append(cpu_s(spark) - c0)
        replay_s.append(time.time() - t0)
        timing.clear()
        traced_flags.append(traced)
        if traced:
            root = tr.record("stream.replay", t0, t0 + replay_s[-1], f"replay-{i}", None)
            for p in prog:
                start = _epoch(p["timestamp"])
                end = start + p["durationMs"]["triggerExecution"] / 1000.0
                tr.record("streaming.headways.batch", max(start, t0), min(end, t0 + replay_s[-1]), f"replay-{i}", root)
            progress += prog
    attempted = len(replay_s)

    # Output check (untimed): the last replay's gold equals batch
    # headway_events over the same files.
    bad_rows = _check(spark, raw, os.path.join(run.path("replay"), "gold"))
    rss = peak_rss_mb(spark)
    res = Result(
        attempted=attempted,
        failed=min(int(bad_rows > 0), attempted),
        notes={
            "replays": attempted,
            "replay_events": events,
            "replay_s": [round(v, 3) for v in replay_s],
            "replay_cpu_s": [round(v, 3) for v in replay_cpu],
            "replay_events_per_s_median": round(events / median(replay_s), 1),
            "gold_mismatched_rows": bad_rows,
        },
    )
    if not run.trace:
        res.e2e = {"setup_s": setup_s, "cpu_per_op_s": median(replay_cpu), "peak_rss_mb": rss}
        return res

    timing.set()
    live = _live(run, spark, raw, max(run.seconds / 2, MIN_LIVE_S), tr)
    timing.clear()
    lat_v, lat_p, lat_n = tail(live["latency"])
    res.notes.update(
        live_events=len(live["latency"]),
        latency_tail_percentile=round(lat_p, 2),
        latency_tail_samples_beyond=lat_n,
    )
    lo, hi = tr.spans[live["root"]]["start"], tr.spans[live["root"]]["end"]
    for p in live["progress"]:
        start = _epoch(p["timestamp"])
        end = start + p["durationMs"]["triggerExecution"] / 1000.0
        if min(end, hi) > max(start, lo):
            tr.record("streaming.headways.batch", max(start, lo), min(end, hi), "live", live["root"])

    batches = [p for p in progress + live["progress"] if p["numInputRows"] > 0]

    def dur(key: str) -> float:
        vals = [p["durationMs"].get(key, 0) for p in batches]
        return median(vals) if vals else 0.0

    last_state = (live["progress"] or progress)[-1]["stateOperators"]
    res.layer = {
        "session.get_spark_s": session_s,
        "trace.overhead_s": interleaved_overhead(replay_s, traced_flags),
        "trace.unattributed_share": tr.unattributed_share("stream.replay"),
        "e2e.wall_p50_s": median(replay_s),
        "streaming.headways.batch_ms": dur("triggerExecution"),
        "streaming.headways.add_batch_ms": dur("addBatch"),
        "streaming.headways.latest_offset_ms": dur("latestOffset"),
        "streaming.headways.query_planning_ms": dur("queryPlanning"),
        "streaming.headways.wal_commit_ms": dur("walCommit"),
        "streaming.headways.batches": len(batches),
        "streaming.headways.rows_per_batch": median([p["numInputRows"] for p in batches]) if batches else 0,
        "streaming.headways.state_rows": sum(s["numRowsTotal"] for s in last_state),
        "streaming.headways.state_memory_bytes": sum(s["memoryUsedBytes"] for s in last_state),
        "streaming.headways.rows_dropped_late": sum(
            s.get("numRowsDroppedByWatermark", 0) for p in batches for s in p["stateOperators"]
        ),
        "streaming.sink.write_s": median(sink_write_s) if sink_write_s else 0.0,
        "stream.latency_p50_s": median(live["latency"]) if live["latency"] else 0.0,
        "stream.latency_tail_s": lat_v,
        "stream.backlog_files_end": live["backlog_files_end"],
        "stream.generator_late_s": max(live["late"]) if live["late"] else 0.0,
    }
    return res
