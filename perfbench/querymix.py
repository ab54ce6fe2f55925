"""query_mix: registry queries on a seeded corpus shaped like TESTDATA.md as a
closed loop with one client, written to the ``noop`` sink exactly as
``bench.py`` does.

Two operation classes use the same ``sources.tables`` scan two ways:

- ``sql``: TPC-H shapes, where Catalyst scan/join/aggregate and driver
  planning do the work (single-file, single-row-group tables);
- ``ops``: operator queries, where self-joins, ``localCheckpoint``
  iterations, ``fan_out``/``keyed_spread`` shuffles and per-row
  expressions do the work.

Every query's result is checked once against its DuckDB ``oracle_sql``
in an untimed pass with ``collect``; the timed passes keep the noop
sink. In a traced run every other pass runs each query under its own
job group and reads jobs, stages and tasks from the status tracker and
shuffle, spill, GC, planning delay and the longest task from Spark's
event log.
"""

from __future__ import annotations

import gc
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

CORPUS_SCALE = 0.01  # lineitem 60 k rows, documents and embeddings 500
MIN_PASSES = 3  # measured operations per run, however slow the host
MIX = {
    "sql": ["q1_pricing_summary", "q5_region_revenue"],
    "ops": ["graph_pagerank", "text_char_entropy"],
}


def _release_blocks(spark) -> None:
    """Drop the last query's DataFrame graph and its localCheckpoint
    blocks before the next query, as bench.py does between queries."""
    gc.collect()
    retained = spark.sparkContext._jsc.sc().getPersistentRDDs().values().toList()
    for i in range(retained.size()):
        retained.apply(i).unpersist(False)


def _oracle(corpus: str) -> duckdb.DuckDBPyConnection:
    from tfl_realtime_lakehouse_spark.schemas import CORPUS_TABLES

    con = duckdb.connect()
    for t in CORPUS_TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{os.path.join(corpus, t)}.parquet')")
    return con


def run(run) -> Result:
    from tfl_realtime_lakehouse_spark import hoststamp
    from tfl_realtime_lakehouse_spark.queries import REGISTRY

    # Set-up: session (launches the JVM), seeded corpus, a cold pass over
    # the mix that collects every result for the output check, and a warm
    # pass. DuckDB time is left out of the set-up time.
    t0 = time.time()
    spark = run.session()
    session_s = time.time() - t0
    corpus = run.path("corpus")
    gen.write_corpus(corpus, run.seed, CORPUS_SCALE)
    con = _oracle(corpus)
    attempted = failed = 0
    bad: dict[str, object] = {}
    oracle_s = 0.0
    for names in MIX.values():
        for q in names:
            attempted += 1
            try:
                got = REGISTRY[q].fn(spark, corpus).toPandas()
                t1 = time.time()
                n = mismatches(got, con.sql(REGISTRY[q].oracle).df())
                oracle_s += time.time() - t1
            except Exception as exc:  # a failing query is a failed operation
                n = -1
                bad[q] = repr(exc)[:300]
            if n:
                failed += 1
                bad.setdefault(q, n)
            _release_blocks(spark)
    # One more pass through the timed write path while the JIT settles.
    for names in MIX.values():
        for q in names:
            REGISTRY[q].fn(spark, corpus).write.format("noop").mode("overwrite").save()
            _release_blocks(spark)
    setup_s = time.time() - t0 - oracle_s

    sc = spark.sparkContext
    passes: list[dict] = []
    for i in deadline_loop(run.seconds, MIN_PASSES):
        traced = run.trace and i % 2 == 1
        rec = {"traced": traced, "wall": {}, "cls": {}, "cpu": {}, "stats": {}, "call": {}}
        pass_c0 = cpu_s(spark)
        with run.tracer.span("queries.pass", f"pass-{i}"):
            for cls, names in MIX.items():
                c0 = hoststamp.jvm_cpu_sec(spark) if traced else None
                with run.tracer.span(f"{cls}.pass", f"pass-{i}"):
                    for q in names:
                        group = f"pass-{i}:{q}"
                        sc.setJobGroup(group, q)
                        attempted += 1
                        with run.tracer.span(f"queries.{q}", f"pass-{i}"):
                            t0 = time.time()
                            try:
                                REGISTRY[q].fn(spark, corpus).write.format("noop").mode("overwrite").save()
                            except Exception as exc:
                                failed += 1
                                bad[q] = repr(exc)[:300]
                            rec["wall"][q] = time.time() - t0
                        rec["call"][group] = t0
                        if traced:
                            rec["stats"][q] = group_job_stats(spark, group)
                        _release_blocks(spark)
                rec["cls"][cls] = sum(rec["wall"][q] for q in names)
                if traced:
                    rec["cpu"][cls] = hoststamp.jvm_cpu_sec(spark) - c0
        rec["pass_cpu"] = cpu_s(spark) - pass_c0
        passes.append(rec)

    totals = [sum(p["cls"].values()) for p in passes]
    pass_cpu = [p["pass_cpu"] for p in passes]
    rss = peak_rss_mb(spark)
    res = Result(
        attempted=attempted,
        failed=failed,
        notes={
            "passes": len(passes),
            "pass_s": [round(t, 3) for t in totals],
            "pass_cpu_s": [round(t, 3) for t in pass_cpu],
            "class_pass_s": {c: [round(p["cls"][c], 3) for p in passes] for c in MIX},
            "query_s": {q: [round(p["wall"][q], 3) for p in passes] for n in MIX.values() for q in n},
            "check_failures": bad,
        },
    )
    if not run.trace:
        res.e2e = {"setup_s": setup_s, "cpu_per_op_s": median(pass_cpu), "peak_rss_mb": rss}
        return res

    run.close()  # flushes the event log
    log = read_event_log(run.path("eventlog"))
    traced = [p for p in passes if p["traced"]]
    layer = {
        "session.get_spark_s": session_s,
        "trace.overhead_s": interleaved_overhead(totals, [p["traced"] for p in passes]),
        "trace.unattributed_share": run.tracer.unattributed_share("queries.pass"),
        "e2e.wall_p50_s": median(totals),
    }
    for cls, names in MIX.items():
        for q in names:
            layer[f"queries.{q}.wall_s"] = median([p["wall"][q] for p in traced]) if traced else 0.0
            layer[f"queries.{q}.jobs"] = median([p["stats"][q]["jobs"] for p in traced]) if traced else 0
        per_pass = {k: [] for k in ("pass_s", "cpu_s", "tasks", "shuffle_bytes", "spill_bytes", "gc_s", "planning_s")}
        longest = wall = 0.0
        for p in traced:
            groups = [(g, t) for g, t in p["call"].items() if g.split(":", 1)[1] in names]
            ev = [(log.get(g, {}), t) for g, t in groups]
            per_pass["pass_s"].append(p["cls"][cls])
            per_pass["cpu_s"].append(p["cpu"][cls])
            per_pass["tasks"].append(sum(p["stats"][q]["tasks"] for q in names))
            per_pass["shuffle_bytes"].append(sum(e.get("shuffle_bytes", 0) for e, _ in ev))
            per_pass["spill_bytes"].append(sum(e.get("spill_bytes", 0) for e, _ in ev))
            per_pass["gc_s"].append(sum(e.get("gc_ms", 0) for e, _ in ev) / 1000.0)
            per_pass["planning_s"].append(
                sum(e["first_job_ms"] / 1000.0 - t for e, t in ev if e.get("first_job_ms"))
            )
            longest += sum(e.get("stage_longest_task_ms", 0.0) for e, _ in ev)
            wall += sum(e.get("stage_wall_ms", 0.0) for e, _ in ev)
        for k, v in per_pass.items():
            layer[f"{cls}.{k}"] = median(v) if v else 0.0
        layer[f"{cls}.serial_fraction"] = longest / wall if wall else 0.0
    res.layer = layer
    return res
