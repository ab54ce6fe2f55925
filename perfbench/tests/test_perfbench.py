"""Tests of the benchmark itself: generator determinism, the tail rule,
metric names, and a toy-size run of every workload in both modes.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import hashlib
import json
import os
import subprocess
import sys
import time
from types import SimpleNamespace

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import gen  # noqa: E402
from common import (  # noqa: E402
    METRIC_NAME_RE,
    Tracer,
    check_metric_names,
    cpu_s,
    interleaved_overhead,
    tail,
)


def _digests(root: str) -> dict[str, str]:
    out = {}
    for d, _, names in os.walk(root):
        for n in names:
            p = os.path.join(d, n)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = hashlib.sha256(fh.read()).hexdigest()
    return out


def test_bronze_is_byte_identical_per_seed(tmp_path):
    for name, seed in (("a", 5), ("b", 5), ("c", 6)):
        gen.write_bronze(str(tmp_path / name), seed, n_files=4, stops_per_line=3, rows=20)
    a, b, c = (_digests(str(tmp_path / n)) for n in "abc")
    assert a == b
    assert len(a) == 4
    assert a.keys() == c.keys() and a != c


def test_corpus_is_byte_identical_per_seed(tmp_path):
    for name, seed in (("a", 9), ("b", 9), ("c", 10)):
        gen.write_corpus(str(tmp_path / name), seed, scale=0.001)
    a, b, c = (_digests(str(tmp_path / n)) for n in "abc")
    assert a == b
    assert len(a) == 10
    assert a != c


def test_snapshot_event_time_never_goes_back_between_snapshots():
    prev_max = None
    for i in range(5):
        ts = gen.snapshot_time(i)
        stamps = sorted(r["timestamp"] for r in gen.snapshot_rows(1, i, ts, 3, 50))
        if prev_max is not None:
            assert stamps[0] > prev_max
        prev_max = stamps[-1]


def test_live_snapshot_stamps_every_event_with_its_due_time():
    ts = gen.snapshot_time(3)
    rows = gen.snapshot_rows(1, 3, ts, 3, 10, jitter=False)
    assert {r["timestamp"] for r in rows} == {gen.iso_z(ts)}


def test_bronze_retention_keeps_the_newest_snapshots(tmp_path):
    import pipeline

    raw = str(tmp_path / "bronze")
    gen.write_bronze(raw, 1, pipeline.BRONZE_FILES + 3, 2, 4)
    before = sorted(
        os.path.join(d, n) for d, _, names in os.walk(raw) for n in names
    )
    pipeline.expire(raw)
    after = sorted(os.path.join(d, n) for d, _, names in os.walk(raw) for n in names)
    # One slot is left for the snapshot the next cycle ingests.
    assert after == before[4:]
    assert len(after) == pipeline.BRONZE_FILES - 1


def test_cpu_s_counts_what_the_jvm_started_after_it_exits():
    # A stand-in JVM runs a child that burns 0.5 s of CPU and exits,
    # then idles: the child's CPU must still count, through the
    # stand-in's cutime.
    burn = "import time\nt = time.process_time()\nwhile time.process_time() - t < 0.5: pass"
    code = f"import subprocess, sys, time; subprocess.run([sys.executable, '-c', {burn!r}]); time.sleep(30)"
    proc = subprocess.Popen([sys.executable, "-c", code])
    try:
        spark = SimpleNamespace(sparkContext=SimpleNamespace(_gateway=SimpleNamespace(proc=proc)))
        c0 = cpu_s(spark)
        deadline = time.time() + 20
        while cpu_s(spark) - c0 < 0.45 and time.time() < deadline:
            time.sleep(0.1)
        assert cpu_s(spark) - c0 >= 0.45
    finally:
        proc.kill()
        proc.wait(timeout=10)


def test_tail_is_highest_percentile_with_ten_samples_beyond():
    values = list(range(1, 101))  # 1..100
    v, pct, beyond = tail(values)
    assert v == 90 and beyond == 10
    assert pct == pytest.approx(100 * 89 / 99)
    assert sum(x > v for x in values) == 10


def test_tail_never_reports_below_the_median():
    values = [5.0, 1.0, 3.0, 2.0, 4.0]
    assert tail(values) == (3.0, 50.0, 2)
    v, pct, beyond = tail(list(range(21)))
    assert (v, pct, beyond) == (10, 50.0, 10)


def test_interleaved_overhead_cancels_a_linear_trend():
    times = [10.0, 9.5 + 0.2, 9.0, 8.5 + 0.2, 8.0]  # warming by 0.5 per op, 0.2 traced cost
    traced = [False, True, False, True, False]
    assert interleaved_overhead(times, traced) == pytest.approx(0.2)
    assert interleaved_overhead([1.0, 2.0], [False, True]) == 0.0


def test_metric_name_charset():
    sys.path.insert(0, BENCH)
    import run as bench_run

    names = list(bench_run.END_TO_END) + list(bench_run.per_layer_units())
    check_metric_names(names)
    assert len(set(names)) == len(names)
    assert len(bench_run.per_layer_units()) <= 128
    for bad in ("a b", "x/y", "", "_lead", "q" * 65, "é"):
        assert not METRIC_NAME_RE.match(bad)
        with pytest.raises(ValueError):
            check_metric_names([bad])


def test_benchmark_json_matches_the_declared_metrics():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    import run as bench_run

    assert [w["name"] for w in spec["workloads"]] == list(bench_run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == bench_run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == bench_run.per_layer_units()


def test_self_time_subtracts_direct_children():
    tr = Tracer(enabled=True)
    root = tr.record("op", 0.0, 10.0, "t", None)
    tr.record("a", 1.0, 4.0, "t", root)
    tr.record("b", 4.0, 9.0, "t", root)
    assert tr.self_times() == [2.0, 3.0, 5.0]
    assert tr.unattributed_share("op") == pytest.approx(0.2)


def test_disabled_tracer_records_nothing():
    tr = Tracer(enabled=False)
    with tr.span("x", "t"):
        pass
    assert tr.record("y", 0, 1, "t", None) == -1
    assert tr.spans == []


# Toy sizes: every workload end to end in a few seconds of window.
_TOY = {
    "pipeline_refresh": "import pipeline as m; m.BRONZE_FILES = 6",
    "stream_headways": "import stream as m; m.BACKLOG_FILES = 6; m.MIN_LIVE_S = 2.0",
    "query_mix": "import querymix as m; m.CORPUS_SCALE = 0.001",
}


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", sorted(_TOY))
def test_toy_run(workload, trace):
    code = (
        f"import sys; sys.path.insert(0, {BENCH!r}); {_TOY[workload]}; import run; "
        f"sys.exit(run.main(['--workload', {workload!r}, '--seed', '3', '--seconds', '2', "
        f"'--trace', '{trace}']))"
    )
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=ROOT, capture_output=True, text=True, timeout=600
    )
    assert out.returncode == 0, out.stderr[-3000:]
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0 and result["attempted"] >= 1
    import run as bench_run

    declared = bench_run.per_layer_units() if trace else bench_run.END_TO_END
    assert {k: v["unit"] for k, v in result["metrics"].items()} == declared
    if not trace:
        assert all(v["value"] > 0 for v in result["metrics"].values())
    host = json.loads(out.stdout.strip().splitlines()[-3].removeprefix("# host "))
    assert {"nproc", "SPARK_GRAFT_CPUS", "steal_jiffies_delta", "loadavg_start"} <= set(host)


def test_refuses_to_run_without_the_package(tmp_path):
    bench = tmp_path / "perfbench"
    bench.mkdir()
    for f in os.listdir(BENCH):
        if f.endswith(".py"):
            (bench / f).write_bytes(open(os.path.join(BENCH, f), "rb").read())
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "query_mix", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert out.returncode != 0
    assert out.stdout == ""
