"""Shared benchmark plumbing: statistics, spans, host stamps, Spark
status and event-log readers, result comparison.

Nothing here imports the package under test at module load, so the
statistics and tracing helpers stay testable without a JVM.
"""

from __future__ import annotations

import contextlib
import json
import math
import os
import re
import resource
import time
from dataclasses import dataclass, field
from statistics import median

METRIC_NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


# --------------------------------------------------------------------------
# statistics
# --------------------------------------------------------------------------


def tail(values: list[float], beyond: int = 10) -> tuple[float, float, int]:
    """The highest percentile that has at least ``beyond`` samples above
    it, as ``(value, percentile, samples_beyond)``.

    The sample at sorted index ``n - beyond - 1`` has exactly ``beyond``
    samples after it. The percentile is never reported below the median:
    with fewer than ``2 * beyond + 1`` samples the tail is the median and
    ``samples_beyond`` says how thin it is.
    """
    s = sorted(values)
    n = len(s)
    if n == 0:
        raise ValueError("tail of no samples")
    idx = n - beyond - 1
    if idx < (n - 1) / 2:
        return median(s), 50.0, n // 2
    return s[idx], 100.0 * idx / (n - 1), n - 1 - idx


def interleaved_overhead(times: list[float], traced: list[bool]) -> float:
    """Median, over traced operations run between two untraced ones, of
    its time minus the mean of those two neighbours; a linear warm-up
    trend across the run cancels out. 0 when no such operation ran."""
    diffs = [
        times[i] - (times[i - 1] + times[i + 1]) / 2
        for i in range(1, len(times) - 1)
        if traced[i] and not traced[i - 1] and not traced[i + 1]
    ]
    return median(diffs) if diffs else 0.0


def check_metric_names(names) -> None:
    bad = [n for n in names if not METRIC_NAME_RE.match(n)]
    if bad:
        raise ValueError(f"metric names outside [A-Za-z0-9_.-]: {bad}")


# --------------------------------------------------------------------------
# tracing
# --------------------------------------------------------------------------


@dataclass
class Tracer:
    """In-memory spans, written once when the run ends.

    A span is ``{name, start, end, parent, trace}``: ``parent`` is the
    index of the enclosing span (or None) and ``trace`` groups the spans
    of one operation (a refresh cycle, a query pass, a stream phase).
    With ``enabled=False`` every call is a no-op, so the untraced run
    pays nothing for the instrumentation it does not use.
    """

    enabled: bool
    spans: list[dict] = field(default_factory=list)
    _stack: list[int] = field(default_factory=list)

    @contextlib.contextmanager
    def span(self, name: str, trace: str):
        if not self.enabled:
            yield None
            return
        rec = {
            "name": name,
            "start": time.time(),
            "end": None,
            "parent": self._stack[-1] if self._stack else None,
            "trace": trace,
        }
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def record(self, name: str, start: float, end: float, trace: str, parent: int | None) -> int:
        """Add a finished span with an explicit parent, for work that
        runs on other threads (streaming micro-batches, sink callbacks)
        and so cannot nest through ``span``. Returns its index."""
        if not self.enabled:
            return -1
        self.spans.append({"name": name, "start": start, "end": end, "parent": parent, "trace": trace})
        return len(self.spans) - 1

    def self_times(self) -> list[float]:
        """Per span: duration minus the time its direct children cover."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        return [s["end"] - s["start"] - c for s, c in zip(self.spans, child)]

    def per_trace(self, name: str) -> float:
        """Median over operations (trace ids) of the summed duration of
        the spans called ``name`` in each; 0 when there are none."""
        sums: dict[str, float] = {}
        for s in self.spans:
            if s["name"] == name:
                sums[s["trace"]] = sums.get(s["trace"], 0.0) + s["end"] - s["start"]
        return median(sums.values()) if sums else 0.0

    def unattributed_share(self, root: str) -> float:
        """Median over ``root`` spans of self time ÷ duration: the share
        of an operation's blocking time no layer span accounts for."""
        selfs = self.self_times()
        shares = [
            selfs[i] / (s["end"] - s["start"])
            for i, s in enumerate(self.spans)
            if s["name"] == root and s["end"] > s["start"]
        ]
        return median(shares) if shares else 0.0

    def dump(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        selfs = self.self_times()
        spans = [dict(s, self_s=round(t, 6)) for s, t in zip(self.spans, selfs)]
        with open(path, "w") as fh:
            json.dump(dict(extra, spans=spans), fh, indent=1)


# --------------------------------------------------------------------------
# host and process stamps
# --------------------------------------------------------------------------


def _vm_hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _tree_ticks(pid: int, kids: dict[int, list[int]]) -> int:
    """utime + stime of ``pid`` and every live descendant, plus what
    reaped descendants left in their parents' cutime + cstime."""
    total = 0
    for p in [pid, *_descendants(pid, kids)]:
        try:
            with open(f"/proc/{p}/stat") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
            total += int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
        except (OSError, IndexError, ValueError):
            continue
    return total


def _descendants(pid: int, kids: dict[int, list[int]]) -> list[int]:
    out, todo = [], list(kids.get(pid, []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def cpu_s(spark) -> float:
    """CPU seconds used so far by the system under test: this Python
    driver (without its children), the Spark JVM and every process the
    JVM started (the PySpark daemon and its Python workers).

    CPU time is the benchmark's gated cost because, unlike wall time,
    it is not charged for the time the hypervisor runs other guests on
    this machine's cores (steal)."""
    t = os.times()
    own = t.user + t.system
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    if proc is None:
        return own
    return own + _tree_ticks(proc.pid, _children()) / os.sysconf("SC_CLK_TCK")


def peak_rss_mb(spark) -> float:
    """Peak resident set of the Spark JVM plus this Python driver, MB."""
    jvm_kb = 0
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    if proc is not None:
        with contextlib.suppress(OSError):
            jvm_kb = _vm_hwm_kb(proc.pid)
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (jvm_kb + py_kb) / 1024.0


class HostStamp:
    """nproc, SPARK_GRAFT_CPUS, steal-jiffies delta and load average
    around one run, so a noisy run identifies itself."""

    def __init__(self) -> None:
        from tfl_realtime_lakehouse_spark import hoststamp

        self._hs = hoststamp
        self.steal0 = hoststamp.steal_jiffies()
        self.load0 = os.getloadavg()
        self.cpu0 = hoststamp.self_cpu_sec()

    def finish(self) -> dict:
        steal1 = self._hs.steal_jiffies()
        return {
            "nproc": os.cpu_count(),
            "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
            "steal_jiffies_delta": (
                steal1 - self.steal0 if steal1 is not None and self.steal0 is not None else None
            ),
            "loadavg_start": [round(v, 2) for v in self.load0],
            "loadavg_end": [round(v, 2) for v in os.getloadavg()],
            "python_cpu_s": round(self._hs.self_cpu_sec() - self.cpu0, 3),
        }


# --------------------------------------------------------------------------
# Spark public status APIs
# --------------------------------------------------------------------------


def group_job_stats(spark, group: str) -> dict:
    """Jobs, stages and tasks Spark ran under one job group, from
    ``SparkContext.statusTracker()``."""
    st = spark.sparkContext.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stages: set[int] = set()
    for j in jobs:
        info = st.getJobInfo(j)
        if info is not None:
            stages.update(info.stageIds)
    tasks = 0
    for s in stages:
        info = st.getStageInfo(s)
        if info is not None:
            tasks += info.numTasks
    return {"jobs": len(jobs), "stages": len(stages), "tasks": tasks}


def read_event_log(log_dir: str) -> dict[str, dict]:
    """Per job group, from Spark's own JSON event log: shuffle bytes
    written, bytes spilled, JVM GC time, first job submission time, and
    the longest task and wall of every stage."""
    # Spark 4 writes a rolling log: one directory per application.
    files = sorted(
        os.path.join(d, f) for d, _, names in os.walk(log_dir) for f in names
        if not f.startswith(".")
    )
    groups: dict[str, dict] = {}
    stage_group: dict[int, str] = {}
    longest: dict[int, float] = {}

    def grp(name: str) -> dict:
        return groups.setdefault(
            name,
            {"shuffle_bytes": 0, "spill_bytes": 0, "gc_ms": 0, "first_job_ms": None,
             "stage_wall_ms": 0.0, "stage_longest_task_ms": 0.0},
        )

    for path in files:
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if g is None:
                        continue
                    rec = grp(g)
                    t = ev["Submission Time"]
                    rec["first_job_ms"] = t if rec["first_job_ms"] is None else min(rec["first_job_ms"], t)
                    for si in ev.get("Stage Infos", []):
                        stage_group[si["Stage ID"]] = g
                elif kind == "SparkListenerTaskEnd":
                    info = ev.get("Task Info") or {}
                    sid = ev.get("Stage ID")
                    dur = (info.get("Finish Time") or 0) - (info.get("Launch Time") or 0)
                    longest[sid] = max(longest.get(sid, 0.0), dur)
                elif kind == "SparkListenerStageCompleted":
                    si = ev["Stage Info"]
                    g = stage_group.get(si["Stage ID"])
                    if g is None or "Completion Time" not in si or "Submission Time" not in si:
                        continue
                    acc = {a.get("Name"): a.get("Value") for a in si.get("Accumulables", [])}

                    def num(key: str) -> float:
                        try:
                            return float(acc.get(key, 0) or 0)
                        except (TypeError, ValueError):
                            return 0.0

                    rec = grp(g)
                    rec["shuffle_bytes"] += num("internal.metrics.shuffle.write.bytesWritten")
                    rec["spill_bytes"] += num("internal.metrics.memoryBytesSpilled") + num(
                        "internal.metrics.diskBytesSpilled"
                    )
                    rec["gc_ms"] += num("internal.metrics.jvmGCTime")
                    rec["stage_wall_ms"] += si["Completion Time"] - si["Submission Time"]
                    rec["stage_longest_task_ms"] += longest.get(si["Stage ID"], 0.0)
    return groups


# --------------------------------------------------------------------------
# result comparison
# --------------------------------------------------------------------------


def _cell(v):
    """One value in a form that compares equal across pandas dtypes:
    missing values as None, timestamps as ISO strings, numpy scalars as
    Python numbers."""
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return None
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if hasattr(v, "item"):
        return v.item()
    return v


def rows_of(pdf) -> list[tuple]:
    """A pandas frame as tuples with columns in name order."""
    cols = sorted(pdf.columns)
    return [tuple(_cell(v) for v in rec) for rec in pdf[cols].itertuples(index=False, name=None)]


def mismatches(got, want) -> int:
    """Rows in the symmetric difference of two frames (as multisets);
    a column-set difference counts every row of both."""
    from collections import Counter

    if sorted(got.columns) != sorted(want.columns):
        return len(got) + len(want)
    a, b = Counter(rows_of(got)), Counter(rows_of(want))
    return sum(((a - b) + (b - a)).values())


@dataclass
class Result:
    """What a workload hands back to ``run.py``: operation counts, the
    end-to-end metrics (untraced run) or per-layer metrics (traced run),
    and free-form notes printed before the result line."""

    attempted: int
    failed: int
    e2e: dict[str, float] = field(default_factory=dict)
    layer: dict[str, float] = field(default_factory=dict)
    notes: dict = field(default_factory=dict)


def deadline_loop(seconds: float, min_ops: int):
    """Yield operation indices while the measurement window is open, and
    until at least ``min_ops`` have run; an operation started inside the
    window runs to completion. The floor keeps a slow run's median from
    resting on its first, least warm operations."""
    end = time.time() + seconds
    i = 0
    while time.time() < end or i < min_ops:
        yield i
        i += 1
