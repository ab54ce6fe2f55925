"""Seeded input generators for the benchmark.

Everything here is a pure function of the seed: the same seed writes
byte-identical parquet files (pyarrow, fixed row order, no write-time
metadata). The program under test only ever sees the files.

- ``write_bronze``: the bronze layout the reference ingest DAG leaves
  behind, ``date=YYYY-MM-DD/arrivals_<ts>.parquet``, one file per
  2-minute TfL snapshot.
- ``snapshot_rows``: one API-shaped snapshot (the dicts
  ``sources.http.ingest_snapshot`` consumes).
- ``write_corpus``: the ten test-corpus tables of TESTDATA.md (TPC-H-like star schema
  plus events, documents, embeddings) at a small scale.
- ``python3 perfbench/gen.py live ...``: the open-loop live generator for
  the streaming workload, run as its own process (see ``live_main``).
"""

from __future__ import annotations

import json
import os
import sys
import time
from datetime import datetime, timedelta, timezone

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SNAPSHOT_EVERY_S = 120
SERVICE_START = datetime(2025, 1, 6, 5, 0, 0, tzinfo=timezone.utc)
LINES = ("bakerloo", "central", "district", "jubilee", "northern", "victoria")
DESTINATIONS = ("Eastbound", "Westbound", "Northbound", "Southbound")

BRONZE_SCHEMA = pa.schema(
    [
        ("stopId", pa.string()),
        ("lineId", pa.string()),
        ("platformName", pa.string()),
        ("destinationName", pa.string()),
        ("timeToStation", pa.int64()),
        ("timestamp", pa.string()),
    ]
)


def rng_for(seed: int, *stream: int) -> np.random.Generator:
    """Independent, reproducible stream per (seed, purpose, index)."""
    return np.random.default_rng([seed, *stream])


def iso_z(ts: datetime) -> str:
    return ts.astimezone(timezone.utc).strftime("%Y-%m-%dT%H:%M:%S.%fZ")


def snapshot_rows(
    seed: int, index: int, ts: datetime, stops_per_line: int, rows: int, jitter: bool = True
) -> list[dict]:
    """One snapshot of ``rows`` arrival predictions, API-shaped.

    Each row's ``timestamp`` is the snapshot time plus up to 90 s of
    jitter (less than the 2-minute snapshot interval, so event time
    never goes backwards between snapshots), so the headways between
    snapshots vary; ``jitter=False`` stamps every row with ``ts``. About 2 % of
    ``timeToStation`` values fall outside [0, 3600] to exercise the DQ
    warning path; no timestamp is malformed, so DQ errors never fire.
    """
    rng = rng_for(seed, 1, index)
    line = rng.integers(0, len(LINES), rows)
    stop = rng.integers(0, stops_per_line, rows)
    jitter_us = rng.integers(0, 90_000_000, rows) if jitter else np.zeros(rows, np.int64)
    tts = rng.integers(0, 1800, rows)
    bad = rng.random(rows) < 0.02
    tts = np.where(bad, -tts - 1, tts)
    platform = rng.integers(1, 3, rows)
    dest = rng.integers(0, len(DESTINATIONS), rows)
    out = []
    for i in range(rows):
        lid = LINES[line[i]]
        out.append(
            {
                "naptanId": f"940G{line[i]:02d}{stop[i]:04d}",
                "lineId": lid,
                "stationName": f"{lid} stop {stop[i]}",
                "platformName": f"Platform {platform[i]}",
                "destinationName": DESTINATIONS[dest[i]],
                "timeToStation": int(tts[i]),
                "timestamp": iso_z(ts + timedelta(microseconds=int(jitter_us[i]))),
            }
        )
    return out


def snapshot_table(rows: list[dict]) -> pa.Table:
    """API rows → the 6-field bronze projection (stopId from naptanId)."""
    return pa.table(
        {
            "stopId": [r["naptanId"] for r in rows],
            "lineId": [r["lineId"] for r in rows],
            "platformName": [r["platformName"] for r in rows],
            "destinationName": [r["destinationName"] for r in rows],
            "timeToStation": [r["timeToStation"] for r in rows],
            "timestamp": [r["timestamp"] for r in rows],
        },
        schema=BRONZE_SCHEMA,
    )


def snapshot_time(index: int) -> datetime:
    return SERVICE_START + timedelta(seconds=SNAPSHOT_EVERY_S * index)


def snapshot_path(raw_dir: str, ts: datetime) -> str:
    return os.path.join(
        raw_dir,
        f"date={ts.date().isoformat()}",
        f"arrivals_{ts.strftime('%Y%m%d_%H%M%S')}.parquet",
    )


def write_bronze(
    raw_dir: str, seed: int, n_files: int, stops_per_line: int, rows: int, first: int = 0
) -> int:
    """Write snapshots ``first .. first+n_files-1``; returns rows written.

    File modification times are set to the snapshot times, so a file
    stream source (which orders new files by modification time) sees
    them in event-time order, exactly like a live ingest would.
    """
    total = 0
    for i in range(first, first + n_files):
        ts = snapshot_time(i)
        path = snapshot_path(raw_dir, ts)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        table = snapshot_table(snapshot_rows(seed, i, ts, stops_per_line, rows))
        pq.write_table(table, path)
        epoch = ts.timestamp()
        os.utime(path, (epoch, epoch))
        total += table.num_rows
    return total


# --------------------------------------------------------------------------
# test corpus (query_mix)
# --------------------------------------------------------------------------

_WORDS = (
    "a the key agg row scan slow fast table value part hash merge batch "
    "spark line sort window column data join small customer query order "
    "big stream group filter vector"
).split()
_PART_ADJ = ("small", "red", "blue", "hot", "green", "large", "tiny", "old")
_PART_NOUN = ("ring", "widget", "bolt", "gear", "gizmo", "spring", "valve")
_P_TYPES = ("ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO")
_SEGMENTS = ("MACHINERY", "AUTOMOBILE", "FURNITURE", "HOUSEHOLD", "BUILDING")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_EVENT_TYPES = ("click", "signup", "error", "view", "purchase")
_LANGS = ("en", "de", "es", "fr", "zh")
_REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")


def _days(rng, lo: str, hi: str, n: int) -> np.ndarray:
    a = np.datetime64(lo, "D")
    b = np.datetime64(hi, "D")
    return (a + rng.integers(0, int((b - a).astype(int)) + 1, n)).astype("datetime64[us]")


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def _documents(rng, n: int) -> list[str]:
    """Random-word documents with planted exact, prefix and near
    duplicates, so the dedup/containment/similarity operators find
    pairs to verify."""
    docs: list[str] = []
    for i in range(n):
        kind = rng.random()
        if i > 10 and kind < 0.08:
            docs.append(docs[int(rng.integers(0, i))])
        elif i > 10 and kind < 0.16:
            words = docs[int(rng.integers(0, i))].split(" ")
            docs.append(" ".join(words[: max(8, len(words) * 2 // 3)]))
        elif i > 10 and kind < 0.24:
            words = docs[int(rng.integers(0, i))].split(" ")
            for _ in range(3):
                words[int(rng.integers(0, len(words)))] = _WORDS[int(rng.integers(0, len(_WORDS)))]
            docs.append(" ".join(words))
        else:
            k = int(rng.integers(10, 100))
            docs.append(" ".join(_WORDS[j] for j in rng.integers(0, len(_WORDS), k)))
    return docs


def write_corpus(out_dir: str, seed: int, scale: float) -> dict[str, int]:
    """Write the ten corpus tables at ``scale`` (1.0 ≈ TPC-H sf1 row
    counts for the star schema). Returns rows per table."""
    os.makedirs(out_dir, exist_ok=True)
    rng = rng_for(seed, 2)
    n_cust = max(50, int(150_000 * scale))
    n_supp = max(10, int(10_000 * scale))
    n_part = max(50, int(200_000 * scale))
    n_ord = max(100, int(1_500_000 * scale))
    n_line = 4 * n_ord
    n_ev = max(100, int(1_000_000 * scale))
    n_doc = max(50, int(50_000 * scale))
    n_emb = max(50, int(50_000 * scale))
    n_users = max(10, n_cust // 10)

    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": list(_REGIONS),
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    _write(out_dir, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": [_SEGMENTS[j] for j in rng.integers(0, 5, n_cust)],
    })
    _write(out_dir, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
    })
    _write(out_dir, "part", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [
            f"{_PART_ADJ[a]} {_PART_NOUN[b]}"
            for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 7, n_part))
        ],
        "p_brand": [f"Brand#{j}" for j in rng.integers(1, 26, n_part)],
        "p_type": [_P_TYPES[j] for j in rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2),
    })
    _write(out_dir, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": [("P", "O", "F")[j] for j in rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_ord), 2),
        "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n_ord),
        "o_orderpriority": [_PRIORITIES[j] for j in rng.integers(0, 5, n_ord)],
    })
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    _write(out_dir, "lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": [("A", "N", "R")[j] for j in rng.integers(0, 3, n_line)],
        "l_linestatus": [("F", "O")[j] for j in rng.integers(0, 2, n_line)],
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n_line),
    })
    span_us = 30 * 86_400 * 1_000_000
    ts = np.sort(rng.integers(0, span_us, n_ev)) + np.datetime64("2024-01-01", "us").astype(np.int64)
    _write(out_dir, "events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": rng.integers(0, n_users, n_ev).astype(np.int64),
        "event_type": [_EVENT_TYPES[j] for j in rng.integers(0, 5, n_ev)],
        "value": np.round(rng.uniform(0.01, 490.0, n_ev), 2),
        "props": [f'{{"k": {j}}}' for j in rng.integers(0, 100, n_ev)],
    })
    docs = _documents(rng, n_doc)
    lang_p = np.array([0.5, 0.15, 0.12, 0.12, 0.11])
    _write(out_dir, "documents", {
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": docs,
        "lang": [_LANGS[j] for j in rng.choice(5, n_doc, p=lang_p)],
        "source": [f"src{j}" for j in rng.integers(0, 20, n_doc)],
        "n_chars": np.array([len(d) for d in docs], dtype=np.int64),
    })
    labels = rng.integers(0, 10, n_emb)
    centers = rng.normal(0.0, 0.1, (10, 64))
    emb = (centers[labels] + rng.normal(0.0, 0.05, (n_emb, 64))).astype(np.float32)
    _write(out_dir, "embeddings", {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": labels.astype(np.int32),
    })
    return {
        "customer": n_cust, "supplier": n_supp, "part": n_part, "orders": n_ord,
        "lineitem": n_line, "events": n_ev, "documents": n_doc, "embeddings": n_emb,
    }


# --------------------------------------------------------------------------
# live generator (stream_headways), run as its own process
# --------------------------------------------------------------------------


def live_main(argv: list[str]) -> int:
    """Open-loop generator: snapshot ``first + k`` is due at
    ``t0 + k * interval`` whatever the system under test is doing. Each
    file is written under a hidden name (which the file source ignores)
    and renamed into place, and every event in it is stamped with its
    due time, so latency counts any wait a stall imposes. Writes
    ``{"late_s": [...]}`` (rename time minus due time per file) to
    ``--out`` when done.
    """
    import argparse

    ap = argparse.ArgumentParser(prog="gen.py live")
    ap.add_argument("--raw", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--first", type=int, required=True)
    ap.add_argument("--count", type=int, required=True)
    ap.add_argument("--interval", type=float, required=True)
    ap.add_argument("--t0", type=float, required=True)
    ap.add_argument("--rows", type=int, required=True)
    ap.add_argument("--stops", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args(argv)
    late = []
    for k in range(a.count):
        due = a.t0 + k * a.interval
        wait = due - time.time()
        if wait > 0:
            time.sleep(wait)
        ts = datetime.fromtimestamp(due, timezone.utc)
        rows = snapshot_rows(a.seed, a.first + k, ts, a.stops, a.rows, jitter=False)
        final = os.path.join(
            a.raw, f"date={ts.date().isoformat()}", f"arrivals_{ts.strftime('%Y%m%d_%H%M%S_%f')}.parquet"
        )
        hidden = os.path.join(os.path.dirname(final), "." + os.path.basename(final))
        os.makedirs(os.path.dirname(final), exist_ok=True)
        pq.write_table(snapshot_table(rows), hidden)
        os.rename(hidden, final)
        late.append(time.time() - due)
    with open(a.out, "w") as fh:
        json.dump({"late_s": late}, fh)
    return 0


if __name__ == "__main__":
    if sys.argv[1:2] != ["live"]:
        sys.exit("usage: python3 perfbench/gen.py live --raw DIR ...")
    sys.exit(live_main(sys.argv[2:]))
