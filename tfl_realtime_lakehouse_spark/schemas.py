"""Explicit schemas — the engine's schema-on-read contracts.

The reference infers bronze schema from Python values (PyArrow
``Table.from_pylist``, reference ``tfl_ingest_dag.py:70-79``) and then
re-types everything at the staging boundary with casts
(``stg_arrivals.sql:18-25``). Here both layers are pinned explicitly so
malformed input degrades to NULL (try_cast semantics) instead of
corrupting types downstream.
"""

from __future__ import annotations

from pyspark.sql import types as T

# Bronze: one row per (vehicle, stop, snapshot) arrival prediction.
# Field set mirrors the reference ingest projection (6 API fields,
# tfl_ingest_dag.py:71-78); `timestamp` stays a raw string until the
# staging cast so malformed values survive to the try_cast boundary.
ARRIVALS_RAW_SCHEMA = T.StructType(
    [
        T.StructField("stopId", T.StringType()),
        T.StructField("lineId", T.StringType()),
        T.StructField("platformName", T.StringType()),
        T.StructField("destinationName", T.StringType()),
        T.StructField("timeToStation", T.LongType()),
        T.StructField("timestamp", T.StringType()),
    ]
)

# Bronze as scanned: the raw fields plus the ``date=YYYY-MM-DD`` Hive
# partition column. Declaring it skips footer schema inference on the
# batch scan and is required by the streaming file source.
BRONZE_SCHEMA = T.StructType(
    ARRIVALS_RAW_SCHEMA.fields + [T.StructField("date", T.DateType())]
)

# Silver: the staging contract (stg_arrivals.sql:18-25 + schema.yml:4-15).
STG_ARRIVALS_SCHEMA = T.StructType(
    [
        T.StructField("line_id", T.StringType()),
        T.StructField("stop_id", T.StringType()),
        T.StructField("platform_name", T.StringType()),
        T.StructField("destination_name", T.StringType()),
        T.StructField("time_to_station_s", T.IntegerType()),
        T.StructField("event_ts", T.TimestampType()),
        T.StructField("ingested_at", T.TimestampType()),
    ]
)

# Gold: fct_headways grain = (line_id, stop_id, hour)
# (fct_headways.sql:18-24 + schema.yml:17-37).
FCT_HEADWAYS_SCHEMA = T.StructType(
    [
        T.StructField("line_id", T.StringType()),
        T.StructField("stop_id", T.StringType()),
        T.StructField("hour", T.TimestampType()),
        T.StructField("avg_headway_s", T.DoubleType()),
        T.StructField("p50_headway_s", T.DoubleType()),
        T.StructField("p90_headway_s", T.DoubleType()),
    ]
)

# Wide 10-field CLI-variant row (tfl_align.py:160-175) incl. raw JSON.
ALIGNED_ARRIVALS_SCHEMA = T.StructType(
    [
        T.StructField("snapshot_ts", T.StringType()),
        T.StructField("line_id", T.StringType()),
        T.StructField("stop_id", T.StringType()),
        T.StructField("station_name", T.StringType()),
        T.StructField("platform_name", T.StringType()),
        T.StructField("destination_name", T.StringType()),
        T.StructField("expected_arrival", T.StringType()),
        T.StructField("time_to_station_s", T.LongType()),
        T.StructField("vehicle_id", T.StringType()),
        T.StructField("raw", T.StringType()),
    ]
)

# Driver corpus tables (TESTDATA.md / FIXTURES.md §4) — names only; types
# come from parquet footers. Kept for validation + docs.
CORPUS_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)
