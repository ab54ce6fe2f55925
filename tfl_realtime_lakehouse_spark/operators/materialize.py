"""One materialization helper for iterative operators.

A lineage cut (``localCheckpoint``) runs its plan eagerly anyway, so the
row count of the materialized relation can ride on that job through an
``Observation`` instead of costing a separate ``count()`` job. The
relation a checkpoint leaves behind carries no size statistics, so
callers that join it use the returned row count to decide a broadcast.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

# Lineage-cut blocks are stored SERIALIZED with disk spill: the default
# deserialized on-heap level holds ~10x the on-wire size, which is what
# OOMed an sf5 sweep's ~30M-row edge checkpoints on an 8 GiB local JVM.
# Storage level changes only the cached representation, never the values.
CKPT_LEVEL = StorageLevel.MEMORY_AND_DISK  # serialized in PySpark


def materialize(df: DataFrame) -> tuple[DataFrame, int]:
    """Eagerly ``localCheckpoint`` ``df``; returns the cut relation and
    its row count, observed on the checkpoint's own job."""
    obs = Observation()
    cut = df.observe(obs, F.count(F.lit(1)).alias("rows")).localCheckpoint(
        storageLevel=CKPT_LEVEL
    )
    return cut, obs.get["rows"]


def fits_broadcast(spark: SparkSession, rows: int, row_bytes: int) -> bool:
    """True when ``rows`` rows of ``row_bytes`` fit the session's
    ``autoBroadcastJoinThreshold`` (a negative threshold disables it)."""
    limit = spark._jsparkSession.sessionState().conf().autoBroadcastJoinThreshold()
    return rows * row_bytes <= limit
