"""Lineage extraction: per-batch metrics live in the table's own commit log
(written atomically with the data — no second table to keep consistent),
and this module exposes them as a DataFrame for monitoring queries.

Reference analogue: src/monitoring/metrics.py:77-195 (per-job records_count,
duration, records_per_second) and the extraction_watermarks audit columns.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from ..lake import LakeTable

LINEAGE_SCHEMA = T.StructType([
    T.StructField("version", T.LongType()),
    T.StructField("action", T.StringType()),
    T.StructField("batch_id", T.LongType()),
    T.StructField("keys", T.LongType()),
    T.StructField("upserts", T.LongType()),
    T.StructField("deletes", T.LongType()),
    T.StructField("buckets_touched", T.LongType()),
    T.StructField("skew_factor", T.DoubleType()),
    T.StructField("events_per_sec", T.DoubleType()),
    T.StructField("txn_app", T.StringType()),
    T.StructField("commit_ts_ms", T.LongType()),
])


def lineage_df(spark: SparkSession, table: LakeTable) -> DataFrame:
    rows = []
    for h in table.history():
        p = h.get("properties", {})
        lin = p.get("lineage", {})
        rows.append((
            h["version"], h["action"],
            lin.get("batch_id"), lin.get("keys"), lin.get("upserts"),
            lin.get("deletes"), lin.get("buckets_touched"),
            float(lin["skew_factor"]) if "skew_factor" in lin else None,
            float(lin["events_per_sec"]) if "events_per_sec" in lin else None,
            p.get("txn_app"), h.get("commit_ts_ms"),
        ))
    return spark.createDataFrame(rows, LINEAGE_SCHEMA)
