#!/usr/bin/env python
"""Micro-probe: split one MOR merge batch into plan-build / action / commit
phases, plus a trivial-job scheduling baseline, at SPARK_GRAFT_CPUS threads."""
from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import Observation  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402
from pyspark.sql import types as T  # noqa: E402

from etl_api_bigquery_spark.lake import LakeTable  # noqa: E402
from etl_api_bigquery_spark.lake.merge import lww_dedup  # noqa: E402
from etl_api_bigquery_spark.lake.table import BUCKET_COL, LSN_COL, OP_COL  # noqa: E402
from etl_api_bigquery_spark.session import get_spark  # noqa: E402

CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "16"))
N_EVENTS = int(os.environ.get("BENCH_EVENTS", "8000000"))
N_EPOCHS = int(os.environ.get("BENCH_EPOCHS", "4"))
FILES = int(os.environ.get("BENCH_FILES_PER_EPOCH", "16"))


def main() -> None:
    spark = get_spark(app_name="probe2", master=f"local[{CPUS}]",
                      shuffle_partitions=CPUS)
    spark.sparkContext.setLogLevel("ERROR")
    n_keys = max(5_000, N_EVENTS // 10)
    feed_dir = f"/tmp/bench_feed_{N_EVENTS}_{n_keys}_{N_EPOCHS}_{FILES}"

    loc = f"/tmp/probe2_tbl_{CPUS}"
    shutil.rmtree(loc, ignore_errors=True)
    schema = T.StructType([T.StructField(c, T.StringType()) for c in
                           ("repo", "path", "commit", "lang", "content")])
    table = LakeTable.create(spark, loc, schema, key_cols=["repo", "path"],
                             num_buckets=64)

    # scheduling baseline: an empty-ish 64-task job
    t0 = time.monotonic()
    spark.range(0, 64, 1, 64).count()
    sched = time.monotonic() - t0
    t0 = time.monotonic()
    spark.range(0, 64, 1, 64).count()
    sched2 = time.monotonic() - t0

    out = {"cpus": CPUS, "sched_64task_s": [round(sched, 3), round(sched2, 3)],
           "batches": []}
    for i in range(N_EPOCHS):
        r = {}
        batch = spark.read.parquet(
            os.path.join(feed_dir, f"epoch_{i:05d}_p*.parquet"))
        t0 = time.monotonic()
        evb = batch.withColumn(BUCKET_COL, table.bucket_expr())
        evb = evb.repartition(table.num_buckets, F.col(BUCKET_COL))
        winners = lww_dedup(evb, [BUCKET_COL, "repo", "path"], "lsn", 8)
        obs = Observation()
        observed = winners.observe(obs, F.count(F.lit(1)).alias("keys"))
        snap = table.snapshot()
        delta = observed.select(
            *[F.col(f.name).cast(f.dataType).alias(f.name)
              for f in snap.schema.fields],
            F.col(BUCKET_COL),
            F.col("lsn").cast("long").alias(LSN_COL),
            F.col("op").alias(OP_COL))
        r["plan_build_s"] = round(time.monotonic() - t0, 3)
        # force full analysis separately from execution
        t0 = time.monotonic()
        delta.schema
        r["analyze_s"] = round(time.monotonic() - t0, 3)
        t0 = time.monotonic()
        adds = table._write_data_files(delta, snap.version + 1 + i, snap.schema,
                                       snap.schema_id, kind="delta")
        r["write_job_s"] = round(time.monotonic() - t0, 3)
        t0 = time.monotonic()
        _ = obs.get
        r["obs_get_s"] = round(time.monotonic() - t0, 3)
        r["n_files"] = len(adds)
        out["batches"].append(r)
    print(json.dumps(out))
    shutil.rmtree(loc, ignore_errors=True)


if __name__ == "__main__":
    main()
