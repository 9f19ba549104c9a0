#!/usr/bin/env python
"""Phase-level probe: where does per-batch time go, and which phases scale?

Runs the MERGE-apply core DIRECTLY (no Structured Streaming wrapper) on
pre-staged epoch files, timing per batch: plan-build (driver, Catalyst
analysis) vs job execution, plus the streaming wrapper's extra cost measured
separately. Compares two parallelism levels in one process is impossible
(one JVM), so run this twice with SPARK_GRAFT_CPUS=4/16.
"""
from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402
from pyspark.sql import types as T  # noqa: E402

from etl_api_bigquery_spark.cdc import change_feed  # noqa: E402
from etl_api_bigquery_spark.cdc.generator import write_feed_as_epoch_files  # noqa: E402
from etl_api_bigquery_spark.lake import LakeTable  # noqa: E402
from etl_api_bigquery_spark.lake.merge import merge_cdc_batch  # noqa: E402
from etl_api_bigquery_spark.session import get_spark  # noqa: E402

CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "16"))
N_EVENTS = int(os.environ.get("BENCH_EVENTS", "8000000"))
N_EPOCHS = int(os.environ.get("BENCH_EPOCHS", "4"))
FILES = int(os.environ.get("BENCH_FILES_PER_EPOCH", "16"))


def main() -> None:
    spark = get_spark(app_name="probe", master=f"local[{CPUS}]",
                      shuffle_partitions=CPUS)
    spark.sparkContext.setLogLevel("ERROR")
    n_keys = max(5_000, N_EVENTS // 10)
    feed_dir = f"/tmp/bench_feed_{N_EVENTS}_{n_keys}_{N_EPOCHS}_{FILES}"
    if not os.path.exists(os.path.join(feed_dir, "_STAGED")):
        feed = change_feed(spark, n_events=N_EVENTS, n_keys=n_keys,
                           n_epochs=N_EPOCHS)
        write_feed_as_epoch_files(feed, feed_dir, FILES)
        open(os.path.join(feed_dir, "_STAGED"), "w").close()

    loc = f"/tmp/probe_tbl_{CPUS}"
    shutil.rmtree(loc, ignore_errors=True)
    schema = T.StructType([T.StructField(c, T.StringType()) for c in
                           ("repo", "path", "commit", "lang", "content")])
    table = LakeTable.create(spark, loc, schema, key_cols=["repo", "path"],
                             num_buckets=64)

    per_batch = []
    files = sorted(os.listdir(feed_dir))
    epochs = sorted({f.split("_p")[0] for f in files if f.startswith("epoch")})
    for i, ep in enumerate(epochs):
        t0 = time.monotonic()
        batch = spark.read.parquet(os.path.join(feed_dir, f"{ep}_p*.parquet"))
        t_read = time.monotonic() - t0
        t0 = time.monotonic()
        m = merge_cdc_batch(table, batch, batch_id=i, txn_app="probe",
                            mode=os.environ.get("BENCH_MODE", "raw"),
                            auto_compact_deltas=10**9)
        t_merge = time.monotonic() - t0
        per_batch.append({"epoch": ep, "read_plan_s": round(t_read, 3),
                          "merge_s": round(t_merge, 3), "keys": m.keys})
        print(json.dumps(per_batch[-1]), file=sys.stderr)

    merges = [b["merge_s"] for b in per_batch][1:]
    batch_events = N_EVENTS / N_EPOCHS
    print(json.dumps({
        "cpus": CPUS, "batch_events": batch_events,
        "min_merge_s": min(merges), "all": per_batch,
        "steady_ev_s": round(batch_events / min(merges), 1),
    }))
    shutil.rmtree(loc, ignore_errors=True)


if __name__ == "__main__":
    main()
