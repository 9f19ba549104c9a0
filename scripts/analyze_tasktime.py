#!/usr/bin/env python
"""Task-time decomposition of the MERGE-apply job at one parallelism level.

Runs the batch merge core on staged epoch files with the Spark event log
enabled, then parses the log: total executor task-seconds, GC seconds, and
shuffle bytes per batch. Comparing two affinity-pinned levels separates

* plan-level serialization (task-seconds would NOT be flat across levels if
  some stage had driver data paths or fixed parallelism), from
* substrate contention (task-seconds inflate with core count because the
  pinned cores share one memory subsystem — a real N->4N executor scale-out
  multiplies memory channels and removes this inflation).

Usage: SPARK_GRAFT_CPUS=16 taskset -c 0-15 python scripts/analyze_tasktime.py
"""
from __future__ import annotations

import glob
import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import types as T  # noqa: E402

from etl_api_bigquery_spark.lake import LakeTable  # noqa: E402
from etl_api_bigquery_spark.lake.merge import merge_cdc_batch  # noqa: E402
from etl_api_bigquery_spark.session import get_spark  # noqa: E402

CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "16"))
N_EVENTS = int(os.environ.get("BENCH_EVENTS", "24000000"))
N_EPOCHS = int(os.environ.get("BENCH_EPOCHS", "3"))
FILES = int(os.environ.get("BENCH_FILES_PER_EPOCH", "32"))
EVLOG = f"/tmp/spark-events-{CPUS}"


def main() -> None:
    shutil.rmtree(EVLOG, ignore_errors=True)
    os.makedirs(EVLOG, exist_ok=True)
    spark = get_spark(app_name=f"tasktime-{CPUS}", master=f"local[{CPUS}]",
                      shuffle_partitions=CPUS,
                      extra_conf={"spark.eventLog.enabled": "true",
                                  "spark.eventLog.compress": "false",
                                  "spark.eventLog.rolling.enabled": "false",
                                  "spark.eventLog.dir": f"file:{EVLOG}"})
    spark.sparkContext.setLogLevel("ERROR")
    n_keys = max(5_000, N_EVENTS // 10)
    feed_dir = f"/tmp/bench_feed_{N_EVENTS}_{n_keys}_{N_EPOCHS}_{FILES}"
    if not os.path.exists(os.path.join(feed_dir, "_STAGED")):
        print(json.dumps({"error": f"feed not staged: {feed_dir}"}))
        return

    loc = f"/tmp/tasktime_tbl_{CPUS}"
    shutil.rmtree(loc, ignore_errors=True)
    schema = T.StructType([T.StructField(c, T.StringType()) for c in
                           ("repo", "path", "commit", "lang", "content")])
    table = LakeTable.create(spark, loc, schema, key_cols=["repo", "path"],
                             num_buckets=64)
    walls = []
    steady_from_ms = None
    for i in range(N_EPOCHS):
        batch = spark.read.parquet(
            os.path.join(feed_dir, f"epoch_{i:05d}_p*.parquet"))
        t0 = time.monotonic()
        merge_cdc_batch(table, batch, batch_id=i, txn_app="tt",
                        mode="raw", auto_compact_deltas=10**9)
        walls.append(round(time.monotonic() - t0, 3))
        if i == 0:
            # steady-state boundary: exclude warmup-batch tasks (codegen
            # compilation stalls slots and would distort utilization)
            steady_from_ms = int(time.time() * 1000)
    spark.stop()  # flush the event log

    run_ms = gc_ms = 0
    sh_read = sh_write = 0
    n_tasks = 0
    paths = [p for p in glob.glob(os.path.join(EVLOG, "**", "*"),
                                  recursive=True)
             if os.path.isfile(p) and "appstatus" not in os.path.basename(p)]
    for p in paths:
        with open(p, errors="replace") as fh:
            for line in fh:
                if '"Event":"SparkListenerTaskEnd"' not in line:
                    continue
                ev = json.loads(line)
                fin = (ev.get("Task Info") or {}).get("Finish Time", 0)
                if steady_from_ms and fin and fin <= steady_from_ms:
                    continue
                tm = ev.get("Task Metrics") or {}
                run_ms += tm.get("Executor Run Time", 0)
                gc_ms += tm.get("JVM GC Time", 0)
                sh_read += (tm.get("Shuffle Read Metrics") or {}).get(
                    "Local Bytes Read", 0)
                sh_read += (tm.get("Shuffle Read Metrics") or {}).get(
                    "Remote Bytes Read", 0)
                sh_write += (tm.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0)
                n_tasks += 1
    shutil.rmtree(loc, ignore_errors=True)
    print(json.dumps({
        "cpus": CPUS, "batch_walls_s": walls, "n_tasks": n_tasks,
        "steady_only": True,            # warmup batch excluded from metrics
        "task_seconds_total": round(run_ms / 1000, 1),
        "gc_seconds_total": round(gc_ms / 1000, 1),
        "shuffle_read_mb": round(sh_read / 1e6, 1),
        "shuffle_write_mb": round(sh_write / 1e6, 1),
    }))


if __name__ == "__main__":
    main()
