#!/usr/bin/env python
"""One sha-verified CDC replay of the staged feed as a single standalone-
cluster app — the unit both levels of bench_coord_scaling.py are built from.

Coordinated level:   ONE process, COORD_CORES_MAX=16 (one app, 4 executors).
Uncoordinated level: FOUR of these spawned concurrently, COORD_CORES_MAX=4
                     each (4 independent 1-executor apps), synchronized by a
                     file barrier so their timed windows overlap.

Prints ONE JSON line: {"steady_events_per_sec": ..., "batch_secs": [...],
"wall_sec": ..., "rows_matched": ...}. The replay is sha256-verified against
the staged batch oracle (untimed) before it may report.

Env: COORD_CORES_MAX (4|16), COORD_WORK (private scratch dir), WAIT_READY /
WAIT_GO (optional barrier files: touch READY when warmed up, then block
until GO exists), BENCH_EVENTS/BENCH_EPOCHS/BENCH_FILES_PER_EPOCH (feed
coordinates — must already be staged, including the _expected_state oracle;
bench_elastic_scaling.py or a prior run stages them).
"""
from __future__ import annotations

import json
import os
import shutil
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

MASTER_URL = os.environ.get("SPARK_MASTER", "spark://127.0.0.1:7077")
CORES_MAX = int(os.environ.get("COORD_CORES_MAX", "16"))
EXEC_CORES = int(os.environ.get("COORD_EXEC_CORES", "4"))
EXEC_MEM = os.environ.get("COORD_EXEC_MEM", "8g")
WORK = os.environ.get("COORD_WORK", f"/tmp/solo_replay_{os.getpid()}")
N_EVENTS = int(os.environ.get("BENCH_EVENTS", "24000000"))
N_EPOCHS = int(os.environ.get("BENCH_EPOCHS", "3"))
FILES_PER_EPOCH = int(os.environ.get("BENCH_FILES_PER_EPOCH", "32"))
N_KEYS = N_EVENTS // 10
FEED_DIR = f"/tmp/bench_feed_{N_EVENTS}_{N_KEYS}_{N_EPOCHS}_{FILES_PER_EPOCH}"
EXPECTED_DIR = os.path.join(FEED_DIR, "_expected_state")
NUM_BUCKETS = 32
BATCH_EVENTS = N_EVENTS // N_EPOCHS


def main() -> None:
    from pyspark.sql import types as T

    from etl_api_bigquery_spark.cdc import change_feed
    from etl_api_bigquery_spark.cdc.oracle import assert_replay_match
    from etl_api_bigquery_spark.lake import LakeTable
    from etl_api_bigquery_spark.lake.merge import merge_cdc_batch
    from etl_api_bigquery_spark.session import get_spark
    from etl_api_bigquery_spark.streaming import CdcStreamRunner

    if not os.path.exists(EXPECTED_DIR):
        raise RuntimeError(f"staged feed/oracle missing under {FEED_DIR}")
    spark = get_spark(app_name=f"solo-replay-{CORES_MAX}", master=MASTER_URL,
                      shuffle_partitions=CORES_MAX,
                      extra_conf={"spark.cores.max": str(CORES_MAX),
                                  "spark.executor.cores": str(EXEC_CORES),
                                  "spark.executor.memory": EXEC_MEM})
    spark.sparkContext.setLogLevel("ERROR")
    want_execs = CORES_MAX // EXEC_CORES
    t0 = time.monotonic()
    while (spark.sparkContext._jsc.sc().getExecutorMemoryStatus().size() - 1
           ) != want_execs:
        if time.monotonic() - t0 > 90:
            raise RuntimeError(f"did not get {want_execs} executors")
        time.sleep(0.5)

    schema = T.StructType([T.StructField(c, T.StringType()) for c in
                           ("repo", "path", "commit", "lang", "content")])
    shutil.rmtree(WORK, ignore_errors=True)
    # untimed JIT/codegen warmup, same discipline as bench.py
    wtab = LakeTable.create(spark, f"{WORK}/warmup", schema,
                            key_cols=["repo", "path"],
                            num_buckets=NUM_BUCKETS)
    merge_cdc_batch(wtab, change_feed(spark, n_events=200_000, n_keys=20_000,
                                      n_epochs=1),
                    batch_id=0, txn_app="warmup", mode="raw")

    # barrier: signal warmed-up readiness, then wait for the coordinated GO
    ready, go = os.environ.get("WAIT_READY"), os.environ.get("WAIT_GO")
    if ready:
        open(ready, "w").close()
    if go:
        t0 = time.monotonic()
        while not os.path.exists(go):
            if time.monotonic() - t0 > 300:
                raise RuntimeError("GO barrier never released")
            time.sleep(0.2)

    if N_EPOCHS < 2:
        raise SystemExit(
            "solo_replay needs BENCH_EPOCHS >= 2: the steady metric excludes "
            "the first (warm-up) trigger, so a 1-epoch replay has no steady "
            "batch to score — failing BEFORE the expensive replay runs")
    table = LakeTable.create(spark, f"{WORK}/silver", schema,
                             key_cols=["repo", "path"],
                             num_buckets=NUM_BUCKETS)
    runner = CdcStreamRunner(spark, table, FEED_DIR, f"{WORK}/ckpt",
                             txn_app="bench", mode="raw",
                             auto_compact_deltas=max(2, N_EPOCHS - 1),
                             max_files_per_trigger=FILES_PER_EPOCH)
    t0 = time.monotonic()
    runner.run_available_now(timeout_sec=1800)
    wall = time.monotonic() - t0
    batch_secs = [m.duration_sec for m in runner.metrics
                  if not m.skipped_fence]
    if len(batch_secs) < 2:
        raise SystemExit(
            f"only {len(batch_secs)} merge batch(es) ran — cannot score a "
            f"steady batch (expected one trigger per epoch; check "
            f"max_files_per_trigger vs FILES_PER_EPOCH)")
    # per-batch INPUT events from the stream's own progress (numInputRows
    # keyed by batchId), not the epoch==trigger assumption — robust if the
    # file source ever splits or merges triggers
    rows_by_id = {p.get("batchId"): p.get("numInputRows") or 0
                  for p in runner.progress}
    merged = [m for m in runner.metrics if not m.skipped_fence]
    steady = max(
        (rows_by_id.get(m.batch_id, BATCH_EVENTS)) / m.duration_sec
        for m in merged[1:])
    match = assert_replay_match(table.read(),
                                spark.read.parquet(EXPECTED_DIR))
    shutil.rmtree(WORK, ignore_errors=True)
    print(json.dumps({
        "cores_max": CORES_MAX,
        "steady_events_per_sec": round(steady, 1),
        "batch_secs": [round(s, 3) for s in batch_secs],
        "wall_sec": round(wall, 3),
        "rows_matched": match["total"],
    }), flush=True)


if __name__ == "__main__":
    main()
