#!/usr/bin/env python
"""spark-submit entry point for the CDC ingest engine.

Deployment shape per BASELINE.json: ``spark-submit --py-files etl.zip
jobs/ingest.py --feed-dir ... --table-dir ... --checkpoint ...`` on a
multi-executor cluster; in this sandbox it runs on local[N]. The job is
restart-safe: the checkpoint resumes the source and the commit fence drops
replayed batches, so rerunning after any crash converges to the same state.
A restart first re-applies any batch the checkpoint committed but an async
table commit lost, whatever ``--mode`` and ``--async-commit`` are set to this
time.

Example (sandbox):
    python jobs/ingest.py --generate 100000 --table-dir /tmp/ingest/t \\
        --feed-dir /tmp/ingest/feed --checkpoint /tmp/ingest/ckpt --mode raw
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--feed-dir", required=True)
    ap.add_argument("--table-dir", required=True)
    ap.add_argument("--checkpoint", required=True)
    ap.add_argument("--mode", choices=["cow", "raw"], default="raw",
                    help="fold preset (CdcStreamRunner.mode): raw folds a "
                         "bucket at read amplification 16, in the "
                         "background; cow writes bucket-pure L0 and folds "
                         "every touched bucket synchronously, every batch")
    ap.add_argument("--num-buckets", type=int, default=64)
    ap.add_argument("--prefilter", choices=["on", "off"], default="off",
                    help="LWW winner prefilter: drop each key's losing "
                         "events before the write (default off, so L0 keeps "
                         "the full event history)")
    ap.add_argument("--stateful-filter", action="store_true",
                    help="stateful LWW staleness pre-filter "
                         "(applyInPandasWithState) before the MERGE sink")
    ap.add_argument("--max-files-per-trigger", type=int, default=1)
    ap.add_argument("--async-commit", action=argparse.BooleanOptionalAction,
                    default=True,
                    help="pipeline each batch's commit finalization with the "
                         "next trigger (raw preset; see CdcStreamRunner."
                         "async_commit; default on). Any fence-vs-checkpoint "
                         "gap a crash in an async window left behind is "
                         "repaired on startup")
    ap.add_argument("--txn-app", default="cdc-ingest")
    ap.add_argument("--generate", type=int, default=0,
                    help="generate N synthetic events into --feed-dir first")
    ap.add_argument("--verify", action="store_true",
                    help="assert sha256 replay match after draining")
    args = ap.parse_args()

    from pyspark.sql import types as T

    from etl_api_bigquery_spark.cdc import change_feed
    from etl_api_bigquery_spark.cdc.generator import write_feed_as_epoch_files
    from etl_api_bigquery_spark.lake import LakeTable
    from etl_api_bigquery_spark.session import get_spark
    from etl_api_bigquery_spark.streaming import CdcStreamRunner

    spark = get_spark(app_name="cdc-ingest")
    spark.sparkContext.setLogLevel("WARN")

    if args.generate:
        feed = change_feed(spark, n_events=args.generate,
                           n_keys=max(100, args.generate // 10))
        write_feed_as_epoch_files(feed, args.feed_dir)

    if not os.path.exists(os.path.join(args.table_dir, "_log")):
        schema = T.StructType([T.StructField(c, T.StringType()) for c in
                               ("repo", "path", "commit", "lang", "content")])
        table = LakeTable.create(spark, args.table_dir, schema,
                                 key_cols=["repo", "path"],
                                 num_buckets=args.num_buckets)
    else:
        table = LakeTable.load(spark, args.table_dir)

    runner = CdcStreamRunner(
        spark, table, args.feed_dir, args.checkpoint, txn_app=args.txn_app,
        max_files_per_trigger=args.max_files_per_trigger, mode=args.mode,
        prefilter=args.prefilter == "on",
        stateful_staleness_filter=args.stateful_filter,
        async_commit=args.async_commit)
    t0 = time.monotonic()
    metrics = runner.run_available_now()
    dt = time.monotonic() - t0
    applied = [m for m in metrics if not m.skipped_fence]
    events = sum(m.keys for m in applied)

    result = {"batches": len(applied), "keys_applied": events,
              "duration_sec": round(dt, 2), "table_version": table.current_version(),
              "rows": table.read().count()}
    if args.verify:
        from etl_api_bigquery_spark.cdc import expected_final_state
        from etl_api_bigquery_spark.cdc.oracle import assert_replay_match
        feed_df = spark.read.parquet(args.feed_dir)
        result["replay_match"] = assert_replay_match(
            table.read(), expected_final_state(feed_df))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
