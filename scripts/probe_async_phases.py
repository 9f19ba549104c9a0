#!/usr/bin/env python
"""Phase audit for the async-commit serial floor (VERDICT r4 'Next round' #5).

Measures, at the production operating point (standalone cluster, 16 cores,
24M-event triggers, raw mode + prefilter + adaptive L0, campaign-style
compaction-off), what fraction of each STEADY trigger's wall time is NOT the
executor-parallel write job — i.e. the driver-serial residue the caller still
pays per batch once commit finalization (footer harvest + lineage + commit
fsync) is pipelined onto the background finalizer thread
(``CdcStreamRunner(async_commit=True)``, the raw-path default).

Unit of account: the streaming engine's own ``triggerExecution`` duration per
batch (the wall the cluster actually idles through between write jobs), not
``merge_cdc_batch`` duration — so the audit counts the WHOLE wrapper
(offset log, walCommit, plan, prefilter build, fence check, joins), and the
async tail of batch N lands inside trigger N+1's window only to the extent
it genuinely fails to hide under the write job.

Each rep drains the full staged feed (4 x 24M-event triggers) into a fresh
table and sha-verifies the final state against the batch oracle before it
may report. First trigger per rep is warm-up (excluded, same discipline as
bench.py / the campaigns).

Usage: python scripts/probe_async_phases.py [reps]   (default 3)
Env: BENCH_EVENTS/BENCH_EPOCHS/BENCH_FILES_PER_EPOCH select the staged feed
     (default 96000000/4/32 — the twin-campaign feed); ASYNC=0 audits the
     synchronous path for comparison.
"""
from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "scripts"))

os.environ.setdefault("BENCH_EVENTS", "96000000")
os.environ.setdefault("BENCH_EPOCHS", "4")
os.environ.setdefault("BENCH_FILES_PER_EPOCH", "32")

import bench_elastic_scaling as ev2  # noqa: E402

WORK = "/tmp/async_phase_audit"
ORACLE = os.path.join(ev2.FEED_DIR, "_expected_state_all")


def main() -> None:
    reps = int(sys.argv[1]) if len(sys.argv) > 1 else 3
    use_async = os.environ.get("ASYNC", "1") != "0"
    os.sched_setaffinity(0, set(ev2.DRIVER_CORES))

    from pyspark.sql import types as T
    from etl_api_bigquery_spark.cdc import expected_final_state
    from etl_api_bigquery_spark.cdc.oracle import assert_replay_match
    from etl_api_bigquery_spark.lake import LakeTable
    from etl_api_bigquery_spark.session import get_spark
    from etl_api_bigquery_spark.streaming import CdcStreamRunner

    procs: list[subprocess.Popen] = []
    results: list[dict] = []
    try:
        procs.append(ev2.start_master())
        for i in range(4):
            procs.append(ev2.start_worker(i))
        time.sleep(6)
        spark = get_spark(app_name="async-phase-audit",
                          master=ev2.MASTER_URL,
                          shuffle_partitions=4 * ev2.EXEC_CORES,
                          extra_conf={"spark.cores.max":
                                      str(4 * ev2.EXEC_CORES),
                                      "spark.executor.cores":
                                      str(ev2.EXEC_CORES),
                                      "spark.executor.memory": "8g",
                                      **ev2.APPCONF,
                                      "spark.sql.adaptive.enabled": "false"})
        spark.sparkContext.setLogLevel("ERROR")
        ev2.wait_execs(spark, 4)
        ev2.warmup_merge(spark)
        ev2.stage_inputs(spark)
        if not os.path.exists(ORACLE):
            (expected_final_state(spark.read.parquet(ev2.FEED_DIR))
             .write.mode("overwrite").parquet(ORACLE))
        ev2.warm_feed()

        schema = T.StructType([T.StructField(c, T.StringType()) for c in
                               ("repo", "path", "commit", "lang", "content")])
        for rep in range(reps):
            shutil.rmtree(WORK, ignore_errors=True)
            table = LakeTable.create(spark, f"{WORK}/silver", schema,
                                     key_cols=["repo", "path"],
                                     num_buckets=ev2.NUM_BUCKETS)
            runner = CdcStreamRunner(
                spark, table, ev2.FEED_DIR, f"{WORK}/ckpt", txn_app="audit",
                mode="raw", prefilter=True, l0_groups="auto",
                auto_compact_deltas=10 ** 9, async_commit=use_async,
                max_files_per_trigger=ev2.FILES_PER_EPOCH)
            runner.run_available_now(timeout_sec=1800)
            match = assert_replay_match(table.read(),
                                        spark.read.parquet(ORACLE))
            trig = {p.get("batchId"): (p.get("durationMs") or {})
                    for p in runner.progress}
            rows = []
            merged = [m for m in runner.metrics if not m.skipped_fence]
            for m in merged[1:]:                      # steady triggers only
                dms = trig.get(m.batch_id, {})
                wall = dms.get("triggerExecution", 0) / 1000.0
                ph = dict(m.extra.get("phases") or {})
                wj = ph.get("write_job_s")
                if not wall or wj is None:
                    continue
                # engine-attributable caller-path serial: plan build
                # (harvest/lineage/fsync/compact ride the finalizer
                # thread under async); the rest of outside_s is the
                # streaming WRAPPER (Spark offset/commit metadata logs,
                # file-source listing) — not the engine's commit path
                eng = round(ph.get("plan_build_s", 0), 4)
                rows.append({"batch": m.batch_id,
                             "trigger_wall_s": round(wall, 3),
                             "write_job_s": wj,
                             "outside_s": round(wall - wj, 3),
                             "outside_frac": round((wall - wj) / wall, 4),
                             "engine_serial_s": eng,
                             "engine_serial_frac": round(eng / wall, 4),
                             "wrapper_ms": {k: dms.get(k) for k in
                                            ("latestOffset", "getBatch",
                                             "walCommit", "commitOffsets",
                                             "queryPlanning")}})
            rec = {"rep": rep, "async_commit": use_async,
                   "rows_matched": match["total"], "steady": rows}
            results.append(rec)
            print(json.dumps(rec), flush=True)
    finally:
        for p in reversed(procs):
            ev2.kill(p)
        shutil.rmtree(WORK, ignore_errors=True)
    fracs = [r["outside_frac"] for rec in results for r in rec["steady"]]
    efr = [r["engine_serial_frac"] for rec in results for r in rec["steady"]]
    if fracs:
        import statistics
        print(json.dumps({"summary_outside_frac_median":
                          round(statistics.median(fracs), 4),
                          "summary_engine_serial_frac_median":
                          round(statistics.median(efr), 4),
                          "n_steady_triggers": len(fracs),
                          "async_commit": use_async}), flush=True)


if __name__ == "__main__":
    main()
