#!/usr/bin/env python
"""Benchmark harness — prints ONE JSON line.

Headline metric: sustained CDC MERGE-apply throughput (events/sec) — a
deterministic change feed (scaled to the SF) is staged as parquet epoch files
(untimed), then streamed through the full engine (Structured Streaming file
source -> foreachBatch -> LakeTable MERGE with fence + lineage) and timed.
Afterwards the final state is verified against the batch replay oracle
(sha256 match) so a fast-but-wrong run cannot score.

Also times the headline analytical queries from __spark_entry__ at the same
SF (forced with a noop sink so the full plan executes).

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
     SPARK_GRAFT_CPUS   (default 32).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

BENCH_QUERIES = [
    "q1_pricing_summary",
    "broadcast_lookup_join",
    "q3_top_open_orders",
    "lww_latest_event_per_user",
    "gold_customer_ltv",
    "gold_product_sales",
    "token_stats",
    "minhash_lsh_pairs",
    "embedding_near_dup_pairs",
    "embedding_near_dup_lsh",
    "cosine_topk_exact",
    "ann_ivf_topk",
    "cdc_merge_apply",
]


def sf_from_dir(d: str) -> float:
    base = os.path.basename(d.rstrip("/"))
    try:
        return float(base.replace("sf", ""))
    except ValueError:
        return 0.1


def main() -> None:
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    import __spark_entry__ as entrymod
    from etl_api_bigquery_spark.cdc import change_feed, expected_final_state
    from etl_api_bigquery_spark.cdc.generator import write_feed_as_epoch_files
    from etl_api_bigquery_spark.cdc.oracle import assert_replay_match
    from etl_api_bigquery_spark.lake import LakeTable
    from etl_api_bigquery_spark.session import get_spark
    from etl_api_bigquery_spark.streaming import CdcStreamRunner

    sf = sf_from_dir(SF_DIR)
    # SPARK_MASTER=spark://... runs the same bench against a standalone
    # cluster (multi-executor form); default is in-process local[CPUS]
    master = os.environ.get("SPARK_MASTER") or f"local[{CPUS}]"
    spark = get_spark(app_name=f"bench-sf{sf}", master=master,
                      shuffle_partitions=CPUS)
    spark.sparkContext.setLogLevel("ERROR")

    # ---- CDC replay sizing: 40M events/sf-unit => 4M at sf0.1, in few
    # large micro-batches — the compute-dominated regime that represents
    # 10^10-event production, where per-trigger fixed costs amortize away.
    # (BENCH_EVENTS / BENCH_EPOCHS resize the feed.)
    n_events = int(os.environ.get("BENCH_EVENTS", 0)) or max(
        50_000, int(40_000_000 * sf))
    n_keys = max(5_000, n_events // 10)
    n_epochs = int(os.environ.get("BENCH_EPOCHS", "4"))
    work = f"/tmp/bench_cdc_{sf}_{CPUS}"
    shutil.rmtree(work, ignore_errors=True)
    table_dir, ckpt = (f"{work}/silver", f"{work}/ckpt")

    # keep the per-batch scan parallel; overridable so runs at different
    # parallelism levels can share byte-identical staging
    files_per_epoch = int(os.environ.get("BENCH_FILES_PER_EPOCH", 0)) \
        or max(4, CPUS // 2)
    # bucket count = write/compact task granularity (one task per bucket);
    # finer buckets = more waves per stage = less straggler rounding.
    num_buckets = int(os.environ.get("BENCH_NUM_BUCKETS", 0)) \
        or max(32, CPUS * 2)
    # the feed is deterministic in (n_events, n_keys, n_epochs, files) — stage
    # it ONCE and share across runs/parallelism levels: the same input for
    # every run, and no per-run staging wall-clock
    feed_dir = f"/tmp/bench_feed_{n_events}_{n_keys}_{n_epochs}_{files_per_epoch}"
    marker = os.path.join(feed_dir, "_STAGED")
    if not os.path.exists(marker):
        # stage into a private temp dir, then atomically rename into place:
        # two bench processes racing on the same params can never observe a
        # half-staged feed or rmtree each other's work
        tmp_dir = f"{feed_dir}.staging.{os.getpid()}"
        shutil.rmtree(tmp_dir, ignore_errors=True)
        feed = change_feed(spark, n_events=n_events, n_keys=n_keys,
                           n_epochs=n_epochs)
        write_feed_as_epoch_files(feed, tmp_dir, files_per_epoch)  # untimed
        open(os.path.join(tmp_dir, "_STAGED"), "w").close()
        try:
            os.rename(tmp_dir, feed_dir)
        except OSError:  # another process won the race — use its copy
            shutil.rmtree(tmp_dir, ignore_errors=True)

    silver_schema = T.StructType([
        T.StructField(c, T.StringType()) for c in
        ("repo", "path", "commit", "lang", "content")])

    # ---- JVM/codegen warmup (untimed): run one tiny merge on a scratch
    # table so whole-stage-codegen compilation and class loading are not
    # charged to the first timed batch — production measures steady state
    from etl_api_bigquery_spark.lake.merge import merge_cdc_batch
    wtab = LakeTable.create(spark, f"{work}/warmup", silver_schema,
                            key_cols=["repo", "path"],
                            num_buckets=num_buckets)
    merge_cdc_batch(wtab, change_feed(spark, n_events=200_000, n_keys=20_000,
                                      n_epochs=1),
                    batch_id=0, txn_app="warmup", auto_compact_deltas=16,
                    l0_groups=1)

    # ---- ingest config: CdcStreamRunner's shipped defaults (raw append,
    # no prefilter, l0_groups="auto", async commit and compaction); only the
    # fold threshold and the trigger size follow the feed shape.
    # Best-of-N replay reps: the host is a shared VM with 1.4-3x
    # minute-to-minute throughput swings, so a single-shot wall time is a
    # noise sample, not a measurement. Each rep replays the SAME staged feed
    # into a fresh table+checkpoint and is sha256-verified before it may
    # score; the reported numbers are the best rep's. BENCH_REPLAY_REPS=1
    # gives one sample per process for callers that interleave runs.
    replay_reps = int(os.environ.get("BENCH_REPLAY_REPS", "2"))
    best = None
    for rep in range(replay_reps):
        rep_dir, rep_ckpt = f"{table_dir}_rep{rep}", f"{ckpt}_rep{rep}"
        table = LakeTable.create(spark, rep_dir, silver_schema,
                                 key_cols=["repo", "path"],
                                 num_buckets=num_buckets)
        # compaction threshold (per-bucket read amplification) sized so at
        # least one compaction lands INSIDE the timed window — steady ingest
        # pays amortized compaction. Raw L0 grows ~files_per_epoch per bucket
        # per trigger (one file per scan task in each bucket group).
        compact_at = files_per_epoch * max(1, n_epochs - 1)
        runner = CdcStreamRunner(spark, table, feed_dir, rep_ckpt,
                                 txn_app="bench",
                                 auto_compact_deltas=compact_at,
                                 max_files_per_trigger=files_per_epoch)
        t0 = time.monotonic()
        runner.run_available_now(timeout_sec=3600)
        rep_sec = time.monotonic() - t0
        # steady-state: min per-batch merge time (warmup batch excluded) —
        # robust to noise spikes, comparable across parallelism levels
        batch_secs = [m.duration_sec for m in runner.metrics
                      if not m.skipped_fence][1:]
        batch_events = n_events / n_epochs
        rep_steady = (batch_events / min(batch_secs)) if batch_secs \
            else n_events / rep_sec
        # correctness gate on EVERY benched rep (untimed)
        match = assert_replay_match(table.read(), expected_final_state(
            spark.read.parquet(feed_dir)))
        if best is None or rep_sec < best["replay_sec"]:
            best = {"replay_sec": rep_sec, "steady": rep_steady,
                    "runner": runner, "table": table, "match": match}
    replay_sec = best["replay_sec"]
    events_per_sec = n_events / replay_sec
    steady, runner = best["steady"], best["runner"]
    table, match = best["table"], best["match"]

    # ---- headline queries, interleaved best-of-N: the whole list runs in
    # BENCH_QUERY_REPS full passes and each query scores its fastest pass,
    # so a minutes-long host-noise window cannot silently regress the whole
    # per-query table (it would have to persist across every pass).
    qmap = entrymod.queries()
    qreps: dict[str, list[float]] = {}
    query_reps = int(os.environ.get("BENCH_QUERY_REPS", "2"))
    if os.environ.get("BENCH_SKIP_QUERIES") == "1":
        qmap, bench_queries = {}, []
    else:
        bench_queries = BENCH_QUERIES
    for _ in range(query_reps):
        for name in bench_queries:
            # time construction + execution: some queries (the CDC flagship)
            # do eager engine work while building the DataFrame
            t0 = time.monotonic()
            df = qmap[name](spark, SF_DIR)
            df.write.format("noop").mode("overwrite").save()
            qreps.setdefault(name, []).append(
                round(time.monotonic() - t0, 3))
    # headline number per query = best interleaved pass (host noise is
    # 1.4-3x); every pass is disclosed alongside it so the spread is visible
    qtimes = {name: min(secs) for name, secs in qreps.items()}

    # ---- LSH blocking evidence: count the PRE-VERIFY candidate set of the
    # benched embedding_near_dup_lsh corpus vs its all-pairs size, so the
    # sub-quadratic claim is a measured number in the bench artifact
    lsh_evidence = {}
    if bench_queries:
        from etl_api_bigquery_spark.operators.similarity import (
            near_dup_candidates)
        emb = (spark.read.parquet(os.path.join(SF_DIR, "embeddings.parquet"))
               .filter("vec_id < 300").select("vec_id", "embedding"))
        planted = (spark.read.parquet(
            os.path.join(SF_DIR, "embeddings.parquet"))
            .filter("vec_id < 100")
            .selectExpr("vec_id + 10000 as vec_id", "embedding"))
        corpus = emb.unionByName(planted)
        n_vec = corpus.count()
        n_cand = near_dup_candidates(corpus, bits=128, bands=8,
                                     dim=64).count()
        lsh_evidence = {"n_vectors": n_vec,
                        "n_candidates_preverify": n_cand,
                        "n_allpairs": n_vec * (n_vec - 1) // 2}

    # streaming-wrapper vs merge-core decomposition from the query's own
    # per-trigger durationMs (the driver-serial streaming phases)
    prog = runner.progress
    wrapper_ms: dict[str, float] = {}
    for p in prog:
        for k, v in (p.get("durationMs") or {}).items():
            wrapper_ms[k] = wrapper_ms.get(k, 0.0) + float(v)
    n_trig = max(len(prog), 1)
    trigger_breakdown = {k: round(v / n_trig / 1000.0, 3)
                         for k, v in sorted(wrapper_ms.items())}

    # merge-core phase decomposition (driver-serial vs distributed): avg of
    # the steady batches' plan-build / write-job / harvest / fsync / compact
    phase_sum: dict[str, float] = {}
    phase_batches = [m for m in runner.metrics if not m.skipped_fence][1:]
    for mm in phase_batches:
        for k, v in (mm.extra.get("phases") or {}).items():
            phase_sum[k] = phase_sum.get(k, 0.0) + float(v)
    merge_phase_avg = {k: round(v / max(len(phase_batches), 1), 3)
                       for k, v in sorted(phase_sum.items())}

    out = {
        "metric": "cdc_merge_apply_replay",
        "value": round(replay_sec, 3),
        "unit": "sec",
        "events_per_sec": round(events_per_sec, 1),
        "events_per_sec_steady": round(steady, 1),
        "n_events": n_events,
        "n_epochs": n_epochs,
        "cpus": CPUS,
        "mode": runner.mode,
        "async_commit": runner.async_commit,
        "prefilter": runner.prefilter,
        "l0_groups": runner.l0_groups or "auto",
        "replay_rows_matched": match["total"],
        "n_compactions_in_window": sum(
            1 for h in table.history() if h["action"] == "compact_deltas"),
        "trigger_avg_sec": trigger_breakdown,
        "merge_phase_avg_sec": merge_phase_avg,
        "replay_reps": replay_reps,
        "query_reps": query_reps,
        "lsh_blocking": lsh_evidence,
        "queries": qtimes,
        "query_rep_secs": qreps,
        "sf": sf,
    }
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
