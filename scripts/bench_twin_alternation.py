#!/usr/bin/env python
"""Twin-application per-batch alternation campaign (v4) — zero executor churn.

Why a fifth protocol. The v3/v3.2 per-batch alternation campaigns (43 pairs,
`bench_alternation_scaling.py`) isolated an artifact that no warmup cures:
a timed 4-executor merge on freshly started executor JVMs burns ~1.3-1.5x
the task-seconds of the same merge on cycle-old JVMs (r5b, 6 pairs, quiet
substrate: second-position p4 = 97-111 task-s vs first-position p4 = 75-89;
the 1-executor merge on the never-restarted worker-0 JVM is order-stable at
61-70). v3.2 ran a full-size 24M-event in-mode warm merge on the fresh JVMs
immediately before timing — the inflation barely moved (r5a bad cells 99-167
-> r5b 97-111), so it is not JIT/codegen warmth that the fresh process lacks
but something time-or-allocation-dependent in a seconds-old JVM/executor
(heap/commit growth, THP collapse, allocator steady state — mechanism not
fully attributed, but clearly executor-lifecycle, not engine). Per-batch
alternation BY KILLING AND RESTARTING executors therefore measures JVM
start-up physics, not scaling.

Fix (this protocol): both cluster sizes exist the whole campaign as two
LONG-LIVED Spark applications on the same standalone master —

    app BIG   cores.max=4*C, executor.cores=C -> 4 executors, workers 0-3
              (cores 0-15 at the default C=4), driven by this process;
    app SMALL cores.max=C -> 1 executor on worker 4 (cores 20-23: disjoint
              from the big app's cores, the gap-probe cores 16-17, the
              SpinClock core 18, and the driver cores 24-31), driven by a
              helper child process (this script, --small-app), commanded
              through a file-based spool.

No executor JVM is ever started or stopped between pairs — the scale event
is WHICH application runs the timed merge, exactly the situation on a real
fleet where both cluster sizes would be separate warm deployments. Pair
span stays ~60 s (the v3 symmetric-integration property), and with the
per-cycle JVM warmups gone a cycle is ~2x cheaper than v3.2.

Everything else is inherited unchanged from v3 (same pool file, scoring,
validity rules, instruments — `bench_alternation_scaling._score`):
  * a cycle = fresh table, untimed epoch-0 seed at the BIG app (insert
    regime), TIMED epoch-1 merge at one level, TIMED epoch-2 merge at the
    other, order and therefore epoch role alternating per cycle;
  * eff = (events/t @big) / (4 * events/t @small), t = merge_cdc_batch
    duration (v2's exact batch unit); VALID iff the three surrounding
    idle-gap memcpy probes satisfy max/min <= 1.35 AND each app held
    exactly its executor count through its merge;
  * per-merge instruments: /proc/stat steal+iowait over that app's OWN
    cores, SpinClock effective-clock, task-seconds from each app's REST
    API (tt_eff = task_s@small / task_s@big);
  * every cycle sha-verifies the shared table against the 3-epoch batch
    oracle — the two applications alternately commit into ONE LakeTable
    directory, so each cycle also exercises the commit log's cross-process
    O_EXCL fencing;
  * auto-compaction disabled (folds are a separate workload); raw pair
    efficiency over valid pairs stays the number of record.

Pre-registered before the first r5c cycle ran; applied uniformly, never
tuned per result.

Usage:
  python scripts/bench_twin_alternation.py [max_cycles]
  python scripts/bench_twin_alternation.py --report-only
  (internal) python scripts/bench_twin_alternation.py --small-app <spool>
Env: same as bench_alternation_scaling.py / bench_elastic_scaling.py.
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

import bench_alternation_scaling as alt  # noqa: E402  (v3: scoring/report)
import bench_elastic_scaling as ev2      # noqa: E402  (shared machinery)

SMALL_UI = 4046
SMALL_WORKER_CORES = f"20-{20 + ev2.EXEC_CORES - 1}"
SMALL_CPU_SET = set(range(20, 20 + ev2.EXEC_CORES))
SPOOL = f"{ev2.WORK}/twin_spool"


def start_small_worker() -> subprocess.Popen:
    """Worker 4, pinned to cores disjoint from every other protocol actor."""
    env = dict(os.environ,
               SPARK_WORKER_DIR="/tmp/spark-worker-4",
               SPARK_LOCAL_DIRS="/tmp/spark-local-4")
    return ev2.spawn(["taskset", "-c", SMALL_WORKER_CORES,
                      os.path.join(ev2.SPARK_HOME, "bin", "spark-class"),
                      "org.apache.spark.deploy.worker.Worker",
                      ev2.MASTER_URL,
                      "--cores", str(ev2.EXEC_CORES), "--memory", "10g",
                      "--port", "44490", "--webui-port", "8390"], env)


# ---------------------------------------------------------------- small app
def small_app_main(spool: str) -> None:
    """Driver of the long-lived 1-executor application: executes file-spool
    commands (warmup / timed merge / stop) against the SHARED table dir."""
    os.sched_setaffinity(0, set(ev2.DRIVER_CORES))
    from etl_api_bigquery_spark.lake import LakeTable
    from etl_api_bigquery_spark.session import get_spark
    spark = get_spark(app_name="twin-small",
                      master=ev2.MASTER_URL,
                      shuffle_partitions=ev2.EXEC_CORES,
                      extra_conf={"spark.cores.max": str(ev2.EXEC_CORES),
                                  "spark.executor.cores":
                                  str(ev2.EXEC_CORES),
                                  "spark.executor.memory": "8g",
                                  "spark.ui.enabled": "true",
                                  "spark.ui.port": str(SMALL_UI),
                                  **ev2.APPCONF})
    spark.sparkContext.setLogLevel("ERROR")
    ev2.wait_execs(spark, 1)
    open(os.path.join(spool, "_ready"), "w").close()
    k = 0
    while True:
        cpath = os.path.join(spool, f"cmd_{k}.json")
        while not os.path.exists(cpath):
            time.sleep(0.05)
        with open(cpath) as fh:
            cmd = json.load(fh)
        if cmd["op"] == "stop":
            break
        try:
            if cmd["op"] == "warmup":
                alt.campaign_warmup(spark, level_execs=1)
                res: dict = {"ok": True}
            elif cmd["op"] == "merge":
                table = LakeTable.load(spark, cmd["table_dir"])
                res = alt.timed_merge(spark, table, epoch=cmd["epoch"],
                                      batch_id=cmd["batch_id"],
                                      level_execs=1, ui_port=SMALL_UI,
                                      cpu_cores=SMALL_CPU_SET)
            else:
                res = {"error": f"unknown op {cmd['op']!r}"}
        except Exception as exc:  # reported to the coordinator, not raised
            res = {"error": repr(exc)[:500]}
        tmp = os.path.join(spool, f".res_{k}.tmp")
        with open(tmp, "w") as fh:
            json.dump(res, fh)
        os.rename(tmp, os.path.join(spool, f"res_{k}.json"))
        k += 1
    spark.stop()


class SmallApp:
    """Coordinator-side handle on the helper driver process."""

    def __init__(self) -> None:
        shutil.rmtree(SPOOL, ignore_errors=True)
        os.makedirs(SPOOL)
        self.k = 0
        self.proc = ev2.spawn([sys.executable, os.path.abspath(__file__),
                               "--small-app", SPOOL])

    def wait_ready(self, timeout: float = 180.0) -> None:
        t0 = time.monotonic()
        while not os.path.exists(os.path.join(SPOOL, "_ready")):
            if self.proc.poll() is not None:
                raise RuntimeError("small app died during startup")
            if time.monotonic() - t0 > timeout:
                raise RuntimeError("small app not ready in time")
            time.sleep(0.5)

    def call(self, obj: dict, timeout: float = 900.0) -> dict:
        k = self.k
        self.k += 1
        tmp = os.path.join(SPOOL, f".cmd_{k}.tmp")
        with open(tmp, "w") as fh:
            json.dump(obj, fh)
        os.rename(tmp, os.path.join(SPOOL, f"cmd_{k}.json"))
        rpath = os.path.join(SPOOL, f"res_{k}.json")
        t0 = time.monotonic()
        while not os.path.exists(rpath):
            if self.proc.poll() is not None:
                raise RuntimeError("small app died mid-command")
            if time.monotonic() - t0 > timeout:
                raise RuntimeError(f"small app timed out on {obj}")
            time.sleep(0.1)
        with open(rpath) as fh:
            res = json.load(fh)
        if "error" in res:
            raise RuntimeError(f"small app error: {res['error']}")
        return res

    def stop(self) -> None:
        try:
            self.call({"op": "stop"}, timeout=1.0)
        except Exception:
            pass
        try:
            self.proc.wait(timeout=30)
        except Exception:
            ev2.kill(self.proc)


# --------------------------------------------------------------- coordinator
def main() -> None:
    if "--small-app" in sys.argv:
        small_app_main(sys.argv[sys.argv.index("--small-app") + 1])
        return
    if "--report-only" in sys.argv:
        print(json.dumps(alt.write_report()))
        return
    max_cycles = int(sys.argv[1]) if len(sys.argv) > 1 else 1000
    budget_sec = float(os.environ.get("ELASTIC_MINUTES", "50")) * 60
    os.sched_setaffinity(0, set(ev2.DRIVER_CORES))

    from pyspark.sql import types as T
    from etl_api_bigquery_spark.lake import LakeTable
    from etl_api_bigquery_spark.session import get_spark
    procs: list[subprocess.Popen] = []
    small: SmallApp | None = None
    t_start = time.monotonic()
    try:
        procs.append(ev2.start_master())
        for i in range(4):
            procs.append(ev2.start_worker(i))
        time.sleep(6)
        spark = get_spark(app_name="twin-big",
                          master=ev2.MASTER_URL,
                          shuffle_partitions=4 * ev2.EXEC_CORES,
                          extra_conf={"spark.cores.max":
                                      str(4 * ev2.EXEC_CORES),
                                      "spark.executor.cores":
                                      str(ev2.EXEC_CORES),
                                      "spark.executor.memory": "8g",
                                      "spark.ui.enabled": "true",
                                      "spark.ui.port": str(alt.UI_PORT),
                                      **ev2.APPCONF})
        spark.sparkContext.setLogLevel("ERROR")
        ev2.wait_execs(spark, 4)
        # worker 4 starts only after the big app owns its 16 cores, so the
        # small app deterministically lands there
        procs.append(start_small_worker())
        time.sleep(3)
        small = SmallApp()
        small.wait_ready()
        if ev2.n_execs(spark) != 4:
            raise RuntimeError("big app lost an executor to worker 4")

        ev2.warmup_merge(spark)
        ev2.stage_inputs(spark)
        alt.stage_expected3(spark)
        ev2.warm_feed()
        # one-time steady-state warmups (both apps, in-mode, per-core-sized);
        # no further warmups ever needed — no JVM is restarted after this
        alt.campaign_warmup(spark, level_execs=4)
        small.call({"op": "warmup"})

        from etl_api_bigquery_spark.cdc.oracle import assert_replay_match
        from etl_api_bigquery_spark.lake.merge import merge_cdc_batch
        schema = T.StructType([T.StructField(c, T.StringType()) for c in
                               ("repo", "path", "commit", "lang", "content")])

        cycle = 0
        while cycle < max_cycles and time.monotonic() - t_start < budget_sec:
            order = (1, 4) if cycle % 2 == 0 else (4, 1)
            rec: dict = {"protocol": "twin_v4",
                         "engine": os.environ.get("ENGINE_GEN", "r5c"),
                         "num_buckets": ev2.NUM_BUCKETS, "mode": ev2.MODE,
                         "n_events": ev2.N_EVENTS,
                         "prefilter": ev2.PREFILTER,
                         "l0_groups": ev2.L0_GROUPS,
                         "ts": round(time.time(), 1),
                         "order": f"{order[0]}->{order[1]}",
                         "epoch_p1": 1 if order[0] == 1 else 2,
                         "epoch_p4": 1 if order[0] == 4 else 2,
                         "gap_gbps": []}
            if ev2.SQLCONF:
                rec["sqlconf"] = ev2.SQLCONF
            if os.environ.get("ELASTIC_WARM_FEED") == "1":
                rec["warm_feed"] = True
            try:
                ev2.warm_feed()
                ev2.gap_sync()
                tdir = f"{ev2.WORK}/twin_silver"
                shutil.rmtree(tdir, ignore_errors=True)
                table = LakeTable.create(spark, tdir, schema,
                                         key_cols=["repo", "path"],
                                         num_buckets=ev2.NUM_BUCKETS)
                # untimed seed: epoch 0 (insert regime) at the big app
                spark.conf.set("spark.sql.shuffle.partitions",
                               str(4 * ev2.EXEC_CORES))
                merge_cdc_batch(table, spark.read.parquet(
                    *alt.epoch_files(0)),
                    batch_id=0, txn_app="alt",
                    mode=ev2.MODE, prefilter=ev2.PREFILTER,
                    l0_groups=ev2.L0_GROUPS,
                    auto_compact_deltas=10 ** 9)

                def timed_at(level: int, epoch: int, batch_id: int) -> dict:
                    if level == 4:
                        return alt.timed_merge(spark, table, epoch=epoch,
                                               batch_id=batch_id,
                                               level_execs=4)
                    return small.call({"op": "merge", "table_dir": tdir,
                                       "epoch": epoch,
                                       "batch_id": batch_id})

                ev2.gap_sync()
                rec["gap_gbps"].append(ev2.probe_gbps())
                rec[f"p{order[0]}"] = timed_at(order[0], 1, 1)
                ev2.gap_sync()
                rec["gap_gbps"].append(ev2.probe_gbps())
                rec[f"p{order[1]}"] = timed_at(order[1], 2, 2)
                rec["gap_gbps"].append(ev2.probe_gbps())
                # untimed verification at the big app (cross-process commits:
                # the big driver re-lists the commit log written by both)
                match = assert_replay_match(
                    table.read(), spark.read.parquet(alt.EXPECTED3))
                rec["rows_matched"] = match["total"]
            except Exception as exc:
                rec["error"] = repr(exc)[:500]
                with open(alt.POOL, "a") as fh:
                    fh.write(json.dumps(rec) + "\n")
                print(json.dumps({"cycle": cycle, "error": rec["error"]}),
                      file=sys.stderr, flush=True)
                if small.proc.poll() is not None:
                    break                      # helper gone: stop campaign
                cycle += 1
                continue
            with open(alt.POOL, "a") as fh:
                fh.write(json.dumps(rec) + "\n")
            eff = round((rec["p4"]["steady_events_per_sec"]
                         / rec["p1"]["steady_events_per_sec"]) / 4, 3)
            tt = [rec[k].get("task_seconds") for k in ("p1", "p4")]
            gp = rec["gap_gbps"]
            print(json.dumps({
                "cycle": cycle, "order": rec["order"], "eff": eff,
                "tt_eff": round(tt[0] / tt[1], 3) if all(tt) else None,
                "stationary": max(gp) / min(gp) <= ev2.VALID_BAND,
                "gaps": gp}), flush=True)
            cycle += 1
    finally:
        if small is not None:
            small.stop()
        for p in reversed(procs):
            ev2.kill(p)
        time.sleep(3)
    print(json.dumps(alt.write_report()))


if __name__ == "__main__":
    main()
