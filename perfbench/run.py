#!/usr/bin/env python3
"""Benchmark of the shipped CDC ingest path and the table it leaves behind.

Run from the repository root:

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

``NAME`` is a key of ``WORKLOADS``; ``BENCHMARK.json`` at the repository root
lists them with the metrics and their bounds.

Every workload drives ``CdcStreamRunner`` (file source -> ``foreachBatch`` ->
``merge_cdc_batch`` -> ``LakeTable``) with its constructor defaults, then
reads and folds the resulting table:

1. staging (untimed): the seeded feed, one file group per trigger;
2. set-up: ``SETUP_CYCLES`` warm-up cycles, each a raw streaming drain of a
   copy of the feed's first two files, a scan and a fold on a throwaway
   table; ``setup_s`` is their median;
3. ingest: one ``run_available_now`` drain of the whole backlog, with every
   trigger captured by a ``StreamingQueryListener``;
4. the drain is checked against ``cdc.oracle`` (``assert_replay_match``);
5. ``FOLDS`` timed ``compact_deltas`` folds over every bucket, each on its
   own copy of the table (``compact_s`` is their median);
6. the read probe: full scans and single-key lookups, each checked against
   the oracle, alternating between the table at the workload's L0 depth
   and a folded copy (depth 0).

The drains leave an L0 shape that depends on when their background folds ran,
so they are settled by an untimed full fold before step 5, and both tables of
their read probe are at depth 0. ``lsm_read`` ingests with
``auto_compact_deltas`` above its trigger count, so no fold runs and its read
depth is exactly ``LSM_DEPTH``.

Every end-to-end time is wall time net of hypervisor steal
(``hostclock.StealMeter``): on a shared virtual machine, time the hypervisor
withholds runnable CPUs stretches every interval by an amount set by the
neighbours, not by the code. The plain wall-clock values are printed in the
detail line (``wall_metrics``), with the run's total steal.

With ``--trace 1`` the engine's public entry points are wrapped
(``spans.Tracer``) and the run prints per-layer metrics instead; spans and the
per-trigger ledger are written under ``.perfbench/out/``. The last stdout line
is always one JSON object: ``correct``, ``attempted``, ``failed``, ``metrics``.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import resource
import shutil
import statistics
import subprocess
import sys
import time
from dataclasses import dataclass, field

ROOT = os.getcwd()
sys.path.insert(0, ROOT)

from pyspark.sql import SparkSession  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402
from pyspark.sql import types as T  # noqa: E402

from etl_api_bigquery_spark.cdc import (  # noqa: E402
    expected_final_state, feed_schema)
from etl_api_bigquery_spark.cdc.oracle import assert_replay_match  # noqa: E402
from etl_api_bigquery_spark.lake import LakeTable  # noqa: E402
from etl_api_bigquery_spark.session import get_spark  # noqa: E402
from etl_api_bigquery_spark.streaming import CdcStreamRunner  # noqa: E402

import layers  # noqa: E402
from hostclock import StealMeter  # noqa: E402
from stage import copy_head, stage_feed  # noqa: E402
from spans import Tracer, TriggerLog  # noqa: E402

MASTER = "local[4]"
NUM_BUCKETS = 16                  # LakeTable.create default
SETUP_CYCLES = 3
MIN_READ_ROUNDS = 7               # three samples each side of a median
LOOKUP_KEYS = 21                  # 11 from the hot repo, 10 from others
LSM_DEPTH = 16
FOLDS = 3                         # timed folds, each on a copy of the table

SILVER = T.StructType([T.StructField(c, T.StringType()) for c in
                       ("repo", "path", "commit", "lang", "content")])
KEYS = ["repo", "path"]
DATA_COLS = [f.name for f in SILVER.fields]


@dataclass(frozen=True)
class Workload:
    triggers: int
    events_per_trigger: int
    files_per_trigger: int = 1
    runner: dict = field(default_factory=dict)   # non-default runner args
    settle: bool = True           # full fold before the read probes
    depth: int = 0                # L0 read depth the probe must see

    @property
    def events(self) -> int:
        return self.triggers * self.events_per_trigger


# Why each workload exists is recorded in BENCHMARK.json.
WORKLOADS = {
    # Two files per trigger grow read amplification by about 2 per trigger,
    # so background folds overlap a minority of triggers and the median
    # trigger is one without a fold.
    "bulk_drain": Workload(
        triggers=15, events_per_trigger=12_000, files_per_trigger=2),
    # one file per trigger adds one L0 layer to every bucket
    "lsm_read": Workload(
        triggers=LSM_DEPTH, events_per_trigger=2_000,
        runner={"auto_compact_deltas": 1_000_000}, settle=False,
        depth=LSM_DEPTH),
}

END_TO_END_UNITS = {
    "setup_s": "s", "ingest_eps": "events/s", "trigger_s_p50": "s",
    "read_scan_s_p50": "s", "read_key_s_p50": "s",
    "compact_s": "s", "read_scan_base_s_p50": "s",
    "read_key_base_s_p50": "s", "write_amp": "ratio", "peak_rss_mb": "MB",
}


class Ops:
    """Operations attempted and failed; a failed check is a failed op."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"perfbench: check failed: {what}", file=sys.stderr)


# ----------------------------------------------------------------- spark

def start_spark(work: str) -> SparkSession:
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    spark = get_spark(
        app_name="perfbench", master=MASTER, shuffle_partitions=4,
        extra_conf={
            "spark.driver.memory": "2g",
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            # a fixed, pre-touched heap: the JVM's resident set is then the
            # heap plus what the run adds off-heap, not GC sizing luck
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={tmp} -Xms2g -XX:+AlwaysPreTouch "
                "-XX:-UsePerfData",
        })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark: SparkSession) -> None:
    """Stop the session and wait for its JVM to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()           # the JVM exits on EOF of its stdin
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def peak_rss_mb(spark: SparkSession) -> float:
    """Peak resident set of this Python process plus its JVM."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_kb = 0
    with open(f"/proc/{spark.sparkContext._gateway.proc.pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    return (py_kb + jvm_kb) / 1024.0


def gc_seconds(spark: SparkSession) -> float:
    beans = (spark._jvm.java.lang.management.ManagementFactory
             .getGarbageCollectorMXBeans())
    return sum(max(0, b.getCollectionTime()) for b in beans) / 1000.0


# ----------------------------------------------------------------- oracle

def summarize(df) -> tuple[int, int]:
    """Row count and an order-free checksum over every data column."""
    row = df.agg(F.count(F.lit(1)).alias("n"),
                 F.sum(F.xxhash64(*DATA_COLS).cast("decimal(38,0)"))
                 .alias("h")).first()
    return int(row["n"]), int(row["h"] or 0)


class Oracle:
    """Expected table state from ``cdc.oracle``, plus seeded lookup keys
    (hot repo and others) with their expected rows."""

    def __init__(self, spark: SparkSession, feed: dict, seed: int) -> None:
        events = spark.read.schema(feed_schema()).parquet(*feed["files"])
        self.expected = expected_final_state(events).cache()
        self.summary = summarize(self.expected)
        keys = sorted(tuple(r) for r in
                      self.expected.select(*KEYS).collect())
        rng = random.Random(seed)
        hot = [k for k in keys if k[0] == "repo_0"]
        cold = [k for k in keys if k[0] != "repo_0"]
        n_hot = min(len(hot), LOOKUP_KEYS // 2 + 1)
        self.keys = rng.sample(hot, n_hot) + rng.sample(cold,
                                                        LOOKUP_KEYS - n_hot)
        picked = spark.createDataFrame(self.keys, "repo string, path string")
        self.rows = {(r["repo"], r["path"]): tuple(r) for r in
                     self.expected.join(picked, KEYS).select(*DATA_COLS)
                     .collect()}

    def close(self) -> None:
        self.expected.unpersist()


# ------------------------------------------------------------------ bench

class Bench:
    def __init__(self, spark: SparkSession, wl: Workload, seed: int,
                 seconds: int, tracer: Tracer | None, meter: StealMeter,
                 work: str) -> None:
        self.spark, self.wl, self.seed = spark, wl, seed
        self.seconds, self.tracer, self.work = seconds, tracer, work
        self.meter = meter
        self.ops = Ops()
        self.steps: list[tuple[str, float]] = []
        self.triggers = TriggerLog()
        spark.streams.addListener(self.triggers)

    def _phase(self, name: str) -> None:
        """Enter benchmark step ``name``: spans are tagged with it and the
        step walls go into the run's detail line."""
        self.steps.append((name, time.perf_counter()))
        if self.tracer is not None:
            self.tracer.phase = name

    def step_walls(self) -> dict:
        marks = self.steps + [("end", time.perf_counter())]
        return {a: round(tb - ta, 3)
                for (a, ta), (_, tb) in zip(marks, marks[1:])}

    def _table(self, name: str) -> LakeTable:
        return LakeTable.create(self.spark, os.path.join(self.work, name),
                                SILVER, KEYS, num_buckets=NUM_BUCKETS)

    def _runner(self, table: LakeTable, feed: dict, name: str,
                **overrides) -> CdcStreamRunner:
        return CdcStreamRunner(
            self.spark, table, feed["dir"],
            os.path.join(self.work, name + "-ckpt"), txn_app="perfbench",
            max_files_per_trigger=len(feed["files"]) // feed["triggers"],
            **overrides)

    # -- set-up ---------------------------------------------------------

    def setup(self, feed: dict) -> list[tuple[float, float]]:
        """Warm-up cycles on the measured path, each on a fresh table;
        returns each cycle's wall interval."""
        cycles = []
        for i in range(SETUP_CYCLES):
            t0 = time.time()
            table = self._table(f"warm{i}")
            self._runner(table, feed, f"warm{i}").run_available_now()
            table.read().agg(F.count(F.lit(1))).first()
            table.compact_deltas(buckets=range(NUM_BUCKETS))
            cycles.append((t0, time.time()))
            self.triggers.take()
        return cycles

    # -- reads ----------------------------------------------------------

    def probe(self, tables: dict[str, LakeTable], oracle: Oracle,
              min_seconds: float) -> dict:
        """Round-robin over ``tables``: a full scan, then a single-key
        lookup, on each table in turn, every result checked against the
        oracle; at least ``MIN_READ_ROUNDS`` rounds and ``min_seconds``.
        Interleaving spreads each table's samples over the whole window, so
        a burst of host contention shifts all tables alike and moves no
        median on its own."""
        some = next(iter(tables.values()))
        buckets = {(r["repo"], r["path"]): r["b"] for r in
                   self.spark.createDataFrame(oracle.keys,
                                              "repo string, path string")
                   .select(*KEYS, some.bucket_expr(KEYS).alias("b"))
                   .collect()}
        out = {name: {"scan": [], "key": [], "plan": [], "exec": []}
               for name in tables}
        deadline = time.monotonic() + min_seconds
        i = 0
        while i < MIN_READ_ROUNDS or time.monotonic() < deadline:
            key = oracle.keys[i % len(oracle.keys)]
            want = oracle.rows.get(key)
            for name, table in tables.items():
                o = out[name]
                t0 = time.time()
                df = table.read()
                t1 = time.time()
                got = summarize(df)
                t2 = time.time()
                o["plan"].append(t1 - t0)
                o["exec"].append(t2 - t1)
                o["scan"].append((t0, t2))
                self.ops.check(got == oracle.summary,
                               f"{name} scan {got} != {oracle.summary}")

                t0 = time.time()
                rows = (table.read(buckets=[buckets[key]])
                        .filter((F.col("repo") == key[0])
                                & (F.col("path") == key[1]))
                        .select(*DATA_COLS).collect())
                o["key"].append((t0, time.time()))
                self.ops.check([tuple(r) for r in rows] ==
                               ([want] if want else []),
                               f"{name} lookup {key}")
            i += 1
        return out

    # -- the run ----------------------------------------------------------

    def run(self) -> dict:
        wl = self.wl
        self._phase("stage")
        feed = stage_feed(self.spark, os.path.join(self.work, "feed"),
                          wl.events, wl.triggers, wl.files_per_trigger,
                          self.seed)
        warm_feed = copy_head(feed, os.path.join(self.work, "warm-feed"), 2)
        self._phase("setup")
        setup = self.setup(warm_feed)
        self._phase("oracle")
        oracle = Oracle(self.spark, feed, self.seed)
        table = self._table("silver")
        runner = self._runner(table, feed, "silver", **wl.runner)
        print("perfbench config: " + json.dumps(
            effective_config(runner, self.wl)), flush=True)

        if self.tracer is not None:
            self.tracer.install()
        self._phase("ingest")
        gc0 = gc_seconds(self.spark)
        t0 = time.time()
        try:
            runner.run_available_now()
            drained = True
        except Exception as e:      # a failed trigger is a failed op
            print(f"perfbench: drain failed: {e!r}", file=sys.stderr)
            drained = False
        drain = (t0, time.time())
        gc1 = gc_seconds(self.spark)
        triggers = self.triggers.take()
        for trig in triggers:
            self.ops.check(trig["rows"] > 0, f"empty trigger {trig}")
        missing = wl.triggers - len(triggers)
        self.ops.attempted += max(0, missing)
        self.ops.failed += max(0, missing)
        self.ops.check(drained and sum(t["rows"] for t in triggers)
                       == wl.events, "drain did not apply every event")

        self._phase("check")
        ingest_state = table_state(table)
        data_bytes = table_data_bytes(table)
        try:
            assert_replay_match(table.read(), oracle.expected)
            mismatch = ""
        except AssertionError as e:
            mismatch = str(e)
        self.ops.check(not mismatch, mismatch)

        if wl.settle:
            self._phase("settle")
            table.compact_deltas(buckets=range(NUM_BUCKETS))
        depth_state = table_state(table)
        self.ops.check(depth_state["max_read_amp"] == wl.depth,
                       f"read depth {depth_state['max_read_amp']} != "
                       f"{wl.depth}")

        # the fold is destructive: time it on identical copies of the table
        copies = [copy_table(self.spark, table, f"{table.location}-fold{k}")
                  for k in range(FOLDS)]
        self._phase("fold")
        folds = []
        for copy in copies:
            t0 = time.time()
            copy.compact_deltas(buckets=range(NUM_BUCKETS))
            folds.append((t0, time.time()))
            self.ops.check(table_state(copy)["l0_files"] == 0,
                           "fold left L0 files")
        self._phase("read")
        reads = self.probe({"depth": table, "base": copies[-1]}, oracle,
                           self.seconds)
        at_depth, at_base = reads["depth"], reads["base"]
        self._phase("close")
        if self.tracer is not None:
            self.tracer.uninstall()
        oracle.close()

        self.meter.close()
        trig_iv = [(t["start"], t["start"] + t["ms"]["triggerExecution"]
                    / 1000.0) for t in triggers]
        rss = peak_rss_mb(self.spark)

        def end_to_end(dur) -> dict:
            def p50(intervals):
                return statistics.median(dur(a, b) for a, b in intervals)
            return {
                "setup_s": p50(setup),
                "ingest_eps": wl.events / dur(*drain),
                "trigger_s_p50": p50(trig_iv),
                "read_scan_s_p50": p50(at_depth["scan"]),
                "read_key_s_p50": p50(at_depth["key"]),
                "compact_s": p50(folds),
                "read_scan_base_s_p50": p50(at_base["scan"]),
                "read_key_base_s_p50": p50(at_base["key"]),
                "write_amp": data_bytes / feed["bytes"],
                "peak_rss_mb": rss,
            }

        e2e = end_to_end(self.meter.net)
        detail = {
            "wall_metrics": end_to_end(lambda a, b: b - a),
            "host_steal_s": self.meter.steal_s(),
            "setup_cycles_s": [b - a for a, b in setup],
            "drain_s": drain[1] - drain[0],
            "folds_s": [b - a for a, b in folds],
            "trigger_s": [b - a for a, b in trig_iv],
            "triggers": len(triggers), "events": wl.events,
            "feed_bytes": feed["bytes"], "data_bytes": data_bytes,
            "read_rounds": len(at_depth["scan"]),
            "ingest_state": ingest_state, "depth_state": depth_state,
            "step_walls_s": self.step_walls(),
        }
        ctx = layers.Context(
            triggers=triggers, merge_metrics=runner.metrics,
            drain_end_wall=drain[1], gc_s=gc1 - gc0, events=wl.events,
            ingest_state=ingest_state, depth_state=depth_state,
            read_depth=at_depth)
        return {"e2e": e2e, "detail": detail, "ctx": ctx}


def effective_config(runner: CdcStreamRunner, wl: Workload) -> dict:
    return {
        "mode": runner.mode,
        "prefilter": (runner.prefilter if runner.prefilter is not None
                      else f"merge default ({runner.mode != 'raw'})"),
        "async_commit": runner.async_commit,
        "async_compact": runner.async_compact,
        "l0_groups": runner.l0_groups or "auto",
        "auto_compact_deltas": runner.auto_compact_deltas,
        "max_files_per_trigger": runner.max_files_per_trigger,
        "triggers": wl.triggers, "events_per_trigger": wl.events_per_trigger,
        "num_buckets": NUM_BUCKETS, "settle_fold": wl.settle,
        "read_depth": wl.depth, "master": MASTER, "nproc": os.cpu_count(),
    }


def table_state(table: LakeTable) -> dict:
    snap = table.snapshot()
    amp = table.bucket_read_amplification()
    return {"log_len": snap.version + 1, "files": len(snap.files),
            "l0_files": sum(1 for e in snap.files.values()
                            if e.kind == "delta"),
            "max_read_amp": max(amp.values(), default=0)}


def copy_table(spark: SparkSession, table: LakeTable,
               location: str) -> LakeTable:
    """A copy of the table's directory; file paths in its log are relative
    to the table root, so the copy is a table of its own."""
    shutil.copytree(table.location, location)
    return LakeTable.load(spark, location)


def table_data_bytes(table: LakeTable) -> int:
    """Bytes of every data file the table ever wrote (nothing is vacuumed)."""
    total = 0
    for d, _, files in os.walk(os.path.join(table.location, "data")):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files
                     if f.endswith(".parquet"))
    return total


def result_line(ops: Ops, metrics: dict, units: dict) -> dict:
    return {"correct": ops.failed == 0, "attempted": ops.attempted,
            "failed": ops.failed,
            "metrics": {k: {"value": v, "unit": units[k]}
                        for k, v in metrics.items()}}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=10,
                    help="wall time the read probe samples for, at least; "
                         "the drain and the folds are fixed work")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    bench_dir = os.path.join(ROOT, ".perfbench")
    out_dir = os.path.join(bench_dir, "out")
    work = os.path.join(bench_dir, f"{args.workload}-{args.seed}-"
                                   f"{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(out_dir, exist_ok=True)
    spark = start_spark(work)
    meter = StealMeter()
    try:
        tracer = Tracer() if args.trace else None
        bench = Bench(spark, WORKLOADS[args.workload], args.seed,
                      args.seconds, tracer, meter, work)
        res = bench.run()
    finally:
        meter.close()
        stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    tag = f"{args.workload}-seed{args.seed}"
    e2e = res["e2e"]
    if tracer is None:
        with open(os.path.join(out_dir, "untraced.jsonl"), "a") as fh:
            fh.write(json.dumps({"workload": args.workload,
                                 "seed": args.seed, **e2e}) + "\n")
        metrics, units = e2e, END_TO_END_UNITS
    else:
        metrics, ledger = layers.per_layer(tracer, res["ctx"])
        units = layers.UNITS
        tracer.dump(os.path.join(out_dir, f"{tag}-trace.json"),
                    {"ledger": ledger, "end_to_end": e2e,
                     "detail": res["detail"]})
        layers.print_ledger(ledger)
        layers.print_overhead(e2e, os.path.join(out_dir, "untraced.jsonl"),
                              args.workload)
    print("perfbench detail: " + json.dumps(res["detail"]), flush=True)
    out = result_line(bench.ops, metrics, units)
    print(json.dumps(out), flush=True)
    return 0 if out["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
