#!/usr/bin/env python
"""Elastic N <-> 4N executor scaling campaign — tight-pair protocol (v2).

Why a third protocol. The two prior forms (scripts/run_pairs.py affinity
pairs; scripts/bench_cluster_scaling.py cluster pairs) run each level as a
separate spark-submit, so the two halves of a pair sit ~5 min apart — longer
than the shared VM's contention bursts (a pinned 2-core memcpy probe swings
3-16 GB/s within single minutes on this host). The ratio only cancels noise
that is COMMON to both halves, so wide pairs under-measure whenever the burst
hits one half; pooling more wide pairs during busy hours drags the median
down without bound. This protocol shrinks the pair span to ~40 s and adds a
pre-registered validity instrument, instead of selecting results after the
fact.

Protocol. ONE long-lived driver app on a real standalone cluster
(spark.cores.max=16, spark.executor.cores=4). Worker JVMs are started/killed
between phases, so the SAME warm app runs the SAME staged 3-epoch feed
(byte-identical input, fresh table+checkpoint per phase, sha256-verified
final state) at 1 executor and at 4 executors back-to-back:

  cycle 2k:   [phase @1 exec] [scale up]   [phase @4 exec]
  cycle 2k+1: [phase @4 exec] [scale down] [phase @1 exec]

Order alternates so slow drift cancels across cycles; at every second cycle
boundary the executor set is reused warm. After every scale-up the fresh
executors run one untimed warmup merge (JIT/codegen), and the steady metric
additionally excludes each phase's first batch — matching bench.py.

Validity (pre-registered, applied uniformly, never tuned per result):
  * a memory-bandwidth probe (single-thread 512 MB memcpy, median of 7,
    pinned to cores 16-17 — cores no worker or driver uses) is sampled in
    the three IDLE gaps around the two phases (before / between / after;
    never while the cluster is busy, since the job's own traffic would
    depress the probe asymmetrically between levels);
  * a pair is VALID iff max(gap probes)/min(gap probes) <= 1.35 — i.e. the
    contention environment was stationary across the pair, which is the
    assumption the ratio-cancellation argument needs;
  * and the executor count was stable over each phase (asserted before and
    after; a mid-phase loss invalidates the pair).
  * QUIET (reported as a secondary cut, not the metric of record): all three
    gap probes >= 12 GB/s — the near-idle band of this host's probe
    calibration (idle ceiling ~16 GB/s).

Metric of record: MEDIAN pair efficiency over VALID pairs, pooled across all
elastic campaigns (BENCH/elastic_pairs.jsonl keeps every pair ever measured,
valid or not — nothing is discarded, invalid pairs are disclosed and simply
not averaged because their own instrument says the stationarity precondition
failed).

This is also a live demonstration of the engine's executor-churn tolerance:
executors join and leave between micro-batches ~30x per campaign and every
phase's final table still sha256-matches the batch oracle (exactly-once
under elastic scaling).

Usage:
  python scripts/bench_elastic_scaling.py [max_cycles]   # run campaign
  python scripts/bench_elastic_scaling.py --report-only  # rebuild ELASTIC.md
Env: ELASTIC_MINUTES (wall budget, default 50), BENCH_EVENTS (24M),
     BENCH_EPOCHS (3), BENCH_FILES_PER_EPOCH (32).
"""
from __future__ import annotations

import json
import os
import shutil
import signal
import socket
import statistics
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
SPARK_HOME = os.environ.get("SPARK_HOME", "/opt/spark")
MASTER_URL = "spark://127.0.0.1:7077"
# Cores per executor/worker. Default 4 (the r3/r4 protocol: 4 workers on
# core quads, 16 cores at full width). ELASTIC_EXEC_CORES=2 gives the
# footprint-sensitivity configuration: 4 workers on core PAIRS, 8 cores at
# full width — same N -> 4N executor ratio, half the package footprint.
EXEC_CORES = int(os.environ.get("ELASTIC_EXEC_CORES", "4"))
WORKERS = [(i, f"{i * EXEC_CORES}-{(i + 1) * EXEC_CORES - 1}")
           for i in range(4)]
DRIVER_CORES = range(24, 32)          # driver JVM + this script
PROBE_CORES = "16,17"                 # touched by nothing else in the protocol
VALID_BAND = 1.35                     # max/min gap-probe ratio (pre-registered)
QUIET_GBPS = 12.0                     # near-idle probe band (pre-registered)
POOL = os.path.join(REPO, "BENCH", "elastic_pairs.jsonl")
REPORT = os.path.join(REPO, "BENCH", "ELASTIC.md")

N_EVENTS = int(os.environ.get("BENCH_EVENTS", "24000000"))
N_EPOCHS = int(os.environ.get("BENCH_EPOCHS", "3"))
FILES_PER_EPOCH = int(os.environ.get("BENCH_FILES_PER_EPOCH", "32"))
N_KEYS = N_EVENTS // 10
FEED_DIR = f"/tmp/bench_feed_{N_EVENTS}_{N_KEYS}_{N_EPOCHS}_{FILES_PER_EPOCH}"
EXPECTED_DIR = os.path.join(FEED_DIR, "_expected_state")
WORK = "/tmp/bench_elastic"
NUM_BUCKETS = int(os.environ.get("BENCH_NUM_BUCKETS", "32"))
BATCH_EVENTS = N_EVENTS // N_EPOCHS
# write strategy under test: "raw" (default; LSM append, NO full-row
# shuffle; prefilter keeps L0 keys-sized; read-side LWW resolves) or "cow". ELASTIC_COMPACT overrides the auto-compaction
# threshold — raw counts TOTAL L0 files, so one compaction lands in-window
# at files_per_epoch * (epochs - 1).
MODE = os.environ.get("ELASTIC_MODE", "raw")
PREFILTER = {"on": True, "off": False}.get(
    os.environ.get("ELASTIC_PREFILTER", ""), None)
# raw L0 clustering (bucket ranges per task-file); 1 = unclustered
# single-file-per-task L0 (the r3-comparable configuration); "auto" = the
# adaptive file-size-floor controller (the r4 production default)
_l0 = os.environ.get("ELASTIC_L0_GROUPS", "1")
L0_GROUPS = _l0 if _l0 == "auto" else int(_l0)
COMPACT_AT = int(os.environ.get("ELASTIC_COMPACT", 0)) or (
    FILES_PER_EPOCH * (N_EPOCHS - 1) if MODE == "raw"
    else max(2, N_EPOCHS - 1))
# extra session-level SQL confs, applied IDENTICALLY to both phases of every
# pair (e.g. "spark.sql.adaptive.enabled=false,spark.sql.files.
# maxPartitionBytes=50331648"); recorded in each pair for provenance
SQLCONF = dict(kv.split("=", 1) for kv in
               os.environ.get("ELASTIC_SQLCONF", "").split(",") if kv)
# extra APP-creation confs (executor JVM opts, memory, ...) for A/B levers
# that cannot change on a live session (e.g. "spark.executor.
# extraJavaOptions=-XX:+UseParallelGC"); ';'-separated because JVM opt
# strings may contain commas; recorded in each pair for provenance
APPCONF = dict(kv.split("=", 1) for kv in
               os.environ.get("ELASTIC_APPCONF", "").split(";") if kv)


# ---------------------------------------------------------------- processes
def spawn(cmd: list[str], env: dict | None = None) -> subprocess.Popen:
    return subprocess.Popen(cmd, env=env or dict(os.environ),
                            stdout=subprocess.DEVNULL,
                            stderr=subprocess.DEVNULL,
                            preexec_fn=os.setsid)


def kill(p: subprocess.Popen) -> None:
    """SIGKILL the whole process group. The r3 campaigns used SIGTERM and
    lost 24M-batch pairs to a race: a gracefully-terminating worker's
    executor JVM could outlive it long enough to re-register with the
    driver after wait_execs had already observed the scaled-down count.
    SIGKILL takes the worker AND its executor children (same setsid group)
    atomically."""
    try:
        os.killpg(os.getpgid(p.pid), signal.SIGKILL)
    except ProcessLookupError:
        pass


def port_free(port: int) -> bool:
    with socket.socket() as s:
        return s.connect_ex(("127.0.0.1", port)) != 0


def sweep_strays() -> None:
    """Kill masters/workers/executors orphaned by an interrupted campaign
    (spawned with setsid, so a Ctrl-C to the script's group misses them). A
    stray worker re-registering with THIS campaign's master makes the
    executor count unsettleable — seen as `did not settle at 1 (has 2)`."""
    pats = ("org.apache.spark.deploy.master.Master",
            "org.apache.spark.deploy.worker.Worker",
            "org.apache.spark.executor.CoarseGrainedExecutorBackend")
    swept = False
    for pat in pats:
        swept |= subprocess.run(["pkill", "-9", "-f", pat],
                                capture_output=True).returncode == 0
    if swept:
        time.sleep(3)


def start_master() -> subprocess.Popen:
    sweep_strays()
    if not port_free(7077):
        raise RuntimeError("port 7077 busy — another campaign's master is "
                           "still running; wait for it to finish")
    p = spawn([os.path.join(SPARK_HOME, "bin", "spark-class"),
               "org.apache.spark.deploy.master.Master",
               "--host", "127.0.0.1", "--port", "7077",
               "--webui-port", "8090"])
    time.sleep(6)
    return p


_worker_gen = 0


def start_worker(i: int) -> subprocess.Popen:
    # fresh ports per restart generation: a killed worker's listen port can
    # linger in TIME_WAIT and make an immediate same-port rebind flaky
    global _worker_gen
    _worker_gen += 1
    cores = WORKERS[i][1]
    env = dict(os.environ,
               SPARK_WORKER_DIR=f"/tmp/spark-worker-{i}",
               SPARK_LOCAL_DIRS=f"/tmp/spark-local-{i}")
    return spawn(["taskset", "-c", cores,
                  os.path.join(SPARK_HOME, "bin", "spark-class"),
                  "org.apache.spark.deploy.worker.Worker", MASTER_URL,
                  "--cores", str(EXEC_CORES), "--memory", "10g",
                  "--port", str(42000 + (4 * _worker_gen + i) % 2000),
                  "--webui-port", str(8190 + (4 * _worker_gen + i) % 2000)],
                 env)


# ------------------------------------------------------------------- probe
_PROBE_CODE = """
import numpy as np, time, statistics
a = np.ones(64 * 1024 * 1024, dtype=np.float64)   # 512 MB
b = np.empty_like(a); np.copyto(b, a)             # fault pages in (untimed)
reps = []
for _ in range(7):
    t0 = time.perf_counter(); np.copyto(b, a)
    reps.append(2 * a.nbytes / (time.perf_counter() - t0) / 1e9)
print(round(statistics.median(reps), 2))
"""


def probe_gbps() -> float:
    """Median single-thread memcpy bandwidth on the probe cores (GB/s)."""
    out = subprocess.run(["taskset", "-c", PROBE_CORES, sys.executable,
                          "-c", _PROBE_CODE],
                         capture_output=True, text=True, timeout=120)
    return float(out.stdout.strip())


# ------------------------------------------------------------------ engine
def n_execs(spark) -> int:
    # executor JVMs currently registered (memory-status map includes driver)
    return spark.sparkContext._jsc.sc().getExecutorMemoryStatus().size() - 1


def wait_execs(spark, n: int, timeout: float = 120.0,
               hold_sec: float = 3.0) -> None:
    """Settle at EXACTLY n executors and hold there for hold_sec — a count
    that is merely passing through n (late executor registration, zombie
    re-register) must not start a phase (the r3 24M campaign lost a pair to
    a 4-core phase accidentally running with 6 executors)."""
    t0 = time.monotonic()
    stable_since = None
    while True:
        ok = n_execs(spark) == n
        now = time.monotonic()
        if ok:
            if stable_since is None:
                stable_since = now
            elif now - stable_since >= hold_sec:
                return
        else:
            stable_since = None
        if now - t0 > timeout:
            raise RuntimeError(
                f"cluster did not settle at {n} executors "
                f"(has {n_execs(spark)})")
        time.sleep(0.5)


def stage_inputs(spark) -> None:
    """Stage the deterministic feed + its batch-oracle final state (untimed,
    shared across every phase/campaign — literally the same input bytes)."""
    from etl_api_bigquery_spark.cdc import change_feed, expected_final_state
    from etl_api_bigquery_spark.cdc.generator import write_feed_as_epoch_files
    if not os.path.exists(os.path.join(FEED_DIR, "_STAGED")):
        tmp = f"{FEED_DIR}.staging.{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        feed = change_feed(spark, n_events=N_EVENTS, n_keys=N_KEYS,
                           n_epochs=N_EPOCHS)
        write_feed_as_epoch_files(feed, tmp, FILES_PER_EPOCH)
        open(os.path.join(tmp, "_STAGED"), "w").close()
        try:
            os.rename(tmp, FEED_DIR)
        except OSError:
            shutil.rmtree(tmp, ignore_errors=True)
    if not os.path.exists(EXPECTED_DIR):
        (expected_final_state(spark.read.parquet(FEED_DIR))
         .write.mode("overwrite").parquet(EXPECTED_DIR))


def warm_feed() -> None:
    """Pin the staged feed in the OS page cache (ELASTIC_WARM_FEED=1).

    The r4f campaign showed pair efficiency drifting 0.73 -> 0.81-0.86 over
    its last third as the 23 GB feed became cache-resident: a cold read
    penalizes the 16-slot phase ~4x more slot-seconds than the 4-slot phase,
    i.e. cache state is a substrate ASYMMETRY between the two halves of a
    pair, exactly like cold JIT (which the protocol already warms away).
    Reading every feed byte once at campaign start and re-touching it at
    each cycle start (before the first idle-gap probe, never inside a
    phase) makes the read-side state symmetric across every pair. Runs on
    the driver cores (24-31), which no worker or probe uses."""
    if os.environ.get("ELASTIC_WARM_FEED") != "1":
        return
    t0 = time.monotonic()
    n_bytes = 0
    for root, _dirs, files in os.walk(FEED_DIR):
        for fn in files:
            if not fn.endswith(".parquet"):
                continue
            with open(os.path.join(root, fn), "rb") as fh:
                while True:
                    chunk = fh.read(1 << 23)
                    if not chunk:
                        break
                    n_bytes += len(chunk)
    print(f"[warm_feed] {n_bytes / 1e9:.1f} GB in "
          f"{time.monotonic() - t0:.1f}s", flush=True)


def gap_sync() -> None:
    """Drain filesystem writeback inside the idle gap (ELASTIC_GAP_SYNC=1).

    The r4g order split (4->1 pairs median 0.806, 1->4 pairs 0.737)
    localized another substrate ASYMMETRY: a phase writes ~GBs of table +
    checkpoint data, and when the 16-slot phase runs second it absorbs the
    prior phase's dirty-page writeback + journal flush with 4x the
    slot-seconds exposure (the 4-core phase barely notices — idle cores
    absorb the kernel threads). Unlink the previous phase's output FIRST
    (dropping its dirty pages without IO — run_phase re-creates the dirs
    anyway), then os.sync() so journal/metadata flush lands in the gap,
    before the gap probe, never inside a timed phase."""
    if os.environ.get("ELASTIC_GAP_SYNC") != "1":
        return
    t0 = time.monotonic()
    shutil.rmtree(f"{WORK}/silver", ignore_errors=True)
    shutil.rmtree(f"{WORK}/ckpt", ignore_errors=True)
    os.sync()
    print(f"[gap_sync] {time.monotonic() - t0:.1f}s", flush=True)


def warmup_merge(spark) -> None:
    """Untimed JIT/codegen warmup on freshly started executors (bench.py
    does the same before its timed window)."""
    from pyspark.sql import types as T

    from etl_api_bigquery_spark.cdc import change_feed
    from etl_api_bigquery_spark.lake import LakeTable
    from etl_api_bigquery_spark.lake.merge import merge_cdc_batch
    schema = T.StructType([T.StructField(c, T.StringType()) for c in
                           ("repo", "path", "commit", "lang", "content")])
    wdir = f"{WORK}/warmup"
    shutil.rmtree(wdir, ignore_errors=True)
    wtab = LakeTable.create(spark, wdir, schema, key_cols=["repo", "path"],
                            num_buckets=NUM_BUCKETS)
    merge_cdc_batch(wtab, change_feed(spark, n_events=200_000, n_keys=20_000,
                                      n_epochs=1),
                    batch_id=0, txn_app="warmup", mode="raw", prefilter=True)


def _cpu_counters(cores: set[int] | None = None) -> tuple[int, int, int]:
    """(steal, iowait, total) jiffies summed over the 16 worker cores.

    PRE-REGISTERED in-phase co-tenancy instrument (added before the r4i
    campaign ran; applied uniformly to every pair that records it). The
    idle-gap memcpy probe bounds the ambient state AROUND a phase but is
    blind to a hypervisor-level burst landing INSIDE one — the exact term
    the round-4 plateau analysis attributes the residual spread to.
    /proc/stat steal time is passive (no bandwidth perturbation, unlike an
    in-phase memcpy) and counts precisely the cycles a co-tenant VM took
    from this one. Supplementary cut (reported alongside, never replacing,
    the primary gap-probe validity rule): STEAL-QUIET = steal fraction
    <= 1% of elapsed core-seconds over BOTH phases of the pair."""
    steal = iowait = total = 0
    watched = (set(cores) if cores is not None
               else set(range(4 * EXEC_CORES)))   # default: the worker cores
    with open("/proc/stat") as fh:
        for ln in fh:
            if ln.startswith("cpu") and ln[3].isdigit():
                core = int(ln.split()[0][3:])
                if core not in watched:
                    continue
                f = [int(x) for x in ln.split()[1:]]
                steal += f[7]
                iowait += f[4]
                total += sum(f)
    return steal, iowait, total


_SPIN_CODE = """
import time
x = 123456789
while True:
    t0 = time.perf_counter(); n = 0
    while time.perf_counter() - t0 < 0.5:
        for _ in range(20000):
            x = (x * 1103515245 + 12345) & 0xFFFFFFFF
        n += 20000
    print(round(n / (time.perf_counter() - t0) / 1e6, 3), flush=True)
"""


class SpinClock:
    """Per-phase effective-clock instrument (PRE-REGISTERED before r4j ran).

    A register-bound dependent-chain spin loop pinned to core 18 — a core
    no worker (0-15), probe (16-17) or driver (24-31) uses — whose loop
    rate is proportional to the core's effective frequency and touches no
    memory beyond L1. Sampled DURING each phase, it measures the package-
    level clock differential between the 4-busy-core and 16-busy-core
    regimes (measured live on this host: ~5% median dip at 16 busy cores,
    with burst samples to -18%), which a single-host N vs 4N comparison
    pays but a multi-host fleet does not: per-core clocks on a real
    cluster do not depend on how many OTHER hosts are running. Each pair
    records the per-phase median Mops; the report shows eff and
    clock-normalized eff = eff / (clock_p4 / clock_p1) side by side.
    Passive by construction: one otherwise-idle core, zero DRAM traffic."""

    def __init__(self) -> None:
        self.proc = subprocess.Popen(
            ["taskset", "-c", "18", sys.executable, "-u", "-c", _SPIN_CODE],
            stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
            preexec_fn=os.setsid)

    def stop(self) -> float | None:
        os.killpg(os.getpgid(self.proc.pid), signal.SIGTERM)
        out, _ = self.proc.communicate(timeout=30)
        rates = [float(x) for x in out.split() if x]
        return round(statistics.median(rates), 3) if rates else None


def run_phase(spark, level_execs: int) -> dict:
    """One sha-verified replay of the staged feed at the current cluster
    size; returns steady throughput + telemetry."""
    from pyspark.sql import types as T

    from etl_api_bigquery_spark.cdc.oracle import assert_replay_match
    from etl_api_bigquery_spark.lake import LakeTable
    from etl_api_bigquery_spark.streaming import CdcStreamRunner
    # per-level SQL-shuffle parity with the prior protocols (AQE coalesces)
    spark.conf.set("spark.sql.shuffle.partitions", str(4 * level_execs))
    for k, v in SQLCONF.items():
        spark.conf.set(k, v)
    execs_before = n_execs(spark)
    tdir, ckpt = f"{WORK}/silver", f"{WORK}/ckpt"
    shutil.rmtree(tdir, ignore_errors=True)
    shutil.rmtree(ckpt, ignore_errors=True)
    schema = T.StructType([T.StructField(c, T.StringType()) for c in
                           ("repo", "path", "commit", "lang", "content")])
    table = LakeTable.create(spark, tdir, schema, key_cols=["repo", "path"],
                             num_buckets=NUM_BUCKETS)
    runner = CdcStreamRunner(spark, table, FEED_DIR, ckpt, txn_app="bench",
                             mode=MODE, prefilter=PREFILTER,
                             l0_groups=L0_GROUPS,
                             auto_compact_deltas=COMPACT_AT,
                             max_files_per_trigger=FILES_PER_EPOCH)
    cpu0 = _cpu_counters()
    spin = SpinClock()
    t0 = time.monotonic()
    try:
        runner.run_available_now(timeout_sec=1800)
    finally:
        wall = time.monotonic() - t0
        clock_mops = spin.stop()
    cpu1 = _cpu_counters()
    d_total = max(cpu1[2] - cpu0[2], 1)
    steal_frac = round((cpu1[0] - cpu0[0]) / d_total, 5)
    iowait_frac = round((cpu1[1] - cpu0[1]) / d_total, 5)
    batch_secs = [m.duration_sec for m in runner.metrics
                  if not m.skipped_fence]
    steady_secs = batch_secs[1:]
    steady = BATCH_EVENTS / min(steady_secs)
    match = assert_replay_match(table.read(),
                                spark.read.parquet(EXPECTED_DIR))
    return {
        "execs": level_execs,
        "execs_stable": execs_before == level_execs
        and n_execs(spark) == level_execs,
        "wall_sec": round(wall, 3),
        "batch_secs": [round(s, 3) for s in batch_secs],
        "steady_events_per_sec": round(steady, 1),
        "steal_frac": steal_frac,
        "iowait_frac": iowait_frac,
        "clock_mops": clock_mops,
        "rows_matched": match["total"],
        # per-batch phase decomposition (plan/write/harvest/fsync/compact)
        # + the streaming wrapper's durationMs — makes every pair carry the
        # evidence needed to attribute residual efficiency loss, instead of
        # a separate instrumented run
        "phases": [m.extra.get("phases") for m in runner.metrics
                   if not m.skipped_fence],
        "progress_ms": [p.get("durationMs", {}) for p in runner.progress],
    }


# ------------------------------------------------------------------ report
def load_pool() -> list[dict]:
    pairs = []
    if os.path.exists(POOL):
        with open(POOL) as fh:
            pairs = [json.loads(ln) for ln in fh if ln.strip()]
    return pairs


def _score(pool: list[dict]) -> dict:
    for p in pool:
        p["eff"] = round((p["p4"]["steady_events_per_sec"]
                          / p["p1"]["steady_events_per_sec"]) / 4, 3)
        gp = p["gap_gbps"]
        p["stationary"] = max(gp) / min(gp) <= VALID_BAND
        p["valid"] = (p["stationary"] and p["p1"]["execs_stable"]
                      and p["p4"]["execs_stable"])
        p["quiet"] = min(gp) >= QUIET_GBPS
        # supplementary in-phase instrument (pairs that recorded it only):
        # both phases lost <= 1% of worker-core jiffies to hypervisor steal
        sf = [p[k].get("steal_frac") for k in ("p1", "p4")]
        p["steal_quiet"] = (None if any(s is None for s in sf)
                            else max(sf) <= 0.01)
        # per-pair effective-clock ratio (SpinClock instrument, r4j+): the
        # package clocks the 16-busy-core phase lower than the 4-busy-core
        # phase; a multi-host fleet does not pay this term, so the report
        # carries eff / clock_ratio alongside the raw eff.
        cm = [p[k].get("clock_mops") for k in ("p1", "p4")]
        if all(cm):
            p["clock_ratio"] = round(cm[1] / cm[0], 4)
            p["eff_clock_norm"] = round(p["eff"] / p["clock_ratio"], 3)
        else:
            p["clock_ratio"] = p["eff_clock_norm"] = None
    valid = [p for p in pool if p["valid"]]
    quiet = [p for p in valid if p["quiet"]]
    steal_q = [p for p in valid if p["steal_quiet"]]
    clocked = [p for p in valid if p["eff_clock_norm"] is not None]

    def med(ps, key="eff"):
        return round(statistics.median([p[key] for p in ps]), 3) if ps \
            else None

    med_valid = med(valid)
    med_ratio = med(clocked, "clock_ratio")
    ratios = sorted(p["clock_ratio"] for p in clocked)
    # noise-robust clock normalization (ADVICE r4 #3): the per-pair spin
    # probe also picks up transient co-tenant noise (observed ratios up to
    # >1), so dividing each pair by its OWN ratio injects that noise into
    # eff/clk; dividing the raw median by the CAMPAIGN-median ratio keeps
    # only the systematic package-clock term.
    robust = (round(med_valid / med_ratio, 3)
              if med_valid is not None and med_ratio else None)
    return {"n_pairs": len(pool), "n_valid": len(valid),
            "n_quiet": len(quiet), "median_all": med(pool),
            "median_valid": med_valid, "median_quiet": med(quiet),
            "n_steal_recorded": sum(p["steal_quiet"] is not None
                                    for p in valid),
            "n_steal_quiet": len(steal_q),
            "median_steal_quiet": med(steal_q),
            "n_clocked": len(clocked),
            "median_clock_ratio": med_ratio,
            "clock_ratio_min": ratios[0] if ratios else None,
            "clock_ratio_max": ratios[-1] if ratios else None,
            "median_eff_clock_norm": med(clocked, "eff_clock_norm"),
            "median_eff_robust_norm": robust}


def write_report() -> dict:
    # score only the listed engine generation(s) — pairs from an older
    # engine are a different population (kept in the jsonl for history) —
    # and report each (gen, mode, events/batch, L0 clustering) as its own
    # operating point: the constant per-trigger serial cost amortizes with
    # batch size, so pooling configs would blend different regimes.
    # ELASTIC_REPORT_GENS (comma list) lets the report carry the headline
    # campaign AND A/B-experiment generations side by side; the summary /
    # headline is always drawn from the FIRST listed gen.
    gen = os.environ.get("ENGINE_GEN", "r3")
    gens = [g for g in os.environ.get(
        "ELASTIC_REPORT_GENS", gen).split(",") if g]
    full_pool = [p for p in load_pool() if p.get("engine") in gens]
    pool = [p for p in full_pool if "p1" in p and "p4" in p]
    n_errors = len(full_pool) - len(pool)

    def cfg_key(p: dict) -> tuple:
        return (p.get("engine"), p.get("mode", "mor"),
                (p.get("n_events") or N_EVENTS) // (p.get("n_epochs") or
                                                    N_EPOCHS),
                p.get("l0_groups") or 1)

    configs: dict[tuple, list[dict]] = {}
    for p in pool:
        configs.setdefault(cfg_key(p), []).append(p)
    # headline config = first-listed gen, most valid pairs (largest batch
    # size breaks ties — the production-representative operating point)
    scored = {k: _score(ps) for k, ps in configs.items()}
    headline_keys = [k for k in scored if k[0] == gens[0]] or list(scored)
    headline_key = max(headline_keys,
                       key=lambda k: (scored[k]["n_valid"], k[2])) \
        if headline_keys else None
    summary = dict(scored.get(headline_key) or
                   {"n_pairs": 0, "n_valid": 0, "n_quiet": 0,
                    "median_all": None, "median_valid": None,
                    "median_quiet": None},
                   n_errors=n_errors,
                   configs={f"{k[0]}/{k[1]}/{k[2] // 1_000_000}M/l0g{k[3]}":
                            scored[k] for k in scored})
    lines = [
        "# BENCH/ELASTIC.md — N vs 4N executors, tight-pair elastic protocol",
        "",
        "One long-lived driver app on a real standalone cluster "
        "(spark.cores.max=16, executor.cores=4, worker JVMs pinned to "
        "disjoint 4-core slices). Worker JVMs are started/killed BETWEEN "
        "phases, so the same warm app replays the same staged feed at 1 and "
        "at 4 executors back-to-back — the two halves of a pair sit minutes "
        "closer than in the per-spark-submit protocols, inside the "
        "stationarity window of this shared VM's contention bursts. Phase "
        "order alternates per cycle; fresh executors get one untimed warmup "
        "merge; every phase's final table is sha256-verified against the "
        "batch oracle before it may score. Executors join/leave between "
        "micro-batches throughout — the green sha checks double as an "
        "exactly-once-under-elastic-scaling demonstration. Generations "
        "whose pair rows carry `warm_feed: true` additionally re-pin the "
        "staged feed in the OS page cache at each cycle start (before the "
        "first gap probe, never inside a phase), so read-side cache state "
        "is symmetric across the two halves of a pair — cold reads cost "
        "the 16-slot phase ~4x more slot-seconds than the 4-slot phase.",
        "",
        "**Pre-registered validity rule** (applied uniformly; all pairs "
        "disclosed below, invalid ones excluded from the median because "
        "their own instrument says the ratio's stationarity precondition "
        "failed): a single-thread 512 MB memcpy probe (median of 7) on "
        "cores 16-17 — cores nothing in the protocol uses — sampled in the "
        "three idle gaps around the two phases; a pair is valid iff "
        f"max/min of the three gap probes <= {VALID_BAND} and the executor "
        f"count was stable over both phases. QUIET = all gaps >= "
        f"{QUIET_GBPS} GB/s (near-idle band; host idle ceiling ~16), "
        "reported as the secondary quiet-substrate cut. Pairs measured "
        "from r4i onward additionally record a passive IN-PHASE "
        "instrument: the /proc/stat hypervisor-steal fraction of the 16 "
        "worker cores over each phase (the gap probes bound the ambient "
        "state around a phase but are blind to a co-tenant burst landing "
        "inside one — the term the round-4 plateau analysis attributes "
        "the residual pair spread to). STEAL-QUIET = both phases <= 1% "
        "steal, pre-registered before the first recording campaign ran, "
        "reported as a supplementary cut alongside (never replacing) the "
        "primary rule.",
        "",
        f"Engine generation(s) `{','.join(gens)}`: {len(pool)} pairs "
        f"measured across {len(configs)} operating point(s); {n_errors} "
        "cycle(s) errored (disclosed in the pool, never scored). Each "
        "operating point (engine gen / write mode / events per micro-batch "
        "/ L0 clustering) is scored separately — the constant per-trigger "
        "serial cost amortizes with batch size, so their efficiencies are "
        "different populations. Generations beyond the first are "
        "A/B-experiment populations (one lever changed, named in the gen "
        "tag), not the headline engine.",
    ]
    for key in sorted(configs,
                      key=lambda k: (gens.index(k[0]), k[1], k[2])):
        kgen, mode, batch_events, l0g = key
        s = scored[key]
        cfg_pool = configs[key]
        para = (
            f"**Median pair efficiency over VALID pairs = "
            f"{s['median_valid']}** ({s['n_valid']} valid of "
            f"{s['n_pairs']} measured; BASELINE.json target >= 0.8). "
            f"Median over ALL pairs {s['median_all']}; median over "
            f"valid&quiet pairs {s['median_quiet']} "
            f"({s['n_quiet']} pairs).")
        # instrument sentences only for campaigns whose pairs recorded
        # them — pre-instrument campaigns otherwise render None/0
        # boilerplate (ADVICE r4 #2)
        if s["n_steal_recorded"]:
            para += (
                f" Median over valid&steal-quiet pairs "
                f"{s['median_steal_quiet']} ({s['n_steal_quiet']} of "
                f"{s['n_steal_recorded']} recording pairs — supplementary "
                "in-phase /proc/stat instrument, pre-registered before "
                "r4i: both phases lost <= 1% of worker-core jiffies to "
                "hypervisor steal).")
        if s["n_clocked"]:
            para += (
                " Pairs recording the SpinClock instrument (r4j+) "
                "additionally carry the measured per-phase "
                "effective-clock ratio: median clock@16busy/clock@4busy "
                f"= {s['median_clock_ratio']} (per-pair spread "
                f"{s['clock_ratio_min']}-{s['clock_ratio_max']} — the "
                "probe also picks up transient co-tenant noise, so the "
                "per-pair ratio is itself noisy), median CLOCK-NORMALIZED "
                f"efficiency = **{s['median_eff_clock_norm']}** over "
                f"{s['n_clocked']} valid pairs — the median over valid "
                "pairs of each pair's efficiency divided by its own "
                "measured clock ratio, removing only the single-package "
                "clock differential, the term a multi-host fleet does not "
                "pay (per-core clocks on a real cluster do not depend on "
                "fleet size). Noise-robust variant (raw median / "
                f"campaign-median ratio) = {s['median_eff_robust_norm']}; "
                "the raw median stays the number of record.")
        lines += [
            "",
            f"## {kgen}: {mode} mode, "
            f"{batch_events / 1_000_000:g}M events/batch, "
            f"l0_groups={l0g}",
            "",
            para,
            "",
            "| # | order | gap probes GB/s | steal %@1/@4 | clk ratio "
            "| steady ev/s @1 | steady ev/s @4 | eff | eff/clk | valid "
            "| quiet |",
            "|---|---|---|---|---|---|---|---|---|---|---|",
        ]
        for i, p in enumerate(cfg_pool):
            gp = "/".join(f"{g:.1f}" for g in p["gap_gbps"])
            sf = [p[k].get("steal_frac") for k in ("p1", "p4")]
            steal = ("-" if any(s is None for s in sf)
                     else "/".join(f"{100 * s:.2f}" for s in sf))
            clk = (f"{p['clock_ratio']:.3f}" if p["clock_ratio"] else "-")
            effc = (f"{p['eff_clock_norm']:.3f}"
                    if p["eff_clock_norm"] else "-")
            lines.append(
                f"| {i} | {p['order']} | {gp} | {steal} | {clk} "
                f"| {p['p1']['steady_events_per_sec']:,.0f} "
                f"| {p['p4']['steady_events_per_sec']:,.0f} "
                f"| {p['eff']:.3f} | {effc} "
                f"| {'y' if p['valid'] else 'NO'} "
                f"| {'y' if p['quiet'] else ''} |")
    lines += [
        "",
        "Prior protocols (wide pairs, separate spark-submit per level) are "
        "kept in BENCH/BASELINE.md and BENCH/CLUSTER.md; their pooled "
        "medians under-measure in busy windows because a 5-minute pair "
        "span exceeds the host's contention-burst timescale — the probe "
        "traces above make that failure mode measurable instead of "
        "argued.",
        "",
        "Raw pairs (every pair ever measured, with full per-phase "
        "telemetry): `BENCH/elastic_pairs.jsonl`. Protocol: "
        "`scripts/bench_elastic_scaling.py`.",
    ]
    with open(REPORT, "w") as fh:
        fh.write("\n".join(lines) + "\n")
    return summary


# ---------------------------------------------------------------- campaign
def main() -> None:
    if "--report-only" in sys.argv:
        print(json.dumps(write_report()))
        return
    max_cycles = int(sys.argv[1]) if len(sys.argv) > 1 else 1000
    budget_sec = float(os.environ.get("ELASTIC_MINUTES", "50")) * 60
    os.sched_setaffinity(0, set(DRIVER_CORES))   # driver JVM inherits

    from etl_api_bigquery_spark.session import get_spark
    procs: list[subprocess.Popen] = []
    extra_workers: list[subprocess.Popen] = []
    t_start = time.monotonic()
    try:
        procs.append(start_master())
        procs.append(start_worker(0))
        time.sleep(6)
        spark = get_spark(app_name="elastic-scaling", master=MASTER_URL,
                          shuffle_partitions=16,
                          extra_conf={"spark.cores.max": "16",
                                      "spark.executor.cores": "4",
                                      "spark.executor.memory": "8g",
                                      **APPCONF})
        spark.sparkContext.setLogLevel("ERROR")
        wait_execs(spark, 1)
        warmup_merge(spark)
        stage_inputs(spark)
        warm_feed()

        def scale_to(n: int) -> None:
            nonlocal extra_workers
            if n == 4 and not extra_workers:
                extra_workers = [start_worker(i) for i in (1, 2, 3)]
                wait_execs(spark, 4)
                warmup_merge(spark)       # JIT the fresh executor JVMs
            elif n == 1 and extra_workers:
                for p in extra_workers:
                    kill(p)
                extra_workers = []
                wait_execs(spark, 1)

        cycle = 0
        while cycle < max_cycles and time.monotonic() - t_start < budget_sec:
            order = (1, 4) if cycle % 2 == 0 else (4, 1)
            rec: dict = {"protocol": "elastic_v2",
                         "engine": os.environ.get("ENGINE_GEN", "r3"),
                         "num_buckets": NUM_BUCKETS, "mode": MODE,
                         "n_events": N_EVENTS, "n_epochs": N_EPOCHS,
                         "prefilter": PREFILTER,
                         "l0_groups": L0_GROUPS,
                         "ts": round(time.time(), 1),
                         "order": f"{order[0]}->{order[1]}", "gap_gbps": []}
            if SQLCONF:
                rec["sqlconf"] = SQLCONF
            if APPCONF:
                rec["appconf"] = APPCONF
            if os.environ.get("ELASTIC_WARM_FEED") == "1":
                rec["warm_feed"] = True
            if os.environ.get("ELASTIC_GAP_SYNC") == "1":
                rec["gap_sync"] = True
            try:
                warm_feed()      # re-touch BEFORE the first gap probe
                gap_sync()
                scale_to(order[0])
                rec["gap_gbps"].append(probe_gbps())
                rec[f"p{order[0]}"] = run_phase(spark, order[0])
                gap_sync()       # drain phase-A writeback in the gap
                scale_to(order[1])
                rec["gap_gbps"].append(probe_gbps())
                rec[f"p{order[1]}"] = run_phase(spark, order[1])
                gap_sync()
                rec["gap_gbps"].append(probe_gbps())
            except Exception as exc:       # disclose, don't die: next cycle
                rec["error"] = repr(exc)[:500]
                with open(POOL, "a") as fh:
                    fh.write(json.dumps(rec) + "\n")
                print(json.dumps({"cycle": cycle, "error": rec["error"]}),
                      file=sys.stderr, flush=True)
                # resync cluster state for the next cycle
                try:
                    scale_to(1)
                except Exception:
                    break
                cycle += 1
                continue
            with open(POOL, "a") as fh:
                fh.write(json.dumps(rec) + "\n")
            eff = round((rec["p4"]["steady_events_per_sec"]
                         / rec["p1"]["steady_events_per_sec"]) / 4, 3)
            gp = rec["gap_gbps"]
            print(json.dumps({"cycle": cycle, "order": rec["order"],
                              "eff": eff,
                              "stationary": max(gp) / min(gp) <= VALID_BAND,
                              "gaps": gp}), flush=True)
            cycle += 1
    finally:
        for p in extra_workers:
            kill(p)
        for p in reversed(procs):
            kill(p)
        time.sleep(3)
    print(json.dumps(write_report()))


if __name__ == "__main__":
    main()
