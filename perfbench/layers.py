"""Per-layer metrics and the per-trigger ledger, from one traced run.

Layers are named by module: ``runner`` (``streaming.runner`` and Spark's
trigger phases), ``merge`` (``lake.merge.merge_cdc_batch``), ``table``
(``lake.table.LakeTable``) and ``jvm``.

Each trigger's ledger splits its ``triggerExecution`` into Spark's own
progress phases, the part of ``addBatch`` outside ``merge_cdc_batch``, and
the merge span's children (fence, evolve, snapshot, the write call and the
wait on the previous async commit inside it) plus the merge's self time. The
entries sum to ``triggerExecution``; ``unexplained`` is the part of the
trigger no progress phase covers.
"""

from __future__ import annotations

import json
import os
import statistics
from dataclasses import dataclass

from spans import Tracer

UNITS = {
    "runner.wrapper_s_p50": "s", "runner.add_batch_s_p50": "s",
    "runner.unexplained_s_p50": "s", "runner.drain_tail_s": "s",
    "runner.triggers": "count", "runner.events_per_trigger": "events",
    "merge.self_s_p50": "s", "merge.write_job_s_p50": "s",
    "merge.harvest_s_p50": "s", "merge.commit_fsync_s_p50": "s",
    "table.snapshot_calls_per_trigger": "count",
    "table.log_listings_per_trigger": "count",
    "table.snapshot_s_per_trigger": "s", "table.last_txn_s_per_trigger": "s",
    "table.commit_wait_s_per_trigger": "s", "table.compactions": "count",
    "table.compact_fold_s_sum": "s", "table.compact_overlap_share": "ratio",
    "table.maint_join_wait_s": "s", "table.log_len_end": "count",
    "table.l0_files_end": "count", "table.max_read_amp_end": "count",
    "table.read_plan_s_p50": "s", "table.read_exec_s_p50": "s",
    "table.read_amp_max": "count", "table.read_files_per_scan": "count",
    "jvm.gc_s_per_trigger": "s",
}

MERGE_CHILDREN = {"table.last_txn": "fence", "merge.evolve": "evolve",
                  "table.snapshot": "snapshot",
                  "table.append_deltas": "append"}


@dataclass
class Context:
    """What the traced run measured outside the spans."""
    triggers: list[dict]          # TriggerLog events of the drain
    merge_metrics: list           # runner.metrics, settled after the drain
    drain_end_wall: float
    gc_s: float
    events: int
    ingest_state: dict
    depth_state: dict
    read_depth: dict              # probe samples at the read depth


def _dur(s: dict) -> float:
    return s["end"] - s["start"]


def _foreground(s: dict) -> bool:
    return not s["thread"].startswith("lake-")


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def _overlap(a0: float, a1: float, iv: list[tuple[float, float]]) -> float:
    return sum(max(0.0, min(a1, b1) - max(a0, b0)) for b0, b1 in iv)


def ledger(tracer: Tracer, ctx: Context) -> list[dict]:
    spans = [s for s in tracer.spans if s["phase"] == "ingest"]
    children: dict[int, list[dict]] = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    merges = {s["batch"]: s for s in spans if s["name"] == "merge"}
    out = []
    for trig in ctx.triggers:
        ms = trig["ms"]
        total = ms["triggerExecution"] / 1000.0
        add = ms.get("addBatch", 0) / 1000.0
        row = {"batch": trig["batch"], "triggerExecution": total}
        for k, v in ms.items():
            if k not in ("triggerExecution", "addBatch"):
                row[f"spark.{k}"] = v / 1000.0
        m = merges.get(trig["batch"])
        merge_s = _dur(m) if m else 0.0
        row["add_batch.outside_merge"] = add - merge_s
        kids = children.get(m["id"], []) if m else []
        for name, label in MERGE_CHILDREN.items():
            row[f"merge.{label}"] = sum(_dur(c) for c in kids
                                        if c["name"] == name)
        for c in kids:
            if c["name"] == "table.append_deltas":
                wait = sum(_dur(g) for g in children.get(c["id"], [])
                           if g["name"] == "table.join_pending_commit")
                row["merge.append.commit_wait"] = wait
        row["merge.append"] -= row.get("merge.append.commit_wait", 0.0)
        row["merge.other"] = sum(_dur(c) for c in kids
                                 if c["name"] not in MERGE_CHILDREN)
        row["merge.self"] = merge_s - sum(_dur(c) for c in kids)
        row["unexplained"] = total - add - sum(
            v for k, v in row.items() if k.startswith("spark."))
        parts = sum(v for k, v in row.items()
                    if k not in ("batch", "triggerExecution"))
        row["sum_check"] = parts - total       # 0 up to float rounding
        out.append(row)
    return out


def per_layer(tracer: Tracer, ctx: Context) -> tuple[dict, list[dict]]:
    led = ledger(tracer, ctx)
    n = max(1, len(ctx.triggers))
    ing = [s for s in tracer.spans if s["phase"] == "ingest"]
    not_maint = [s for s in ing if not s["thread"].startswith("lake-maint")]
    fg = [s for s in ing if _foreground(s)]

    def total(ss, name):
        return sum(_dur(s) for s in ss if s["name"] == name)

    ms = [t["ms"] for t in ctx.triggers]
    trig_iv = [(t["start"], t["start"] + t["ms"]["triggerExecution"] / 1000)
               for t in ctx.triggers]
    folds = [s for s in ing if s["name"] == "table.compact_deltas"]
    fold_s = sum(_dur(s) for s in folds)
    off = tracer.wall_offset
    overlap = sum(_overlap(s["start"] + off, s["end"] + off, trig_iv)
                  for s in folds)
    phases = [m.extra.get("phases", {}) for m in ctx.merge_metrics
              if not m.skipped_fence]

    def phase(k):
        return _median([p[k] for p in phases if k in p])

    listings = [x for x in tracer.listings if x["phase"] == "ingest"
                and not x["thread"].startswith("lake-maint")]
    metrics = {
        "runner.wrapper_s_p50": _median(
            [(m["triggerExecution"] - m.get("addBatch", 0)) / 1000
             for m in ms]),
        "runner.add_batch_s_p50": _median([m.get("addBatch", 0) / 1000
                                           for m in ms]),
        "runner.unexplained_s_p50": _median([r["unexplained"] for r in led]),
        "runner.drain_tail_s": ctx.drain_end_wall - max(
            (b for _, b in trig_iv), default=ctx.drain_end_wall),
        "runner.triggers": len(ctx.triggers),
        "runner.events_per_trigger": ctx.events / n,
        "merge.self_s_p50": _median([r["merge.self"] for r in led]),
        "merge.write_job_s_p50": phase("write_job_s"),
        "merge.harvest_s_p50": phase("harvest_s"),
        "merge.commit_fsync_s_p50": phase("commit_fsync_s"),
        "table.snapshot_calls_per_trigger": sum(
            1 for s in not_maint if s["name"] == "table.snapshot") / n,
        "table.log_listings_per_trigger": len(listings) / n,
        "table.snapshot_s_per_trigger": total(not_maint,
                                              "table.snapshot") / n,
        "table.last_txn_s_per_trigger": total(not_maint,
                                              "table.last_txn") / n,
        "table.commit_wait_s_per_trigger": total(
            fg, "table.join_pending_commit") / n,
        "table.compactions": len(folds),
        "table.compact_fold_s_sum": fold_s,
        "table.compact_overlap_share": overlap / fold_s if fold_s else 0.0,
        "table.maint_join_wait_s": total(fg, "table.join_maintenance"),
        "table.log_len_end": ctx.ingest_state["log_len"],
        "table.l0_files_end": ctx.ingest_state["l0_files"],
        "table.max_read_amp_end": ctx.ingest_state["max_read_amp"],
        "table.read_plan_s_p50": _median(ctx.read_depth["plan"]),
        "table.read_exec_s_p50": _median(ctx.read_depth["exec"]),
        "table.read_amp_max": ctx.depth_state["max_read_amp"],
        "table.read_files_per_scan": ctx.depth_state["files"],
        "jvm.gc_s_per_trigger": ctx.gc_s / n,
    }
    return metrics, led


def print_ledger(led: list[dict]) -> None:
    """Median of each ledger entry over the drain's triggers."""
    keys = sorted({k for r in led for k in r} - {"batch"})
    med = {k: round(_median([r.get(k, 0.0) for r in led]), 4) for k in keys}
    print(f"perfbench ledger (median over {len(led)} triggers): "
          + json.dumps(med), flush=True)


def print_overhead(traced: dict, untraced_log: str, workload: str) -> None:
    """This traced run's end-to-end numbers beside the medians of the
    untraced runs of the same workload recorded in this checkout."""
    rows = []
    if os.path.exists(untraced_log):
        with open(untraced_log) as fh:
            rows = [r for r in map(json.loads, fh)
                    if r["workload"] == workload]
    cmp = {k: {"traced": round(v, 4),
               "untraced_median": (round(statistics.median(
                   [r[k] for r in rows]), 4) if rows else None)}
           for k, v in traced.items()}
    print(f"perfbench tracing overhead (untraced runs: {len(rows)}): "
          + json.dumps(cmp), flush=True)
