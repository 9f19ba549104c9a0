"""Keyed MERGE (upsert/delete apply) into a LakeTable — the heart of the engine.

Reimplements the reference's BigQuery MERGE statements (M1/M2:
src/features/nhanh/bills/components/loader.py:327-583 —
``WHEN MATCHED THEN UPDATE SET <all cols> / WHEN NOT MATCHED THEN INSERT``,
keys ``(id,date)`` / ``(bill_id,product_id)``) plus its last-writer-wins dedup
(W1/J4: ROW_NUMBER() OVER (PARTITION BY key ORDER BY extraction_timestamp DESC)
... rn=1, src/scripts/remove_duplicates.py:47-63) as one LSM write path:

1. **Append** the change batch exactly as scanned — bucket column computed
   map-side, no shuffle, no dedup — as LWW-resolvable delta files, with the
   exactly-once fence properties and lineage metrics in the same commit.
2. **Resolve at read**: every read collapses a key to its max-LSN row
   (:meth:`LakeTable._resolve_lww`); a winning DELETE stays as a tombstone
   that keeps guarding the key against older redelivered events.
   Delete-then-reinsert inside one batch resolves correctly because the
   max-LSN event's op decides (SURVEY.md §7.5 item 2).
3. **Fold** (:meth:`LakeTable.compact_deltas`): rewrite the resolved state of
   a bucket set as base files, reading ONLY those buckets' files via the
   manifest — the Spark analogue of the reference's partition-pruned MERGE
   ("Partition filtering trong MERGE để tối ưu", loader.py:27). There is one
   fold rule: after each append, fold every bucket whose read amplification
   reaches a threshold. At threshold 1 on bucket-pure L0 that is the
   reference's eager MERGE (the touched buckets, every batch); higher
   thresholds fold lazily, LSM-style.

Scale: the append is O(batch) with no shuffle; a fold reads and rewrites only
its buckets, so untouched buckets are never read. At 10^10 events the knob is
num_buckets (more buckets -> finer fold granularity).
"""

from __future__ import annotations

import time
from collections import Counter
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .table import (BUCKET_COL, MIXED_BUCKET, LakeTable, session_expr_cache,
                    widen_type)

# CDC envelope columns that never land in the silver table.
ENVELOPE_COLS = ("lsn", "epoch", "op", "event_ts")

OP_INSERT, OP_UPDATE, OP_DELETE = "I", "U", "D"


@dataclass
class MergeMetrics:
    """Per-batch lineage record (reference analogue: per-job metrics
    records_count / duration / records_per_second, src/monitoring/metrics.py:100)."""
    batch_id: int = -1
    keys: int = 0
    deletes: int = 0
    upserts: int = 0
    buckets_touched: int = 0
    target_rows_read: int = 0
    # max events per bucket / mean events per bucket (bucket-pure writes)
    skew_factor: float = 0.0
    duration_sec: float = 0.0
    version: int = -1
    skipped_fence: bool = False
    schema_evolved: bool = False
    extra: dict[str, Any] = field(default_factory=dict)

    def to_dict(self) -> dict[str, Any]:
        d = dict(self.__dict__)
        d.update(d.pop("extra"))
        return d


def lww_prefilter(events: DataFrame, key_cols: list[str]) -> DataFrame:
    """Bandwidth-reducing first pass of LWW dedup: find each key's winning
    (max) LSN over a NARROW shuffle of just ``(key_hash, lsn)`` (Catalyst
    column-prunes the wide payload out of this subtree), compress the winner
    set, and filter the full batch against it map-side.

    Why: the naive dedup shuffles full rows — for content-heavy CDC events
    (~hundreds of bytes each) the shuffle ser/deser of payload bytes is the
    scaling bottleneck (memory bandwidth, not CPU). With update ratio r
    (events per key per batch), this pass cuts full-row shuffle volume by ~r×
    at the cost of one narrow shuffle + a second source scan (page-cached).

    Not exact on its own: two events of one key sharing the max LSN would both
    survive (LSNs are unique in a real log, but we don't rely on it) — the
    read-side LWW resolution (:meth:`LakeTable._resolve_lww`) folds them.

    The membership test is on ``(key, lsn)`` composites (not lsn alone):
    testing the bare LSN would let an event of a DIFFERENT key sharing a
    winning LSN slip through (harmless but wasteful), and with epoch-style
    non-unique LSNs the filter would pass nearly everything while still
    paying its shuffle.

    Events with NULL lsn never match and are filtered out here — by
    contract (documented on :func:`merge_cdc_batch`) the CDC envelope requires
    a total, non-NULL LSN order; NULL-lsn rows are undefined input.

    The winner set's only job is to pass each key's own max-LSN event, and a
    key's own entry is in the set by construction — so a compressed
    representation that can only ADD spurious passes is sound: spurious
    survivors are folded by the read-side LWW exactly like LSN ties. NULL
    keys hash via the same coalesce-to-sentinel rule as bucketing, so
    NULL-keyed legacy rows are filtered consistently.

    The winner set is compressed to ONE 64-bit token per key —
    ``xxhash64(xxhash64(keys), lsn)`` — and the broadcast semi-join keys on
    that single long. 8 bytes/key in the broadcast, and (measured, the reason
    for the single-column form) the broadcast relation build becomes a
    primitive ``LongHashedRelation`` instead of a generic two-column row map:
    the relation is built on the DRIVER once per batch, a serial term that
    does not shrink with executors, so its constant matters for scaling
    efficiency more than for wall time. Token collisions are one-sided
    spurious PASSES (folded downstream, see above); a key's own winner always
    matches its own token.
    """
    cache = session_expr_cache(events.sparkSession)
    ck = ("lww_prefilter", tuple(key_cols))
    tpl = cache.get(ck)
    if tpl is None:
        kh = F.xxhash64(*[F.coalesce(F.col(k).cast("string"),
                                     F.lit("\x00null")) for k in key_cols])
        # xxhash64 SKIPS null children (hash unchanged), so a NULL lsn would
        # token-collide with its bare key hash instead of never matching —
        # the explicit isNotNull filter below preserves the documented
        # "NULL-lsn events are filtered out here" contract.
        tpl = {"wtok": F.xxhash64(kh, F.col("_w_lsn")).alias("_wtok"),
               "ltok": F.xxhash64(kh, F.col("lsn")).alias("_wtok"),
               "notnull": F.col("lsn").isNotNull(),
               "agg": F.max("lsn").alias("_w_lsn")}
        cache[ck] = tpl
    # Group by the REAL keys, then project the token for the broadcast
    # relation. Grouping by the hash directly would merge two colliding keys
    # into one group whose max(lsn) matches only the larger key's winner —
    # the other key's latest event would be silently DROPPED (one-sided error
    # in the wrong direction: a loss, not a spurious pass). Hashing after the
    # exact group keeps the soundness claim above true: a collision can only
    # let extra rows through, which the read-side LWW folds.
    winners = (events.groupBy(*key_cols)
               .agg(tpl["agg"])
               .select(tpl["wtok"]))
    left = (events.filter(tpl["notnull"])
            .select("*", tpl["ltok"]))
    return left.join(F.broadcast(winners), on="_wtok",
                     how="left_semi").drop("_wtok")


def evolve_for_batch(table: LakeTable, batch: DataFrame) -> bool:
    """Diff the batch's data columns against the table schema and apply
    additive evolution (new column -> added with NULL backfill; numeric type
    widened per the int->long->double lattice). Returns True if evolved.

    Reference analogues: NULL-padding to schema (gcs/loader.py:307-324),
    forced float widening (extractor.py:244-280), additive ALTER TABLE
    (backfill_products_partition.py:5-12)."""
    snap = table.snapshot()
    cur = {f.name: f for f in snap.schema.fields}
    out_fields = list(snap.schema.fields)
    changed = False
    for f in batch.schema.fields:
        if f.name in ENVELOPE_COLS or f.name == BUCKET_COL:
            continue
        if f.name not in cur:
            out_fields.append(T.StructField(f.name, f.dataType, True))
            changed = True
        else:
            w = widen_type(cur[f.name].dataType, f.dataType)
            if w is not None and w != cur[f.name].dataType:
                out_fields = [
                    T.StructField(f.name, w, True) if x.name == f.name else x
                    for x in out_fields
                ]
                changed = True
    if changed:
        table.evolve_schema(T.StructType(out_fields),
                            properties={"evolved_for": "merge_batch"})
    return changed


def backfill_columns(
    target: DataFrame,
    source: DataFrame,
    join_keys: list[str],
    set_cols: list[str],
    order_col: str,
) -> DataFrame:
    """Backfill join with dedup (J3) as a pure DataFrame operator.

    Port of the reference's backfill MERGE
    (bills/scripts/backfill_products_partition.py:74-96): the source is
    window-deduped per join key (ROW_NUMBER ... ORDER BY order_col DESC,
    rn=1), then matched target rows take the source value ONLY where the
    target column is NULL (``coalesce(target.col, source.col)``) — non-NULL
    targets are never overwritten. Unmatched target rows pass through.

    Scale shape: the dedup is one narrow shuffle of (keys, order, set_cols);
    the join is left-outer on the keys and Catalyst/AQE picks broadcast when
    the deduped source is small (the common backfill case).
    """
    w_cols = [F.col(k) for k in join_keys]
    row = F.struct(*[F.col(c) for c in set_cols]).alias("_fill")
    dedup = (source.groupBy(*w_cols)
             .agg(F.max_by(row, F.col(order_col)).alias("_fill")))
    src = dedup.select(*join_keys,
                       *[F.col(f"_fill.{c}").alias(f"_bf_{c}")
                         for c in set_cols])
    out_cols = []
    for c in target.columns:
        if c in set_cols:
            out_cols.append(F.coalesce(F.col(c), F.col(f"_bf_{c}")).alias(c))
        else:
            out_cols.append(F.col(c))
    return target.join(src, on=join_keys, how="left").select(*out_cols)


def merge_backfill(
    table: LakeTable,
    source: DataFrame,
    set_cols: list[str],
    order_col: str,
    join_keys: list[str] | None = None,
    properties: dict[str, Any] | None = None,
) -> int:
    """Transactional backfill into a LakeTable: window-dedup ``source``,
    update ONLY NULL target values of ``set_cols`` (see
    :func:`backfill_columns`), commit as one bucket rewrite
    (:meth:`LakeTable._rewrite_buckets`: a read pinned to one snapshot,
    raising :class:`CommitConflictError` if another rewrite replaced its
    files first). Background maintenance is joined before the snapshot.

    When ``join_keys`` equal the table's bucket keys (the default), only the
    buckets containing source keys are read and rewritten — the manifest
    prunes the rest, same as the CDC MERGE path. Foreign-key backfills
    (reference: products matched on bill_id) pass explicit ``join_keys``;
    they can't prune by bucket hash (the FK doesn't determine the bucket),
    so they prune on the footer min/max stats of the FK columns instead —
    a bucket none of whose files' FK ranges intersect the source's FK range
    cannot contain a matching row and rides through untouched. Pruning is
    bucket-granular (not per-file) for the same MOR-delta-resolution reason
    as :meth:`LakeTable.delete_where`."""
    keys = join_keys or table.key_cols
    table.join_pending_commit()
    table.join_maintenance()
    snap = table.snapshot()
    if keys == table.key_cols:
        kb = (source.select(table.bucket_expr(keys).alias("b"))
              .distinct().collect())
        buckets = {int(r.b) for r in kb}
    else:
        # FK-range stats pruning: one tiny agg over the (already small)
        # backfill source gives [min, max] per FK column; files are kept
        # only if every FK column's footer range intersects it
        bounds = source.agg(*[f(k) for k in keys
                              for f in (F.min, F.max)]).first()
        # min/max ignore NULLs, so an all-NULL (or empty) FK column means no
        # source row can equi-join anything: the whole backfill is a no-op.
        if bounds is None or any(bounds[2 * i] is None
                                 for i in range(len(keys))):
            return snap.version
        preds = []
        for i, k in enumerate(keys):
            preds += [(k, ">=", bounds[2 * i]), (k, "<=", bounds[2 * i + 1])]
        may = table.prune_files(list(snap.files.values()), preds)
        if not may:
            return snap.version          # no file can match: no-op
        buckets = table.buckets_of_entries(may)
    return table._rewrite_buckets(
        snap, buckets,
        lambda target: backfill_columns(target, source, keys, set_cols,
                                        order_col),
        "backfill",
        lambda b, _: dict(properties or {},
                          backfill={"set_cols": set_cols, "buckets": b}))


def merge_cdc_batch(
    table: LakeTable,
    events: DataFrame,
    batch_id: int = -1,
    txn_app: str | None = None,
    auto_compact_deltas: int = 1,
    prefilter: bool = False,
    l0_groups: int | str | None = None,
    compact_async: bool = False,
    async_finalize: bool = False,
) -> MergeMetrics:
    """Apply one micro-batch of CDC envelopes to the table, exactly once.

    Envelope rows: key columns + payload columns + (lsn, op[, epoch, event_ts]).
    op semantics: I/U upsert (U on an absent key inserts — same as the
    reference MERGE), D deletes. LWW by lsn. **Contract: lsn is non-NULL and
    totally ordered per key** — NULL-lsn rows are undefined input (the
    prefilter drops them; read-side resolution orders them last).

    The batch is appended as scanned (NO shuffle, NO dedup; prefiltered if
    asked, an Observation counting ``op``) as LWW-resolvable delta files by
    :meth:`LakeTable.append_deltas`, whose one projection builds the file
    layout, with the fence and lineage in the same commit; reads resolve
    max-LSN per key (in-batch duplicates too) and drop tombstones.
    ``l0_groups=G`` clusters those files into G contiguous bucket ranges per
    write task: None (the default) is bucket-pure, 1 writes files spanning
    every bucket, and ``"auto"`` sizes G from the log's last append.

    Then one fold rule: :meth:`LakeTable.compact_deltas` folds every bucket
    whose read amplification (:meth:`LakeTable.bucket_read_amplification`)
    reaches ``auto_compact_deltas``, widened to the closure of the buckets'
    file spans. It runs inline after joining background maintenance (not
    under ``async_finalize``, where a lost race raises instead), or on the
    ``lake-maint`` thread when ``compact_async=True`` (see
    :meth:`LakeTable.compact_deltas_async`). The fence lands in the append's
    commit, so the fold never affects exactly-once: if it fails the error
    propagates, reads are already correct and a rerun is fence-skipped. The
    defaults leave a folded table after every batch, the reference's eager
    MERGE (:class:`~..streaming.CdcStreamRunner`'s cow preset); a higher
    threshold keeps each batch O(batch), LSM-style (its raw preset).

    :class:`MergeMetrics`: ``version`` is the append's commit, the one that
    carries the fence and the lineage; ``target_rows_read`` counts the rows
    of the files the inline fold removed, 0 when no inline fold ran.

    ``prefilter=True`` drops each key's losing events before the write
    (:func:`lww_prefilter`): ~r× less L0 volume, traded against the full
    event history L0 otherwise keeps for audit/replay.

    ``async_finalize=True``: the batch's Spark write job runs inline, but
    the driver-serial tail — parquet footer harvest, lineage, commit-log
    fsync, the fold rule — runs on a background driver thread so it overlaps
    the caller's next trigger (Spark's walCommit/getBatch/planning in a
    stream, the next batch's scan in a replay loop). The returned metrics'
    ``version``/lineage/``phases`` fields settle only when the commit lands
    (``m.version`` stays -1 until then); call
    :meth:`LakeTable.join_pending_commit` before reading them. Exactly-once
    is preserved (the fence counts the pending commit, commit order equals
    batch order), but durability is deferred by one batch — see
    :meth:`LakeTable.append_deltas` and
    :meth:`~etl_api_bigquery_spark.streaming.runner.CdcStreamRunner.repair_fence_gap`.
    """
    t0 = time.monotonic()
    m = MergeMetrics(batch_id=batch_id)

    # ---- exactly-once fence: skip batches already committed (idempotent
    # under foreachBatch retry — strengthens reference watermark
    # commit-after-load, src/pipeline/extraction.py:154-158).
    if txn_app is not None and batch_id >= 0:
        last = table.last_txn(txn_app)
        if last is not None and batch_id <= last:
            m.skipped_fence = True
            m.duration_sec = time.monotonic() - t0
            return m

    m.schema_evolved = evolve_for_batch(table, events)

    from pyspark.sql import Observation
    props: dict[str, Any] = {}
    if txn_app is not None:
        props["txn_app"] = txn_app
        props["txn_batch"] = batch_id
    # counts ride on the write job via Observation — no extra stats pass
    cache = session_expr_cache(events.sparkSession)
    obs_aggs = cache.get(("raw_obs",))
    if obs_aggs is None:
        obs_aggs = [
            F.count(F.lit(1)).alias("keys"),
            F.sum(F.when(F.col("op") == OP_DELETE, 1).otherwise(0)
                  ).alias("deletes")]
        cache[("raw_obs",)] = obs_aggs
    obs = Observation()
    # the batch as scanned: append_deltas projects it onto the file layout
    batch = (lww_prefilter(events, table.key_cols) if prefilter
             else events).observe(obs, *obs_aggs)

    def lineage_props(adds):
        # per-bucket lineage comes free from the harvested file entries
        got = obs.get
        m.keys = int(got.get("keys") or 0)     # events appended
        m.deletes = int(got.get("deletes") or 0)
        m.upserts = m.keys - m.deletes
        m.buckets_touched = len(table.buckets_of_entries(adds))
        if adds and all(e.bucket != MIXED_BUCKET for e in adds):
            # bucket-pure write: max events per bucket / mean events per bucket
            per = Counter()
            for e in adds:
                per[e.bucket] += e.rows
            m.skew_factor = round(
                max(per.values()) * len(per) / sum(per.values()), 3)
        elapsed = max(time.monotonic() - t0, 1e-9)
        return {"lineage": {
            "batch_id": batch_id, "keys": m.keys, "deletes": m.deletes,
            "upserts": m.upserts, "buckets_touched": m.buckets_touched,
            "skew_factor": m.skew_factor,
            "events_per_sec": round(m.keys / elapsed, 1),
        }}

    _t_plan = time.monotonic() - t0

    def _post(version: int, write_phases: dict[str, Any]) -> None:
        # everything after the data-file commit: the fold rule and the phase
        # telemetry. Runs inline (sync) or on the commit-finalizer thread
        # (async_finalize).
        _t_post0 = time.monotonic()
        m.version = version
        counts = table.bucket_read_amplification()
        hot = [b for b, c in counts.items() if c >= auto_compact_deltas]
        cprops = {"auto_compact_for_batch": batch_id}
        if hot and compact_async:
            table.compact_deltas_async(hot, properties=cprops)
        elif hot:
            # no background fold may race this one over the same files. Not
            # on the finalizer thread: a background fold may be waiting for
            # this very commit (compact_deltas joins it first)
            if not async_finalize:
                table.join_maintenance()
            v = table.compact_deltas(buckets=hot, properties=cprops)
            live = table.snapshot(v).files
            m.target_rows_read = sum(
                e.rows for p, e in table.snapshot(v - 1).files.items()
                if p not in live)
        m.extra["phases"] = {
            "plan_build_s": round(_t_plan, 4),
            **write_phases,
            "compact_s": round(time.monotonic() - _t_post0, 4),
        }

    if async_finalize:
        # footer harvest + lineage + commit fsync + _post land on the
        # finalizer thread, overlapping the caller's next batch. m's
        # version/lineage/phases fields settle when the commit lands —
        # callers read them after LakeTable.join_pending_commit().
        m.extra["async_commit"] = True
    table.append_deltas(batch, properties=props, bucket_groups=l0_groups,
                        props_fn=lineage_props,
                        async_finalize=async_finalize, post_commit=_post)
    m.duration_sec = time.monotonic() - t0
    return m
