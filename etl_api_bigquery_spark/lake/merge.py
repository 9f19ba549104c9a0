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
   ("Partition filtering trong MERGE để tối ưu", loader.py:27). ``mode="cow"``
   folds the touched buckets right after the append; ``mode="raw"`` folds
   when a bucket's read amplification reaches a threshold.

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

from .table import (BUCKET_COL, LSN_COL, MIXED_BUCKET, OP_COL, LakeTable,
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


def lww_prefilter(
    events: DataFrame,
    key_cols: list[str],
    lsn_col: str = "lsn",
) -> DataFrame:
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
    from .table import session_expr_cache
    cache = session_expr_cache(events.sparkSession)
    ck = ("lww_prefilter", tuple(key_cols), lsn_col)
    tpl = cache.get(ck)
    if tpl is None:
        kh = F.xxhash64(*[F.coalesce(F.col(k).cast("string"),
                                     F.lit("\x00null")) for k in key_cols])
        # xxhash64 SKIPS null children (hash unchanged), so a NULL lsn would
        # token-collide with its bare key hash instead of never matching —
        # the explicit isNotNull filter below preserves the documented
        # "NULL-lsn events are filtered out here" contract.
        tpl = {"wtok": F.xxhash64(kh, F.col("_w_lsn")).alias("_wtok"),
               "ltok": F.xxhash64(kh, F.col(lsn_col)).alias("_wtok"),
               "notnull": F.col(lsn_col).isNotNull(),
               "agg": F.max(lsn_col).alias("_w_lsn")}
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


def _delta_select_exprs(table: LakeTable, snap: Any, present_cols: set[str],
                        lsn_col: str, op_col: str) -> list:
    """Projection list for a delta write: table schema fields (NULL-padded /
    cast) + (_bucket, _lsn, _op). Cached per (table, schema, input columns)
    on the session — the list is identical every micro-batch, and rebuilding
    it costs ~5 py4j round trips per column of driver-serial time."""
    from .table import session_expr_cache
    cache = session_expr_cache(table.spark)
    ck = ("delta_select", table.location, snap.schema_id,
          tuple(sorted(present_cols)), lsn_col, op_col)
    exprs = cache.get(ck)
    if exprs is None:
        exprs = [
            (F.col(f.name).cast(f.dataType).alias(f.name)
             if f.name in present_cols
             else F.lit(None).cast(f.dataType).alias(f.name))
            for f in snap.schema.fields
        ] + [F.col(BUCKET_COL),
             F.col(lsn_col).cast("long").alias(LSN_COL),
             F.col(op_col).alias(OP_COL)]
        cache[ck] = exprs
    return exprs


def evolve_for_batch(table: LakeTable, batch: DataFrame,
                     envelope_cols: tuple[str, ...] = ENVELOPE_COLS) -> bool:
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
        if f.name in envelope_cols or f.name == BUCKET_COL:
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
    lsn_col: str = "lsn",
    op_col: str = "op",
    allow_schema_evolution: bool = True,
    extra_props: dict[str, Any] | None = None,
    mode: str = "cow",
    auto_compact_deltas: int = 16,
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

    There is one write path: the batch is appended exactly as scanned (NO
    shuffle, NO dedup; bucket column computed map-side) as LWW-resolvable
    delta files, with the fence and lineage in the same commit. Reads
    resolve max-LSN per key (in-batch duplicates too) and drop tombstones.
    ``mode`` picks when the touched buckets are folded back into base files
    (both modes yield identical read results; any other ``mode`` raises
    ``ValueError``):

    * ``mode="raw"`` — LSM-style: fold lazily. O(batch) write cost
      regardless of table size — the high-throughput CDC-ingest path (the
      Hudi/Paimon-style tradeoff). ``l0_groups=G`` clusters the L0 files
      into G contiguous bucket ranges per task (task-local sort, still no
      shuffle; G = table.num_buckets gives fully bucket-PURE L0), restoring
      per-bucket compaction/read locality at the cost of more, smaller files
      (tasks x G per trigger). ``l0_groups="auto"`` lets
      :meth:`LakeTable.append_deltas` size G from the log's last append
      and a 16 MB L0 file-size floor (bucket-pure on a table with none, so
      a restarted driver keeps its sizing). Compaction triggers when any
      bucket's delta read amplification reaches ``auto_compact_deltas`` and
      folds only the closure of the hot buckets' file spans (ungrouped L0
      spans everything, degrading to the full L0 fold).
    * ``mode="cow"`` — fold eagerly: the append is always bucket-pure
      (``l0_groups`` is ignored), then :meth:`LakeTable.compact_deltas`
      rewrites exactly the buckets it touched (widened only by mixed raw L0
      already sharing files with them), synchronously. Write cost
      O(batch + touched data); reads of those buckets open base files only.
      ``target_rows_read`` counts the fold's victim rows and ``m.version``
      is the fold's commit. If the fold fails the error propagates, but the
      append and its fence have landed: reads are already correct and a
      rerun of ``batch_id`` is fence-skipped.

    Default-mode note: this function defaults to ``mode="cow"`` while
    :class:`~etl_api_bigquery_spark.streaming.runner.CdcStreamRunner`
    defaults to ``mode="raw"`` — deliberately. A direct ``merge_cdc_batch``
    call is the library/batch API (one-shot backfills, tests, oracle
    queries), where a folded, read-optimized table is the least surprising
    result; the runner is the sustained-ingest pipeline, where deferring
    the fold to read amplification keeps each trigger O(batch). Pass
    ``mode`` explicitly when benchmarking either.

    ``prefilter=True`` drops each key's losing events before the write
    (:func:`lww_prefilter`): ~r× less L0 volume, traded against the full
    event history L0 otherwise keeps for audit/replay.

    ``compact_async=True`` (raw only): auto-compaction runs on a
    background driver thread overlapping the next trigger's scan instead of
    extending this batch's critical path. See
    :meth:`LakeTable.compact_deltas_async` for the correctness argument.

    ``async_finalize=True`` (raw only): the batch's Spark write job runs
    inline, but the driver-serial tail — parquet footer harvest, lineage,
    commit-log fsync, the auto-compaction trigger — runs on a background
    driver thread so it overlaps the caller's next trigger (Spark's
    walCommit/getBatch/planning in a stream, the next batch's scan in a
    replay loop). The returned metrics' ``version``/lineage/``phases``
    fields settle only when the commit lands (``m.version`` stays -1 until
    then); call :meth:`LakeTable.join_pending_commit` before reading them.
    Exactly-once is preserved (the fence counts the pending commit, commit
    order equals batch order), but durability is deferred by one batch —
    see :meth:`LakeTable.append_deltas` and
    :meth:`~etl_api_bigquery_spark.streaming.runner.CdcStreamRunner.repair_fence_gap`.
    """
    t0 = time.monotonic()
    if mode not in ("cow", "raw"):
        raise ValueError(f"unknown mode {mode!r}: expected 'cow' or 'raw'")
    if async_finalize and mode != "raw":
        raise ValueError(
            "async_finalize requires mode='raw' (the LSM append path)")
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

    if allow_schema_evolution:
        m.schema_evolved = evolve_for_batch(table, events)

    from pyspark.sql import Observation
    from .table import session_expr_cache
    props: dict[str, Any] = dict(extra_props or {})
    if txn_app is not None:
        props["txn_app"] = txn_app
        props["txn_batch"] = batch_id
    if mode == "cow":
        # bucket-pure L0 keeps the fold's closure to the touched buckets; no
        # background fold may race this one over the same victims, and snap0
        # must be the snapshot the append lands on (lineage counts its files)
        l0_groups = table.num_buckets
        table.join_pending_commit()
        table.join_maintenance()
    snap0 = table.snapshot()
    src = (lww_prefilter(events, table.key_cols, lsn_col) if prefilter
           else events)
    raw = src.withColumn(BUCKET_COL, table.bucket_expr())
    delta = raw.select(*_delta_select_exprs(
        table, snap0, set(events.columns) | {BUCKET_COL}, lsn_col, op_col))
    # counts ride on the write job via Observation — no extra stats pass
    cache = session_expr_cache(events.sparkSession)
    obs_aggs = cache.get(("raw_obs",))
    if obs_aggs is None:
        obs_aggs = [
            F.count(F.lit(1)).alias("keys"),
            F.sum(F.when(F.col(OP_COL) == OP_DELETE, 1).otherwise(0)
                  ).alias("deletes")]
        cache[("raw_obs",)] = obs_aggs
    obs = Observation()
    delta = delta.observe(obs, *obs_aggs)
    touched: list[int] = []

    def lineage_props(adds):
        # per-bucket lineage comes free from the harvested file entries
        got = obs.get
        m.keys = int(got.get("keys") or 0)     # events appended
        m.deletes = int(got.get("deletes") or 0)
        m.upserts = m.keys - m.deletes
        touched[:] = sorted(table.buckets_of_entries(adds))
        m.buckets_touched = len(touched)
        if adds and all(e.bucket != MIXED_BUCKET for e in adds):
            # bucket-pure write: max events per bucket / mean events per bucket
            per = Counter()
            for e in adds:
                per[e.bucket] += e.rows
            m.skew_factor = round(
                max(per.values()) * len(per) / sum(per.values()), 3)
        if mode == "cow" and touched:
            # the fold's victims: the touched buckets' live files (closed
            # under mixed-file spans) plus this append's own files
            closure = table.expand_bucket_closure(snap0, touched)
            m.target_rows_read = (
                sum(e.rows for e in snap0.files_for_buckets(closure))
                + sum(e.rows for e in adds))
        elapsed = max(time.monotonic() - t0, 1e-9)
        return {"lineage": {
            "batch_id": batch_id, "keys": m.keys, "deletes": m.deletes,
            "upserts": m.upserts, "buckets_touched": m.buckets_touched,
            "skew_factor": m.skew_factor, "mode": mode,
            "target_rows_read": m.target_rows_read,
            "events_per_sec": round(m.keys / elapsed, 1),
        }}

    _t_plan = time.monotonic() - t0

    def _post(version: int, write_phases: dict[str, Any]) -> None:
        # everything after the data-file commit: the fold and the phase
        # telemetry. Runs inline (sync) or on the commit-finalizer thread
        # (async_finalize).
        _t_post0 = time.monotonic()
        m.version = version
        if mode == "cow":
            if touched:
                m.version = table.compact_deltas(
                    buckets=touched, properties={"fold_for_batch": batch_id})
        else:
            counts = table.bucket_read_amplification()
            hot = [b for b, c in counts.items() if c >= auto_compact_deltas]
            if hot:
                cprops = {"auto_compact_for_batch": batch_id}
                if compact_async:
                    table.compact_deltas_async(hot, properties=cprops)
                else:
                    table.compact_deltas(buckets=hot, properties=cprops)
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
    table.append_deltas(delta, properties=props, bucket_groups=l0_groups,
                        props_fn=lineage_props,
                        async_finalize=async_finalize, post_commit=_post)
    m.duration_sec = time.monotonic() - t0
    return m
