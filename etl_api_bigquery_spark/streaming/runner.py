"""Structured Streaming CDC tailer: change-feed files -> MERGE-apply sink.

Replaces the reference's single-threaded daily polling loop
(src/features/nhanh/bills/pipeline.py:51-100: split days -> extract -> load ->
commit watermark, fail-fast) with the Spark-native shape (SURVEY.md §2.10):

* source: ``readStream`` file source over the change-log directory
  (``maxFilesPerTrigger`` = the reference's one-day micro-batch, T2);
* sink:   ``foreachBatch`` -> :func:`merge_cdc_batch` into a LakeTable —
  idempotent under batch replay because the fence (txn_app, batch_id) is
  committed atomically with the data (T5 strengthened to exactly-once);
* recovery: the checkpoint's offset log resumes the source; replayed batches
  are dropped by the fence (T6).

``trigger(availableNow=True)`` drains the backlog and stops — the test/bench
mode; a real deployment would run processingTime triggers against a live
binlog/WAL drop zone.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field
from typing import Any, Callable

from pyspark.sql import DataFrame, SparkSession

from ..cdc.generator import feed_schema
from ..lake import LakeTable
from ..lake.merge import MergeMetrics, merge_cdc_batch


@dataclass
class CdcStreamRunner:
    spark: SparkSession
    table: LakeTable
    feed_dir: str
    checkpoint_dir: str
    txn_app: str = "cdc-stream"
    max_files_per_trigger: int = 1
    # source throttling / backpressure (S3 — the Spark-native analogue of
    # the reference's token-bucket rate limiter, shared/nhanh/client.py:27-90):
    # bound each micro-batch by BYTES as well as file count. The guarantee is
    # "at most one oversized file per trigger": Spark's file source always
    # admits at least one file, so a single file larger than the bound still
    # exceeds it — size drop-zone files below the bound for a hard ceiling.
    # None = unbounded (file-count bound only).
    max_bytes_per_trigger: int | None = None
    # rate-over-time governor (the token-bucket analogue of the reference's
    # RateLimiter, shared/nhanh/client.py:27-90): hold SUSTAINED ingest at or
    # below target events/sec by pacing between triggers — after each batch,
    # sleep until cumulative_events / elapsed <= target. The byte/file bounds
    # above cap burst size per trigger; this caps the average rate. None =
    # unthrottled.
    target_events_per_sec: float | None = None
    _rate_t0: float | None = field(default=None, repr=False)
    _rate_events: int = field(default=0, repr=False)
    # fold preset (see _preset): "raw" (default — LSM append, folded lazily
    # at read amplification auto_compact_deltas) | "cow" (the reference's
    # eager MERGE: bucket-pure append plus a synchronous fold, every batch)
    mode: str = "raw"
    prefilter: bool = False                # see merge_cdc_batch
    auto_compact_deltas: int = 16
    # raw L0 clustering: "auto" = adaptive (LakeTable.append_deltas sizes
    # the group count from the log's last append's bytes per write task and
    # a 16 MB L0 file-size floor; bucket-pure on a new table); an int pins
    # the group count (table.num_buckets = always bucket-pure, 1 =
    # unclustered single-file-per-task L0)
    l0_groups: int | str = "auto"
    # run auto-compaction on a background driver thread so the fold overlaps
    # the next trigger's scan; joined (and failures re-raised) before
    # run_available_now returns
    async_compact: bool = True
    # pipeline each batch's commit finalization (footer harvest + lineage +
    # commit fsync + compaction trigger) with the NEXT trigger's scan/plan
    # (raw preset only — merge_cdc_batch(async_finalize=True)). Exactly-once
    # is preserved; durability is deferred by one batch: a crash between a
    # batch's checkpoint commit and its table commit leaves a fence <
    # checkpoint gap. The default is ON because run_available_now() closes
    # that window automatically — it calls repair_fence_gap() before
    # starting the stream, re-applying any checkpoint-committed batch the
    # table fence never saw from the file source's own checkpoint log (the
    # feed is replayable by construction). Measured at the local[32]
    # 1M-event operating point: +7-10% steady throughput (BENCH/BASELINE.md
    # round 5). Set False for a strictly synchronous commit per batch.
    async_commit: bool = True
    transform: Callable[[DataFrame], DataFrame] | None = None
    # optional stateful pre-filter (applyInPandasWithState): drops events
    # at-or-below each key's high-water LSN BEFORE the sink, cutting merge
    # traffic on redelivery-heavy at-least-once feeds. Costs one extra
    # key-shuffle of full rows, so off by default — the fence + LWW merge
    # already guarantee correctness without it.
    stateful_staleness_filter: bool = False
    metrics: list[MergeMetrics] = field(default_factory=list)
    # per-trigger durationMs breakdown from StreamingQueryProgress
    # (addBatch / getBatch / latestOffset / queryPlanning / walCommit /
    # commitOffsets / triggerExecution) — the measured cost of the streaming
    # wrapper vs the merge core, reported by bench.py
    progress: list[dict[str, Any]] = field(default_factory=list)
    fail_after_batches: int | None = None  # test hook: crash mid-stream

    def _apply(self, batch_df: DataFrame, batch_id: int) -> None:
        if self.fail_after_batches is not None and len(
                [m for m in self.metrics if not m.skipped_fence]
        ) >= self.fail_after_batches:
            raise RuntimeError("injected failure (test hook)")
        m = self._merge(batch_df, batch_id, background=True)
        if self.target_events_per_sec is not None:
            # pacing reads the batch's event counts, which settle only when
            # an async commit lands — join first (the pace sleep would have
            # covered the finalize anyway)
            self.table.join_pending_commit()
            self._pace(m)

    def _merge(self, batch_df: DataFrame, batch_id: int,
               background: bool) -> MergeMetrics:
        """One batch through :func:`merge_cdc_batch` with this runner's
        preset (:meth:`_preset`)."""
        if self.transform is not None:
            batch_df = self.transform(batch_df)
        m = merge_cdc_batch(
            self.table, batch_df, batch_id=batch_id, txn_app=self.txn_app,
            prefilter=self.prefilter, **self._preset(background))
        self.metrics.append(m)
        return m

    def _preset(self, background: bool) -> dict[str, Any]:
        """:func:`merge_cdc_batch`'s fold and L0 settings for ``mode``. raw
        takes this runner's fields and, when ``background``, follows
        ``async_commit`` and ``async_compact``; cow is a bucket-pure append
        and a synchronous fold at read amplification 1. Any other mode
        raises ``ValueError``."""
        if self.mode == "raw":
            return {"auto_compact_deltas": self.auto_compact_deltas,
                    "l0_groups": self.l0_groups,
                    "compact_async": background and self.async_compact,
                    "async_finalize": background and self.async_commit}
        if self.mode == "cow":
            return {"auto_compact_deltas": 1,
                    "l0_groups": self.table.num_buckets,
                    "compact_async": False, "async_finalize": False}
        raise ValueError(
            f"unknown mode {self.mode!r}: expected 'cow' or 'raw'")

    def _pace(self, m: MergeMetrics) -> None:
        """Token-bucket pacing: sleep so cumulative events / elapsed wall
        never exceeds the target rate. Runs on the driver between triggers —
        zero executor cost, and the sleep overlaps nothing the availableNow
        drain would otherwise use."""
        import time
        now = time.monotonic()
        if self._rate_t0 is None:
            self._rate_t0 = now - max(m.duration_sec, 1e-6)
        self._rate_events += m.upserts + m.deletes
        min_elapsed = self._rate_events / self.target_events_per_sec
        sleep = min_elapsed - (now - self._rate_t0)
        if sleep > 0:
            time.sleep(sleep)

    def run_available_now(self, timeout_sec: int = 600) -> list[MergeMetrics]:
        """Drain all pending feed files in micro-batches, then stop. A drain
        still running after ``timeout_sec`` is stopped and raises
        :class:`TimeoutError`; the next run resumes from the checkpoint."""
        self._preset(background=True)     # an unknown mode fails here
        reader = (self.spark.readStream.schema(feed_schema())
                  .option("latestFirst", "false"))
        # Spark's file source rejects byte + file bounds together; the byte
        # bound (when configured) is the tighter backpressure control.
        # Unknown options are silently IGNORED by the file source, so on a
        # Spark predating file-source maxBytesPerTrigger (< 4.0) the stream
        # would run with NO bound at all — the opposite of backpressure.
        # Fail loudly instead of degrading silently.
        if self.max_bytes_per_trigger is not None:
            major = int(self.spark.version.split(".")[0])
            if major < 4:
                raise RuntimeError(
                    f"max_bytes_per_trigger requires the file source's "
                    f"maxBytesPerTrigger (Spark >= 4.0); this is Spark "
                    f"{self.spark.version}, which would silently ignore the "
                    f"option. Use max_files_per_trigger instead.")
            reader = reader.option("maxBytesPerTrigger",
                                   str(self.max_bytes_per_trigger))
        else:
            reader = reader.option("maxFilesPerTrigger",
                                   self.max_files_per_trigger)
        stream = reader.parquet(self.feed_dir)
        # close any fence-vs-checkpoint gap a crash inside an async commit
        # window left behind, under every preset (no-op on a healthy one)
        self.repair_fence_gap()
        if self.stateful_staleness_filter:
            from .stateful import lww_staleness_filter
            stream = lww_staleness_filter(stream, self.table.key_cols)
        q = (
            stream.writeStream.foreachBatch(self._apply)
            .option("checkpointLocation", self.checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )
        try:
            if not q.awaitTermination(timeout_sec):
                q.stop()          # no trigger may start while we join below
                raise TimeoutError(
                    f"drain of {self.feed_dir} did not finish within "
                    f"{timeout_sec} s; stopped with backlog pending")
        except Exception:
            # a failed stream raises from awaitTermination itself: don't
            # leave a commit finalizer or fold running, and don't mask the
            # stream error (or the timeout) with theirs
            try:
                self.table.join_pending_commit()
                self.table.join_maintenance()
            except Exception:
                pass
            raise
        finally:
            try:
                raw = []
                for p in (q.recentProgress or []):
                    d = p if isinstance(p, dict) else json.loads(p.json)
                    raw.append({"batchId": d.get("batchId"),
                                "numInputRows": d.get("numInputRows"),
                                "durationMs": d.get("durationMs", {})})
                self.progress = raw
            except Exception:  # progress is best-effort telemetry
                pass
            if q.isActive:
                q.stop()
        # land any in-flight async commit + background compaction inside
        # this drain's window (and surface their failures) — callers observe
        # a fully committed, fully maintained table and settled metrics
        self.table.join_pending_commit()
        self.table.join_maintenance()
        return self.metrics

    # ------------------------------------------------------------ recovery

    def repair_fence_gap(self) -> list[MergeMetrics]:
        """Close the async-commit crash window: re-apply any batch the
        streaming checkpoint committed but the table fence never saw.

        With ``async_commit=True`` a batch's source offsets are
        checkpoint-committed before its table commit fsyncs, so a crash in
        that window loses the batch from the table while Spark considers it
        done and will never re-deliver it. The file source is replayable,
        though: the checkpoint's ``sources/0`` log records exactly which
        feed files each batch admitted. On restart,
        :meth:`run_available_now` calls this before the stream starts,
        under every preset — it compares the table fence
        (``last_txn``) with the checkpoint's committed batches and replays
        each missing batch's file list through the same
        :func:`merge_cdc_batch` sink (sync commits). The fence makes it
        idempotent: batches that did land are skipped by the fence check,
        so calling this on a healthy checkpoint is a no-op.
        """
        import glob as _glob
        out: list[MergeMetrics] = []
        cdir = os.path.join(self.checkpoint_dir, "commits")
        committed = sorted(
            int(os.path.basename(f)) for f in _glob.glob(
                os.path.join(cdir, "*"))
            if os.path.basename(f).isdigit())
        if not committed:
            return out
        last = self.table.last_txn(self.txn_app)
        gap = [b for b in committed if last is None or b > last]
        for b in gap:
            files = self._source_log_files(b)
            if not files:  # empty batch (possible with availableNow tails)
                continue
            batch_df = self.spark.read.schema(feed_schema()).parquet(*files)
            out.append(self._merge(batch_df, b, background=False))
        self.table.join_maintenance()
        return out

    def _source_log_files(self, batch_id: int) -> list[str]:
        """File paths the file source admitted for ``batch_id``, from the
        checkpoint's FileStreamSource metadata log (``sources/0/<batch>`` —
        JSON lines of ``{path, timestamp, batchId}``; compacted log files
        carry every entry with its original batchId, so filtering on
        batchId works for both plain and ``.compact`` log files).

        A plain log file only covers its own batch: when the nearest file at
        or above ``batch_id`` is a later plain file (the batch's own entry
        was purged), the batch's files are unknown and this raises instead
        of replaying the batch as empty."""
        sdir = os.path.join(self.checkpoint_dir, "sources", "0")
        cand = None
        best = None
        for f in os.listdir(sdir) if os.path.isdir(sdir) else []:
            stem = f[:-8] if f.endswith(".compact") else f
            if not stem.isdigit():
                continue
            v = int(stem)
            if v >= batch_id and (best is None or v < best):
                best, cand = v, os.path.join(sdir, f)
        if cand is None or (best != batch_id
                            and not cand.endswith(".compact")):
            raise FileNotFoundError(
                f"no source log entry covers batch {batch_id} in {sdir}")
        files: list[str] = []
        with open(cand) as fh:
            for line in fh:
                line = line.strip()
                if not line or line.startswith("v"):
                    continue
                e = json.loads(line)
                if int(e.get("batchId", -1)) == batch_id:
                    p = e["path"]
                    files.append(p[7:] if p.startswith("file://") else p)
        return files
