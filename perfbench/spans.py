"""Trigger capture and span tracing, from outside the engine.

``TriggerLog`` is a ``StreamingQueryListener`` that records every trigger's
progress event (``runner.progress`` scrapes ``recentProgress``, which keeps
only the last 100). It runs in every run, traced or not: trigger walls come
from it.

``Tracer`` wraps the engine's public entry points (``merge_cdc_batch`` as the
runner resolves it, ``evolve_for_batch`` as the merge resolves it, and the
``LakeTable`` methods in ``TABLE_METHODS``) and records one span per call:
name, start, end, parent span, thread and batch id. It also counts
directory listings of a table's ``_log`` directory. Spans stay in memory until
``dump``. Only the traced run installs it.
"""

from __future__ import annotations

import functools
import itertools
import json
import os
import threading
import time
from datetime import datetime

from pyspark.sql.streaming import StreamingQueryListener

TABLE_METHODS = ("snapshot", "last_txn", "append_deltas",
                 "join_pending_commit", "compact_deltas", "join_maintenance",
                 "read", "bucket_read_amplification")


def wall_of_iso(ts: str) -> float:
    """Epoch seconds of a progress event's ISO-8601 UTC timestamp."""
    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


class TriggerLog(StreamingQueryListener):
    """Every trigger of every query, in arrival order."""

    def __init__(self) -> None:
        self.events: list[dict] = []
        self.terminated = threading.Event()
        self._lock = threading.Lock()

    def onQueryStarted(self, event) -> None:
        self.terminated.clear()

    def onQueryProgress(self, event) -> None:
        p = event.progress
        with self._lock:
            self.events.append({
                "batch": p.batchId, "rows": p.numInputRows,
                "start": wall_of_iso(p.timestamp),
                "ms": {k: int(v) for k, v in p.durationMs.items()},
            })

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        self.terminated.set()

    def take(self, timeout: float = 30.0) -> list[dict]:
        """Triggers since the last ``take``, once the query has terminated
        (progress events are delivered before the termination event)."""
        if not self.terminated.wait(timeout):
            raise TimeoutError("no query-terminated event from the listener")
        with self._lock:
            out, self.events = self.events, []
        return out


class Tracer:
    """In-memory span recorder over monkey-patched entry points."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.listings: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._patched: list[tuple[object, str, object]] = []
        self.phase = "setup"          # the benchmark step spans belong to
        # monotonic -> wall offset, to line spans up with trigger timestamps
        self.wall_offset = time.time() - time.monotonic()

    # ------------------------------------------------------------ recording

    def _call(self, name: str, fn, args, kwargs):
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else None
        batch = kwargs.get("batch_id", parent["batch"] if parent else None)
        span = {"id": next(self._ids), "name": name,
                "parent": parent["id"] if parent else None,
                "thread": threading.current_thread().name, "batch": batch,
                "phase": self.phase,
                "start": time.monotonic(), "end": None}
        stack.append(span)
        try:
            return fn(*args, **kwargs)
        finally:
            span["end"] = time.monotonic()
            stack.pop()
            self.spans.append(span)

    def _patch(self, owner: object, attr: str, name: str) -> None:
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            return self._call(name, orig, args, kwargs)

        self._patched.append((owner, attr, orig))
        setattr(owner, attr, wrapper)

    def install(self) -> None:
        from etl_api_bigquery_spark.lake import merge as merge_mod
        from etl_api_bigquery_spark.lake.table import LakeTable
        from etl_api_bigquery_spark.streaming import runner as runner_mod

        self._patch(runner_mod, "merge_cdc_batch", "merge")
        self._patch(merge_mod, "evolve_for_batch", "merge.evolve")
        for m in TABLE_METHODS:
            self._patch(LakeTable, m, f"table.{m}")
        # log listings: glob and listdir both go through os.scandir/listdir
        for attr in ("scandir", "listdir"):
            self._patch_listing(attr)

    def _patch_listing(self, attr: str) -> None:
        orig = getattr(os, attr)

        def counted(path=".", *args, **kwargs):
            if os.fspath(path).rstrip("/").endswith("/_log"):
                self.listings.append({
                    "t": time.monotonic(), "phase": self.phase,
                    "thread": threading.current_thread().name})
            return orig(path, *args, **kwargs)

        self._patched.append((os, attr, orig))
        setattr(os, attr, counted)

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as fh:
            json.dump({"wall_offset": self.wall_offset, "spans": self.spans,
                       "log_listings": self.listings, **extra}, fh)
