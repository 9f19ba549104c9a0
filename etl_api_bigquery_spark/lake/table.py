"""LakeTable — a from-scratch transactional table format on parquet.

The reference persists silver data in BigQuery native tables (partitioned +
clustered, mutated via SQL MERGE/DELETE — see reference
src/features/nhanh/bills/components/loader.py:327-583 and
sql/schema_clean.sql:39-65) and bronze data as one-live-file-per-partition
parquet on GCS (src/shared/gcs/loader.py:173-224, 244-391). Neither Iceberg nor
Delta jars are available in this environment, so this module implements the
table-format layer those systems provide, from scratch, with the same core
guarantees:

* **Atomic commits / snapshot isolation** — every mutation is a JSON commit
  doc in ``_log/`` at the next version, written and fsynced to a temp file
  and published whole by ``os.link`` (which fails if the version exists), so
  no reader ever sees a partial doc. Versions are dense from 0, so a reader
  finds the head by probing ``version + 1`` forward from its newest snapshot;
  only a cold object lists ``_log/``. :meth:`LakeTable.snapshot` is the one
  reader of the log: one replay yields the file set, the schemas, the
  transaction fences and the last L0 write.
* **One commit rule** (:meth:`LakeTable._commit_files`) — a data commit is
  planned on a snapshot and first tries the version after it. If another
  writer took that version, the commit re-reads the log and retries at the
  new head, with the head's schema, as long as every file it removes is still
  live. So concurrent appends never conflict, while two rewrites of one file
  do: the loser gets :class:`CommitConflictError` (optimistic concurrency,
  like Iceberg).
* **Bucket partition spec** — rows are assigned ``_bucket =
  pmod(xxhash64(*key_cols), num_buckets)``. Every rewrite (fold, delete,
  backfill) replaces whole buckets, read at one pinned snapshot
  (:meth:`LakeTable._rewrite_buckets`), so keyed MERGE rewrites only the
  buckets a batch touches. This replaces BigQuery ``PARTITION BY date
  CLUSTER BY ...`` and defuses hot-key concentration at the file level
  (SURVEY.md §7.5 item 4).
* **File-level column stats** — per-file min/max/null-count harvested from
  parquet footers (metadata-only, no data scan) for data skipping, the same
  mechanism Iceberg manifests / Delta checkpoints use.
* **Schema evolution** — additive columns and int->long->double widening;
  old files are read with the schema they were written with, then cast/padded
  (reference analogue: NULL-padding at write, src/shared/gcs/loader.py:307-324,
  and forced widening, .../extractor.py:244-280).
* **Time travel** — ``read(version=N)`` replays the log to any retained commit.
* **Transaction fencing** — commit properties carry ``(txn_app, txn_batch)``;
  the snapshot keeps each app's highest batch, and
  :meth:`LakeTable.last_txn` lets an idempotent sink skip replayed batches
  (strengthens the reference watermark commit, src/loaders/watermark.py:141-185,
  to exactly-once).

Scale notes (designed for 1000-executor / 100 TB, tested on local[32]):
data files are written and read by distributed Spark jobs; outside them, a
commit touches only the commit log (KB-sized JSON) and the parquet footers
of its own new files, read in a thread pool.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import json
import os
import time
import uuid
from dataclasses import dataclass, field
from typing import Any, Callable, Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

_LOG_DIR = "_log"
_DATA_DIR = "data"

# L0 file-size floor for append_deltas(bucket_groups="auto")
L0_TARGET_FILE_BYTES = 16 << 20

# Columns the engine manages; not part of the user-visible schema.
BUCKET_COL = "_bucket"   # bucket id: pmod(xxhash64(keys), num_buckets)
LSN_COL = "_lsn"         # last-writer LSN of the row (0 for plain appends)
OP_COL = "_op"           # delta files only: I/U/D envelope op
MIXED_BUCKET = -1        # FileEntry.bucket for raw-append files spanning buckets

# int -> long -> double widening lattice (reference "Critical: always float64,
# never int64", src/shared/parquet/schemas.py:30-34).
_WIDEN_RANK = {
    "byte": 0, "short": 1, "integer": 2, "long": 3, "float": 4, "double": 5,
}


class CommitConflictError(RuntimeError):
    """Another writer committed this version first (optimistic concurrency)."""


@dataclass
class FileEntry:
    path: str                      # relative to table root
    bucket: int
    rows: int
    bytes: int
    schema_id: int
    stats: dict[str, list[Any]] = field(default_factory=dict)  # col -> [min, max, nulls]
    kind: str = "base"             # "base" | "delta" (merge-on-read change file)

    def to_json(self) -> dict[str, Any]:
        return {
            "path": self.path, "bucket": self.bucket, "rows": self.rows,
            "bytes": self.bytes, "schema_id": self.schema_id, "stats": self.stats,
            "kind": self.kind,
        }

    @staticmethod
    def from_json(d: dict[str, Any]) -> "FileEntry":
        return FileEntry(d["path"], d["bucket"], d["rows"], d["bytes"],
                         d["schema_id"], d.get("stats", {}), d.get("kind", "base"))


@dataclass
class Snapshot:
    version: int
    schema_id: int
    schema: T.StructType
    schemas: dict[int, T.StructType]         # schema_id -> schema (for old files)
    files: dict[str, FileEntry]              # rel path -> entry
    table_meta: dict[str, Any]
    txns: dict[str, int]                     # txn_app -> highest txn_batch
    # (out_bytes, n_files, G) of the newest merge_mor commit with adds
    l0_write: tuple[int, int, int] | None

    @property
    def num_rows(self) -> int:
        return sum(f.rows for f in self.files.values())

    def files_for_buckets(self, buckets: Iterable[int] | None) -> list[FileEntry]:
        if buckets is None:
            return list(self.files.values())
        bs = set(buckets)
        out = []
        for f in self.files.values():
            if f.bucket in bs:
                out.append(f)
            elif f.bucket == MIXED_BUCKET:
                # raw-append delta spanning many buckets: keep if its
                # _bucket min/max range intersects the requested set
                st = f.stats.get("_bucket")
                if st is None or any(st[0] <= b <= st[1] for b in bs):
                    out.append(f)
        return out


def _schema_with_engine_cols(schema: T.StructType) -> T.StructType:
    """Every data file, base or delta, carries (_bucket, _lsn, _op) after the
    user columns, so files of both kinds share one layout and one scan. _op
    in BASE files encodes delete tombstones: a deleted key keeps a row with
    _op='D' and the delete's LSN, so an out-of-order OLDER event can never
    resurrect it (found by the hypothesis property suite). Public reads
    filter tombstones; expire_tombstones() GCs them once the feed's
    low-watermark passes."""
    extra = [T.StructField(BUCKET_COL, T.IntegerType()),
             T.StructField(LSN_COL, T.LongType()),
             T.StructField(OP_COL, T.StringType())]
    return T.StructType(list(schema.fields) + extra)


class LakeTable:
    """A transactional, bucket-partitioned parquet table with a JSON commit log."""

    def __init__(self, spark: SparkSession, location: str):
        self.spark = spark
        self.location = os.path.abspath(location)
        self._snap_cache: dict[int, Snapshot] = {}
        # reusable Column templates (see bucket_expr and _layout)
        self._exprs: dict[tuple, Any] = {}
        # background maintenance (async compaction) — at most one in flight
        self._maint_pool = None
        self._maint_future = None
        # async commit finalizer (footer harvest + commit fsync pipelined
        # with the caller's next batch) — at most one in flight; the fence
        # props of the pending commit, visible to last_txn before it lands
        self._commit_pool = None
        self._commit_future = None
        self._pending_txn: tuple[str, int] | None = None

    # ------------------------------------------------------------------ DDL

    @staticmethod
    def create(
        spark: SparkSession,
        location: str,
        schema: T.StructType,
        key_cols: list[str],
        num_buckets: int = 16,
        properties: dict[str, Any] | None = None,
    ) -> "LakeTable":
        """CREATE TABLE: writes commit 0 (no data files)."""
        t = LakeTable(spark, location)
        if t.exists():
            raise FileExistsError(f"LakeTable already exists at {location}")
        os.makedirs(os.path.join(t.location, _LOG_DIR), exist_ok=True)
        os.makedirs(os.path.join(t.location, _DATA_DIR), exist_ok=True)
        for k in key_cols:
            if k not in schema.fieldNames():
                raise ValueError(f"key column {k!r} not in schema")
        t._write_commit(
            version=0,
            action="create",
            schema=schema,
            schema_id=0,
            adds=[],
            removes=[],
            properties=properties or {},
            table_meta={"key_cols": list(key_cols), "num_buckets": int(num_buckets)},
        )
        return t

    @staticmethod
    def load(spark: SparkSession, location: str) -> "LakeTable":
        t = LakeTable(spark, location)
        if not t.exists():
            raise FileNotFoundError(f"no LakeTable at {location}")
        return t

    def exists(self) -> bool:
        return os.path.exists(self._log_path(0))

    # ------------------------------------------------------------ commit log

    def _log_path(self, version: int) -> str:
        return os.path.join(self.location, _LOG_DIR, f"{version:020d}.json")

    def current_version(self) -> int:
        """The newest committed version. Every commit lands at the version
        after a snapshot's or after the head's, so versions are dense from
        0: probe ``version + 1`` forward from the newest cached snapshot.
        Only a cold object lists ``_log/``."""
        if self._snap_cache:
            v = max(self._snap_cache)
        else:
            docs = glob.glob(os.path.join(self.location, _LOG_DIR, "*.json"))
            if not docs:
                raise FileNotFoundError(f"no LakeTable at {self.location}")
            v = max(int(os.path.basename(p)[:-5]) for p in docs)
        while os.path.exists(self._log_path(v + 1)):
            v += 1
        return v

    def _write_commit(
        self,
        version: int,
        action: str,
        schema: T.StructType,
        schema_id: int,
        adds: list[FileEntry],
        removes: list[str],
        properties: dict[str, Any],
        table_meta: dict[str, Any] | None = None,
    ) -> int:
        doc = {
            "version": version,
            "action": action,
            "schema_id": schema_id,
            "schema": json.loads(schema.json()),
            "adds": [a.to_json() for a in adds],
            "removes": list(removes),
            "properties": properties,
            "commit_ts_ms": int(time.time() * 1000),  # audit only, never in data
        }
        if table_meta is not None:
            doc["table"] = table_meta
        path = self._log_path(version)
        payload = json.dumps(doc, separators=(",", ":")).encode()
        # publish whole: a reader probing or listing _log/ must never load a
        # created-but-unwritten doc, so the bytes are fsynced to a temp file
        # first and os.link makes them the version in one step (it fails if
        # another writer took the version)
        tmp = f"{path}.{uuid.uuid4().hex}.tmp"
        with open(tmp, "wb") as fh:
            fh.write(payload)
            fh.flush()
            os.fsync(fh.fileno())
        try:
            os.link(tmp, path)
        except FileExistsError as e:
            raise CommitConflictError(f"version {version} already committed") from e
        finally:
            os.remove(tmp)
        self._maybe_write_checkpoint(version)
        return version

    def snapshot(self, version: int | None = None) -> Snapshot:
        """Table state at ``version`` (default: the head), replayed from the
        commit log. This is the log's one reader: the same per-doc loop that
        applies adds and removes keeps each ``txn_app``'s highest
        ``txn_batch`` (``txns``, read by :meth:`last_txn`) and the size of
        the newest ``merge_mor`` write (``l0_write``, read by
        ``append_deltas(bucket_groups="auto")``).

        Incremental: extend the newest cached snapshot below ``version`` with
        only the newer commit docs. The streaming merge path takes a new
        snapshot every trigger, so a from-scratch replay would be
        O(commits x files) per batch — quadratic over a long-running ingest
        — while this is O(new commits + live files) driver time. A cold
        object (fresh driver) seeds from the newest manifest checkpoint at
        or below ``version`` and replays only the tail. The head is found
        by the probe of :meth:`current_version`, so a warm call lists no
        directory."""
        v = self.current_version() if version is None else version
        cached = dict(self._snap_cache)   # other threads add and evict
        if v in cached:
            return cached[v]
        if version is not None and (v < 0
                                    or not os.path.exists(self._log_path(v))):
            raise ValueError(f"version {v} not in log")
        base = max((bv for bv in cached if bv < v), default=None)
        prev = cached[base] if base is not None else self._load_checkpoint(v)
        files, schemas = dict(prev.files), dict(prev.schemas)
        schema_id, schema, table_meta = (prev.schema_id, prev.schema,
                                         prev.table_meta)
        txns, l0_write = dict(prev.txns), prev.l0_write
        for cv in range(prev.version + 1, v + 1):
            doc = self._read_doc(cv)
            schema = T.StructType.fromJson(doc["schema"])
            schema_id = doc["schema_id"]
            schemas[schema_id] = schema
            if "table" in doc:
                table_meta = doc["table"]
            for rm in doc["removes"]:
                files.pop(rm, None)
            for a in doc["adds"]:
                e = FileEntry.from_json(a)
                files[e.path] = e
            props = doc.get("properties", {})
            app, batch = props.get("txn_app"), props.get("txn_batch")
            if app is not None and batch is not None:
                txns[app] = max(int(batch), txns.get(app, int(batch)))
            if doc["action"] == "merge_mor" and doc["adds"]:
                l0_write = (sum(a["bytes"] for a in doc["adds"]),
                            len(doc["adds"]), int(props.get("l0_groups") or 1))
        snap = Snapshot(v, schema_id, schema, schemas, files, table_meta,
                        txns, l0_write)
        self._snap_cache[v] = snap
        # bound driver memory on long ingests: keep the newest snapshots only
        # (older versions rebuild from scratch on the rare time-travel read)
        while len(self._snap_cache) > self.SNAP_CACHE_MAX:
            self._snap_cache.pop(min(self._snap_cache), None)
        return snap

    SNAP_CACHE_MAX = 8
    # a manifest checkpoint is written every K commits; cold opens replay
    # checkpoint + <= K tail docs instead of the whole log
    CHECKPOINT_INTERVAL = 64

    # ------------------------------------------------------ log checkpoints

    def _checkpoint_dir(self) -> str:
        return os.path.join(self.location, _LOG_DIR, "_checkpoints")

    def _checkpoint_versions(self) -> list[int]:
        pat = os.path.join(self._checkpoint_dir(), "*.json")
        return sorted(int(os.path.basename(p)[:-5]) for p in glob.glob(pat))

    def _load_checkpoint(self, max_version: int) -> Snapshot:
        """The state saved by the newest checkpoint at or below max_version,
        or the empty state before version 0 if there is none."""
        empty = Snapshot(-1, 0, None, {}, {}, {}, {}, None)
        cands = [c for c in self._checkpoint_versions() if c <= max_version]
        if not cands:
            return empty
        path = os.path.join(self._checkpoint_dir(), f"{cands[-1]:020d}.json")
        try:
            with open(path) as fh:
                cp = json.load(fh)
        except (OSError, json.JSONDecodeError):
            return empty     # torn/corrupt checkpoint: fall back to full replay
        schemas = {int(sid): T.StructType.fromJson(sj)
                   for sid, sj in cp["schemas"].items()}
        return Snapshot(
            cp["version"], cp["schema_id"], schemas[cp["schema_id"]], schemas,
            {p: FileEntry.from_json(d) for p, d in cp["files"].items()},
            cp["table"], {k: int(b) for k, b in cp.get("txn_best", {}).items()},
            tuple(cp["l0_write"]) if cp.get("l0_write") else None)

    def _maybe_write_checkpoint(self, version: int) -> None:
        """Every CHECKPOINT_INTERVAL commits, persist the full snapshot state
        (live files, all schemas, table meta, fence high-waters, the last L0
        write) so a cold driver's first snapshot() is O(interval), not
        O(commits). Best-effort and crash-safe: written to a temp file then
        atomically renamed; a missing/torn checkpoint only costs a longer
        replay."""
        if version <= 0 or version % self.CHECKPOINT_INTERVAL != 0:
            return
        snap = self.snapshot(version)
        doc = {
            "version": version,
            "schema_id": snap.schema_id,
            "schemas": {str(sid): json.loads(s.json())
                        for sid, s in snap.schemas.items()},
            "files": {p: e.to_json() for p, e in snap.files.items()},
            "table": snap.table_meta,
            "txn_best": snap.txns,
            "l0_write": snap.l0_write,
        }
        os.makedirs(self._checkpoint_dir(), exist_ok=True)
        path = os.path.join(self._checkpoint_dir(), f"{version:020d}.json")
        tmp = f"{path}.tmp.{os.getpid()}"
        try:
            with open(tmp, "w") as fh:
                json.dump(doc, fh, separators=(",", ":"))
            os.rename(tmp, path)
        except OSError:
            try:
                os.remove(tmp)
            except OSError:
                pass

    def _read_doc(self, version: int) -> dict[str, Any]:
        with open(self._log_path(version)) as fh:
            return json.load(fh)

    def history(self) -> list[dict[str, Any]]:
        self.join_pending_commit()
        out = []
        for cv in range(self.current_version() + 1):
            doc = self._read_doc(cv)
            out.append({k: doc[k] for k in
                        ("version", "action", "schema_id", "properties", "commit_ts_ms")})
        return out

    def last_txn(self, app_id: str) -> int | None:
        """Highest txn_batch committed for app_id — the exactly-once fence.

        Read from the head snapshot's ``txns``, which the log replay keeps,
        so the per-trigger fence check reads only the commit docs newer than
        the last snapshot and lists no directory. An async commit finalizer
        in flight counts toward the fence: its commit is ordered before any
        later batch's (see :meth:`append_deltas`)."""
        # the pending fence is read first: it is cleared only once its commit
        # doc is in the log, so the snapshot taken after it sees that doc
        pend = self._pending_txn
        best = self.snapshot().txns.get(app_id)
        if pend is not None and pend[0] == app_id and (best is None
                                                       or pend[1] > best):
            best = pend[1]
        return best

    # --------------------------------------------------------------- buckets

    @property
    def key_cols(self) -> list[str]:
        return self.snapshot().table_meta["key_cols"]

    @property
    def num_buckets(self) -> int:
        return int(self.snapshot().table_meta["num_buckets"])

    def bucket_expr(self, key_cols: list[str] | None = None):
        """pmod(xxhash64(keys), N) — deterministic bucket assignment.

        NULL keys hash via coalesce-to-sentinel so they land in a stable bucket
        (the reference tolerates NULL-keyed legacy rows and repairs them in
        MERGE, loader.py:517-519).
        """
        kc = ("bucket", tuple(key_cols or self.key_cols))
        expr = self._exprs.get(kc)
        if expr is None:
            # Column templates are unresolved expressions — safe to reuse
            # across micro-batches; rebuilding them is ~10 py4j round trips
            # of per-trigger driver-serial time
            cols = [F.coalesce(F.col(c).cast("string"), F.lit("\x00null"))
                    for c in kc[1]]
            expr = F.pmod(F.xxhash64(*cols),
                          F.lit(self.num_buckets)).cast("int")
            self._exprs[kc] = expr
        return expr

    # ----------------------------------------------------------------- reads

    def _read_entries(self, snap: Snapshot,
                      entries: list[FileEntry]) -> DataFrame:
        """Read base and delta files alike in ONE parquet scan per schema_id:
        old files are read with the schema they were written with, then
        cast/padded to the current one (safe widening reads). No files
        yields an empty relation with no RDD behind it."""
        cur_schema = _schema_with_engine_cols(snap.schema)
        if not entries:
            return _conform(self.spark.range(0), cur_schema)
        by_sid: dict[int, list[str]] = {}
        for e in entries:
            by_sid.setdefault(e.schema_id, []).append(
                os.path.join(self.location, e.path))
        return functools.reduce(DataFrame.unionByName, [
            _conform(self.spark.read
                     .schema(_schema_with_engine_cols(snap.schemas[sid]))
                     .parquet(*paths), cur_schema)
            for sid, paths in sorted(by_sid.items())])

    def prune_files(self, entries: list[FileEntry],
                    predicates: list[tuple[str, str, Any]]) -> list[FileEntry]:
        """File-level data skipping on footer min/max stats (the manifest-side
        of what Iceberg manifests / Delta checkpoints provide). ``predicates``
        are conjunctive (col, op, value) with op in =, <, <=, >, >=.
        Files without stats for a column are conservatively kept."""
        def may_match(e: FileEntry) -> bool:
            for col, op, val in predicates:
                st = e.stats.get(col)
                if not st:
                    continue
                mn, mx = st[0], st[1]
                if op == "=" and not (mn <= val <= mx):
                    return False
                if op in ("<", "<=") and not (mn < val or (op == "<=" and mn <= val)):
                    return False
                if op in (">", ">=") and not (mx > val or (op == ">=" and mx >= val)):
                    return False
            return True
        return [e for e in entries if may_match(e)]

    def read(
        self,
        version: int | None = None,
        buckets: Iterable[int] | None = None,
        with_bucket: bool = False,
    ) -> DataFrame:
        """Snapshot read. ``buckets`` prunes to the given bucket ids using the
        manifest (no file even opened for pruned buckets).

        Every selected file, base or delta, is read in one scan per
        schema_id. If any is a delta (merge-on-read or raw L0 change file),
        the rows are collapsed per key to the max-LSN row by
        :meth:`_resolve_lww` — the same LWW rule a fold bakes into base
        files — and a caller's key predicates still reach the parquet
        scan through it. Compaction (:meth:`compact_deltas`) bounds the
        number of deltas so read amplification stays O(1) per bucket."""
        self.join_pending_commit()        # read-your-writes under async commit
        snap = self.snapshot(version)
        entries = snap.files_for_buckets(buckets)
        df = self._read_entries(snap, entries)
        if any(e.kind == "delta" for e in entries):
            df = self._resolve_lww(df)
        if not with_bucket:
            # public read: hide tombstones and engine columns
            df = (df.filter(F.coalesce(F.col(OP_COL), F.lit("U")) != "D")
                  .drop(BUCKET_COL, LSN_COL, OP_COL))
        return df

    def _resolve_lww(self, rows: DataFrame) -> DataFrame:
        """Collapse rows to the max-LSN row per key. Winning D rows are KEPT
        as tombstones (public reads filter them; they guard against
        resurrection by out-of-order older events). The window partitions by
        the plain key columns, grouping NULL keys as the oracle's
        :func:`~..cdc.oracle.lww_dedup` does,
        so Spark can push a caller's key filter below it to the scan."""
        from pyspark.sql import Window

        w = Window.partitionBy(*self.key_cols).orderBy(
            F.col(LSN_COL).desc(), F.coalesce(F.col(OP_COL), F.lit("U")).desc())
        return (rows.withColumn("_rn", F.row_number().over(w))
                .filter(F.col("_rn") == 1).drop("_rn"))

    def expire_tombstones(self, below_lsn: int,
                          properties: dict[str, Any] | None = None) -> int:
        """GC delete tombstones whose LSN is below the feed's low-watermark
        (no event with a lower LSN can still arrive). Copy-on-write rewrite
        of ONLY the buckets that may hold an expirable tombstone, found from
        the manifest's ``_op``/``_lsn`` footer stats: a file whose min(_op)
        sorts above 'D' has no tombstones at all, and one whose min(_lsn) is
        already >= the low-watermark has none old enough. At 100 TB this
        maintenance pass touches the few buckets with old deletes, not the
        table."""
        self.join_pending_commit()
        self.join_maintenance()
        snap = self.snapshot()

        def may_have_expirable(e: FileEntry) -> bool:
            st_op = e.stats.get(OP_COL)
            if st_op is not None and st_op[0] > "D":
                return False                      # no 'D' rows in this file
            st_lsn = e.stats.get(LSN_COL)
            if st_lsn is not None and st_lsn[0] >= below_lsn:
                return False                      # every row too new
            return True                           # stats missing: conservative

        may = [e for e in snap.files.values() if may_have_expirable(e)]
        if not may:
            return snap.version                   # nothing can expire: no-op
        expired = ((F.coalesce(F.col(OP_COL), F.lit("U")) == "D")
                   & (F.col(LSN_COL) < below_lsn))
        return self._rewrite_buckets(
            snap, self.buckets_of_entries(may),
            lambda rows: rows.filter(~expired), "expire_tombstones",
            lambda b, _: dict(properties or {},
                              tombstones_expired_below=below_lsn,
                              expire_pruned_buckets=b))

    def is_empty(self) -> bool:
        self.join_pending_commit()
        return self.snapshot().num_rows == 0

    # ---------------------------------------------------------------- writes

    def _write_data_files(
        self, df: DataFrame, version: int, schema: T.StructType, schema_id: int,
        kind: str = "base", bucket_groups: int | None = None,
    ) -> list[FileEntry]:
        """Write df as parquet data files in the layout of :meth:`_layout`.

        ``kind="base"``: repartition by bucket, then ``partitionBy`` on a
        duplicated ``_bkt`` column yields one directory per bucket;
        ``_bucket`` itself stays as a data column so snapshot reads need no
        basePath reconstruction. ``kind="delta"`` (raw-append L0): files are
        written as-scanned with NO shuffle; per-file _bucket min/max stats
        still allow coarse pruning.

        ``bucket_groups=G`` (delta files only): bucket-CLUSTERED L0 with no
        shuffle — each task's rows are split into G contiguous bucket ranges
        via ``partitionBy`` on a derived group column (Spark's
        dynamic-partition writer adds a task-local sort, no exchange). With
        G = num_buckets the L0 files are fully bucket-pure (labeled with real
        bucket ids via their footer stats), restoring per-bucket
        compaction/read locality; smaller G trades file count (tasks x G per
        write) for locality.

        Stats come from parquet footers only.
        """
        abs_dir, rel_dir = self._run_write_job(df, version, schema, kind,
                                               bucket_groups)
        return self._harvest_entries(abs_dir, rel_dir, schema_id, kind)

    def _run_write_job(
        self, df: DataFrame, version: int, schema: T.StructType,
        kind: str = "base", bucket_groups: int | None = None,
    ) -> tuple[str, str]:
        """The Spark-job half of :meth:`_write_data_files`: materialize the
        data files and return ``(abs_dir, rel_dir)`` without touching the
        parquet footers — so an async finalizer can harvest + commit off
        the critical path (see ``append_deltas``).

        Input contract: ``df`` carries user columns and either the engine
        columns or, for ``kind="delta"``, the envelope's ``lsn`` and ``op``;
        :meth:`_layout` fills in the rest."""
        out, part = self._layout(df, schema, kind, bucket_groups)
        rel_dir = f"{_DATA_DIR}/c{version:010d}-{uuid.uuid4().hex[:8]}"
        abs_dir = os.path.join(self.location, rel_dir)
        if kind == "base":
            out = out.repartition(self.num_buckets, F.col(BUCKET_COL))
        # no _SUCCESS marker: the commit doc in _log/ is the table's success
        # marker and nothing reads data/**/_SUCCESS (one file op less a write)
        w = out.write.mode("overwrite").option(
            "mapreduce.fileoutputcommitter.marksuccessfuljobs", "false")
        (w.partitionBy(part) if part else w).parquet(abs_dir)
        return abs_dir, rel_dir

    def _layout(self, df: DataFrame, schema: T.StructType, kind: str,
                bucket_groups: int | None) -> tuple[DataFrame, str | None]:
        """Project ``df`` onto the data-file layout in ONE select, for every
        data write, and name its partition column (None: no partitionBy).
        User columns are NULL-padded or cast to ``schema`` (the reference's
        silver load, gcs/loader.py:307-345). Each engine column is the
        frame's own, else: ``_bucket`` from :meth:`bucket_expr`; ``_lsn`` and
        ``_op`` from the CDC envelope's ``lsn`` (as long) and ``op`` for
        ``kind="delta"``, otherwise ``0`` and ``'U'``. Last comes ``_bkt``
        (base) or ``_bgrp`` (grouped delta), see :meth:`_write_data_files`.
        The select list is cached: rebuilding it would cost py4j round trips
        per column on every micro-batch."""
        key = ("layout", df.schema, schema, kind, bucket_groups)
        got = self._exprs.get(key)
        if got is None:
            have = {f.name: f.dataType for f in df.schema.fields}

            def envelope(name: str, base):
                return (F.col(name) if kind == "delta" and name in have
                        else F.lit(base))

            bucket = (F.col(BUCKET_COL) if BUCKET_COL in have
                      else self.bucket_expr())
            default = {BUCKET_COL: bucket, LSN_COL: envelope("lsn", 0),
                       OP_COL: envelope("op", "U")}
            cols = [_fit(have, f, default.get(f.name, F.lit(None)))
                    for f in _schema_with_engine_cols(schema).fields]
            part = None
            if kind == "base":
                part = "_bkt"
                cols.append(bucket.alias(part))
            elif bucket_groups and bucket_groups > 1:
                part = "_bgrp"
                gsz = -(-self.num_buckets // int(bucket_groups))   # ceil
                cols.append((bucket / F.lit(gsz)).cast("int").alias(part))
            got = self._exprs[key] = (cols, part)
        cols, part = got
        return df.select(*cols), part

    def _harvest_entries(self, abs_dir: str, rel_dir: str, schema_id: int,
                         kind: str = "base") -> list[FileEntry]:
        """Footer entries of the files a write job left in ``abs_dir``, read
        in a thread pool (pyarrow releases the GIL on footer I/O)."""
        from concurrent.futures import ThreadPoolExecutor

        paths = (glob.glob(os.path.join(abs_dir, "_bkt=*", "*.parquet"))
                 + glob.glob(os.path.join(abs_dir, "_bgrp=*", "*.parquet"))
                 + glob.glob(os.path.join(abs_dir, "*.parquet")))
        entries: list[FileEntry] = []
        if paths:
            with ThreadPoolExecutor(max_workers=min(16, len(paths))) as pool:
                entries = list(pool.map(
                    lambda fp: _harvest_footer(fp, abs_dir, rel_dir,
                                               schema_id, kind), paths))
        # a write task with no rows still writes a file (Spark's partition 0
        # always does); committed, it has no _bucket stats and would count
        # toward the read amplification of every bucket
        return [e for e in entries if e.rows]

    def append(self, df: DataFrame, properties: dict[str, Any] | None = None) -> int:
        """Blind append (the reference's empty-table fast path M3 — a pure
        insert with no match scan, loader.py:347-378)."""
        self.join_pending_commit()
        snap = self.snapshot()
        adds = self._write_data_files(df, snap.version + 1, snap.schema,
                                      snap.schema_id)
        return self._commit_files(snap, "append", adds, [], properties or {})

    def overwrite(self, df: DataFrame, properties: dict[str, Any] | None = None) -> int:
        """Full-table replace (snapshot-atomic truncate + insert)."""
        self.join_pending_commit()
        snap = self.snapshot()
        adds = self._write_data_files(df, snap.version + 1, snap.schema,
                                      snap.schema_id)
        return self._commit_files(snap, "overwrite", adds, list(snap.files),
                                  properties or {})

    def overwrite_buckets(self, df: DataFrame,
                          properties: dict[str, Any] | None = None) -> int:
        """Replace exactly the buckets present in df — the reference's
        partition-overwrite semantics (delete matching files then upload one
        fresh file, src/shared/gcs/loader.py:173-224 + 277-282) expressed as
        one atomic commit instead of delete-then-write. Mixed files widen the
        swap to the closure, whose untouched rows are written back."""
        self.join_pending_commit()
        self.join_maintenance()
        snap = self.snapshot()
        # df in the file layout, so its rows union with the rows kept
        new = self._layout(df, snap.schema, "base", None)[0].drop("_bkt")
        touched = sorted(r[0] for r in
                         new.select(BUCKET_COL).distinct().collect())

        def swap(rows: DataFrame) -> DataFrame:
            others = rows.filter(~F.col(BUCKET_COL).isin(touched))
            return new.unionByName(others)

        return self._rewrite_buckets(
            snap, touched, swap, "overwrite_buckets",
            lambda *_: dict(properties or {}, overwritten_buckets=touched))

    def delete_where(self, condition: str,
                     properties: dict[str, Any] | None = None,
                     prune_predicates: list[tuple[str, str, Any]] | None = None,
                     ) -> int:
        """DELETE FROM t WHERE cond — copy-on-write rewrite of affected
        BUCKETS only (reference: partition-pruned delete M5 loader.py:194-272
        and batched NULL-key delete M6 loader.py:945-974; no 1000-item
        IN-list chunking needed).

        ``prune_predicates`` — conjunctive ``(col, op, val)`` mirror of
        ``condition`` for manifest-stats file skipping: files that cannot
        match identify buckets that need no rewrite; those buckets' files
        ride through the commit untouched. Pruning is at bucket granularity
        (not file) because MOR delta resolution is per-bucket: rewriting one
        base file while its bucket's deltas survive would re-resolve
        against stale deltas. A may-match raw-append (mixed-bucket) file
        widens the rewrite to the closure of its bucket span. Without
        ``prune_predicates`` every file is conservatively rewritten.

        At 100 TB this is the difference between a maintenance delete
        costing O(matching buckets) and O(table)."""
        self.join_pending_commit()
        self.join_maintenance()
        snap = self.snapshot()
        buckets: set[int] | None = None
        if prune_predicates:
            may = self.prune_files(list(snap.files.values()), prune_predicates)
            if not may:
                return snap.version          # nothing can match: no-op
            buckets = self.buckets_of_entries(may)
        cond = F.expr(condition)
        return self._rewrite_buckets(
            snap, buckets, lambda rows: rows.filter(~cond | cond.isNull()),
            "delete",
            lambda b, victims: dict(properties or {}, delete_pruned_buckets=b,
                                    delete_files_rewritten=len(victims),
                                    delete_files_total=len(snap.files)))

    def _commit_files(self, snap: Snapshot, action: str,
                      adds: list[FileEntry], removes: list[str],
                      props: dict[str, Any]) -> int:
        """The one commit rule for data: swap ``removes`` for ``adds`` at
        the version after ``snap``, with ``snap``'s schema. If another writer
        took that version and every file in ``removes`` is still live, retry
        at the new head with the head's schema (never undoing a concurrent
        schema evolution; each file keeps its own schema id). If one is gone,
        another rewrite replaced it first: :class:`CommitConflictError`."""
        version, schema, schema_id = (snap.version + 1, snap.schema,
                                      snap.schema_id)
        while True:
            try:
                return self._write_commit(version, action, schema, schema_id,
                                          adds, removes, props)
            except CommitConflictError:
                latest = self.snapshot()
                if any(p not in latest.files for p in removes):
                    raise
                version, schema, schema_id = (latest.version + 1,
                                              latest.schema, latest.schema_id)

    def _rewrite_buckets(
        self, snap: Snapshot, buckets: Iterable[int] | None,
        fn: Callable[[DataFrame], DataFrame], action: str,
        props: Callable[[Any, list[FileEntry]], dict[str, Any]],
    ) -> int:
        """The one copy-on-write path: replace the files of ``buckets``
        (None: all), closed under mixed-file spans
        (:meth:`expand_bucket_closure`), by base files of ``fn(rows)``, where
        ``rows`` is their LWW-resolved state (tombstones and engine columns
        included) read pinned to ``snap.version``, so the files removed are
        exactly the files read. Commits by :meth:`_commit_files`.
        ``props(buckets, victims)`` gives the commit properties from the
        closure (``"all"`` for the whole table) and the files removed."""
        if buckets is not None:
            buckets = self.expand_bucket_closure(snap, buckets)
        victims = snap.files_for_buckets(buckets)
        rows = self.read(version=snap.version, buckets=buckets,
                         with_bucket=True)
        adds = self._write_data_files(fn(rows), snap.version + 1, snap.schema,
                                      snap.schema_id)
        return self._commit_files(
            snap, action, adds, [e.path for e in victims],
            props("all" if buckets is None else buckets, victims))

    def append_deltas(self, df: DataFrame,
                      properties: dict[str, Any] | None = None,
                      bucket_groups: int | str | None = None,
                      props_fn: Any = None,
                      async_finalize: bool = False,
                      post_commit: Any = None) -> int:
        """Merge-on-read write path: append LWW-resolvable change files,
        written as scanned with no shuffle. O(batch) cost — no target read,
        no rewrite; reads resolve via :meth:`_resolve_lww` and
        :meth:`compact_deltas` folds deltas into base files.

        Input contract: ``df`` carries user columns and either the engine
        columns or the CDC envelope's ``lsn`` and ``op``, as
        ``merge_cdc_batch`` hands it over; :meth:`_layout` fills in the rest.

        ``props_fn(adds) -> dict`` (optional) is called after the data files
        are written but before the commit doc: lineage derived from the write
        itself (Observation metrics, per-bucket file stats) lands in the SAME
        atomic commit with no extra Spark job.

        ``bucket_groups``: bucket-clustered L0 — see
        :meth:`_write_data_files`. ``"auto"`` picks the largest G in [1,
        num_buckets] whose files stay at or above ``L0_TARGET_FILE_BYTES``
        at the bytes per write task (``out_bytes x G_prev / n_files``) of
        the log's newest ``merge_mor`` commit with adds (the snapshot's
        ``l0_write``), so G survives a restart; num_buckets if the log has
        none. Every commit records its G as ``l0_groups`` (1 for None, which
        writes ungrouped files). An append removes nothing, so under
        :meth:`_commit_files` a lost commit race is always retried: delta
        writes are safe concurrent with background compaction.

        ``post_commit(version, phases)`` (optional) runs once the commit has
        landed. ``phases`` is this write's own breakdown: ``write_job_s``
        (the Spark job), ``harvest_s`` (footer reads), ``n_files``,
        ``out_bytes`` and ``commit_fsync_s`` (:meth:`_commit_files`).

        ``async_finalize=True``: the Spark write job still runs inline (the
        parallel part), but the DRIVER-SERIAL tail — parquet footer harvest,
        lineage ``props_fn``, commit-log write + fsync — runs on a background
        driver thread so it overlaps the caller's next trigger (scan of batch
        N+1, streaming wrapper). Returns ``-1`` (version pending); the real
        version reaches ``post_commit`` on the finalizer thread after the
        commit lands. Ordering invariant: at most one finalize is in flight
        and the previous one is joined before this one may commit, so commit
        order equals batch order and fence N always lands before data N+1
        commits. Readers (:meth:`read`), maintenance
        and destructive ops join the pending commit first (read-your-writes).
        Durability note: between the caller's return and the background
        fsync, the batch is NOT yet in the log — a crash in that window
        loses it from the table while an outer offset tracker (e.g. a
        streaming checkpoint) may already count it done; pair with a
        replayable source + fence-vs-checkpoint gap repair
        (:meth:`~..streaming.CdcStreamRunner.repair_fence_gap`)."""
        if not async_finalize:
            # a sync append must not overtake an in-flight async commit
            # (commit order == call order keeps fences monotonic)
            self.join_pending_commit()
        snap = self.snapshot()
        props0 = dict(properties or {})
        if bucket_groups == "auto":
            nb = int(snap.table_meta["num_buckets"])
            bucket_groups = nb
            if snap.l0_write is not None:
                out_bytes, n_files, g_prev = snap.l0_write
                g = int(out_bytes * g_prev / n_files // L0_TARGET_FILE_BYTES)
                bucket_groups = max(1, min(nb, g))
        props0["l0_groups"] = bucket_groups or 1
        t0 = time.monotonic()
        abs_dir, rel_dir = self._run_write_job(
            df, snap.version + 1, snap.schema, "delta", bucket_groups)
        phases = {"write_job_s": round(time.monotonic() - t0, 4)}

        def _finalize() -> int:
            try:
                t1 = time.monotonic()
                entries = self._harvest_entries(abs_dir, rel_dir,
                                                snap.schema_id, "delta")
                phases.update(harvest_s=round(time.monotonic() - t1, 4),
                              n_files=len(entries),
                              out_bytes=sum(e.bytes for e in entries))
                props = dict(props0)
                if props_fn is not None:
                    props.update(props_fn(entries))
                t2 = time.monotonic()
                v = self._commit_files(snap, "merge_mor", entries, [], props)
                phases["commit_fsync_s"] = round(time.monotonic() - t2, 4)
            finally:
                # landed: the log itself now carries the fence; failed: the
                # batch is not in the table, so it must not count as fenced
                self._pending_txn = None
            if post_commit is not None:
                post_commit(v, phases)
            return v

        if not async_finalize:
            return _finalize()
        # the serial tail is deferred. Ordering: the previous async
        # commit must be fully on disk before this one may land (also
        # bounds in-flight finalizers to one)
        self.join_pending_commit()
        if "txn_app" in props0 and props0.get("txn_batch") is not None:
            self._pending_txn = (str(props0["txn_app"]),
                                 int(props0["txn_batch"]))
        if self._commit_pool is None:
            from concurrent.futures import ThreadPoolExecutor
            self._commit_pool = ThreadPoolExecutor(
                max_workers=1, thread_name_prefix="lake-commit")
        self._commit_future = self._commit_pool.submit(_finalize)
        return -1

    def join_pending_commit(self) -> int | None:
        """Block until an in-flight async commit finalizer (see
        ``append_deltas(async_finalize=True)``) lands; re-raise its failure
        (a silently lost commit would drop a batch). Returns the committed
        version, or None if nothing was pending. No-op when called from the
        finalizer thread itself (post_commit hooks may reach table APIs)."""
        f = self._commit_future
        if f is None:
            return None
        import threading
        if threading.current_thread().name.startswith("lake-commit"):
            return None
        try:
            return f.result()
        finally:
            # compare-and-clear: a concurrent joiner (the lake-maint thread)
            # must not drop a newer finalizer submitted while it waited
            if self._commit_future is f:
                self._commit_future = None

    # ------------------------------------------------------- maintenance

    def compact_deltas_async(self, buckets: Iterable[int],
                             properties: dict[str, Any] | None = None):
        """Schedule :meth:`compact_deltas` on a background driver thread so
        its (distributed) fold job overlaps the NEXT trigger's scan and the
        streaming wrapper's driver-serial phases instead of extending the
        current batch's critical path.

        At most one maintenance job is in flight per table — if one is
        already running the call is a no-op (the next trigger re-evaluates
        the per-bucket counts). If the last one failed, the call raises its
        failure instead, once (see :meth:`join_maintenance`).
        Correctness under the overlap: the fold reads a PINNED snapshot
        version and only removes that snapshot's files;
        concurrent delta appends land at later versions and win LWW
        resolution over the compacted base; a lost commit race is retried
        while the victims are still live (:meth:`_commit_files`). Two
        rewrites of the same files do conflict (the loser raises), so every
        foreground rewrite — ``merge_cdc_batch``'s ``mode="cow"`` fold,
        :meth:`delete_where`, :meth:`expire_tombstones`,
        :meth:`overwrite_buckets`, ``merge_backfill`` — and :meth:`vacuum`
        join maintenance first, and :class:`~..streaming.CdcStreamRunner`
        joins it before returning. Returns the Future, or None if one was
        already running."""
        f = self._maint_future
        if f is not None and not f.done():
            return None
        self.join_maintenance()      # a finished fold's failure raises here
        from concurrent.futures import ThreadPoolExecutor
        if self._maint_pool is None:
            self._maint_pool = ThreadPoolExecutor(
                max_workers=1, thread_name_prefix="lake-maint")
        self._maint_future = self._maint_pool.submit(
            self.compact_deltas, buckets=list(buckets),
            properties=properties)
        return self._maint_future

    def join_maintenance(self) -> None:
        """Block until any in-flight background maintenance commit lands and
        re-raise its failure (a silently failed compaction would leave read
        amplification growing unbounded). A failure is raised once: the
        future is cleared either way, so later calls do not repeat it."""
        f = self._maint_future
        if f is None:
            return
        try:
            f.result()
        finally:
            # compare-and-clear: keep a newer fold scheduled while we waited
            if self._maint_future is f:
                self._maint_future = None

    def delta_file_counts(self) -> dict[int, int]:
        """Delta files per bucket; key MIXED_BUCKET counts raw-append files."""
        counts: dict[int, int] = {}
        for e in self.snapshot().files.values():
            if e.kind == "delta":
                counts[e.bucket] = counts.get(e.bucket, 0) + 1
        return counts

    def _entry_bucket_range(self, e: FileEntry) -> tuple[int, int]:
        """Conservative [min, max] bucket range a mixed file may span."""
        st = e.stats.get(BUCKET_COL)
        if st is None:
            return (0, self.num_buckets - 1)
        return (int(st[0]), int(st[1]))

    def bucket_read_amplification(self) -> dict[int, int]:
        """Per-bucket DELTA-file read amplification: how many delta files a
        read of bucket b must open. Unlike :meth:`delta_file_counts`, a
        mixed (multi-bucket) file counts toward EVERY bucket in its footer
        ``_bucket`` range — the number that actually drives read cost and
        the auto-compaction trigger."""
        counts: dict[int, int] = {}
        for e in self.snapshot().files.values():
            if e.kind != "delta":
                continue
            if e.bucket != MIXED_BUCKET:
                counts[e.bucket] = counts.get(e.bucket, 0) + 1
            else:
                lo, hi = self._entry_bucket_range(e)
                for b in range(lo, hi + 1):
                    counts[b] = counts.get(b, 0) + 1
        return counts

    def expand_bucket_closure(self, snap: Snapshot,
                              buckets: Iterable[int]) -> list[int] | None:
        """Smallest superset of ``buckets`` closed under mixed-file spans.

        A rewrite of bucket set B must also rewrite every bucket that shares
        a (raw-append / grouped-L0) file with B — otherwise the shared file's
        foreign-bucket rows would be duplicated by the swap. Ranges can
        chain, so iterate to a fixed point. Returns ``None`` when the closure
        covers the whole table (callers treat None as "all buckets", the old
        full-fold fallback — now the worst case instead of the only case)."""
        want = set(buckets)
        spans = [self._entry_bucket_range(e) for e in snap.files.values()
                 if e.bucket == MIXED_BUCKET]
        grew = True
        while grew:
            grew = False
            for lo, hi in spans:
                if any(lo <= b <= hi for b in want) \
                        and not want.issuperset(range(lo, hi + 1)):
                    want.update(range(lo, hi + 1))
                    grew = True
        if len(want) >= self.num_buckets:
            return None
        return sorted(want)

    def buckets_of_entries(self, entries: Iterable[FileEntry]) -> set[int]:
        """Every bucket the given file entries may contain rows of (mixed
        files contribute their full footer ``_bucket`` range)."""
        out: set[int] = set()
        for e in entries:
            if e.bucket != MIXED_BUCKET:
                out.add(e.bucket)
            else:
                lo, hi = self._entry_bucket_range(e)
                out.update(range(lo, hi + 1))
        return out

    def compact_deltas(self, max_delta_files: int = 8,
                       buckets: Iterable[int] | None = None,
                       properties: dict[str, Any] | None = None) -> int | None:
        """Fold delta files into base files for buckets whose delta count
        reached ``max_delta_files`` (or an explicit bucket list). Content
        preserving: resolved LWW state is rewritten as base. Winning DELETE
        rows stay in it as tombstones (``read(with_bucket=True)`` shows them)
        so they keep blocking the resurrection of a key by an older
        redelivered event; :meth:`expire_tombstones` removes them. The MOR
        analogue of Iceberg rewrite_data_files / Hudi compaction.

        Raw-append (mixed-bucket) delta files span buckets, so removing one
        requires compacting every bucket it covers — the target set expands
        to the CLOSURE of the victims' footer bucket ranges
        (:meth:`expand_bucket_closure`): grouped L0 folds per group, and only
        ungrouped raw L0 (full-span files) degrades to the full fold.

        The fold is a :meth:`_rewrite_buckets`, which makes it safe to run
        on the background maintenance thread concurrent with delta appends:
        its read is pinned to the entry snapshot, later deltas are neither
        folded nor removed (LWW keeps them winning over the folded base),
        and a lost commit race retries at the new head, with the head's
        schema, while its victims are still live. A rewrite that
        removed a victim first makes the fold raise. So this method never
        joins background maintenance itself: it is what runs there."""
        self.join_pending_commit()
        snap = self.snapshot()
        if buckets is None:
            counts = self.bucket_read_amplification()
            targets = [b for b, c in counts.items() if c >= max_delta_files]
        else:
            targets = list(buckets)
        if not targets:
            return None
        return self._rewrite_buckets(
            snap, targets, lambda rows: rows, "compact_deltas",
            lambda b, _: dict(properties or {}, compacted_delta_buckets=b))

    def evolve_schema(self, new_schema: T.StructType,
                      properties: dict[str, Any] | None = None) -> int:
        """Metadata-only schema change (additive columns / widening). Existing
        files stay as-is; reads conform them (NULL backfill / upcast).
        Reference analogue: ALTER TABLE ... ADD COLUMN IF NOT EXISTS + MERGE
        backfill (backfill_products_partition.py:59-96)."""
        self.join_pending_commit()
        snap = self.snapshot()
        version = snap.version + 1
        return self._write_commit(version, "evolve_schema", new_schema,
                                  snap.schema_id + 1, [], [], properties or {})

    def compact(self, min_files_per_bucket: int = 2,
                properties: dict[str, Any] | None = None) -> int | None:
        """Rewrite buckets fragmented across many files into one file each
        (reference analogue: single-file-per-partition compaction,
        gcs/loader.py:173-224; Iceberg rewrite_data_files): the
        :meth:`compact_deltas` of buckets whose read opens at least
        ``min_files_per_bucket`` files, mixed files counting per bucket."""
        self.join_pending_commit()
        counts: dict[int, int] = {}
        for e in self.snapshot().files.values():
            for b in self.buckets_of_entries([e]):
                counts[b] = counts.get(b, 0) + 1
        return self.compact_deltas(
            buckets=[b for b, c in counts.items() if c >= min_files_per_bucket],
            properties=properties)

    def vacuum(self, keep_versions: int = 2) -> int:
        """Physically delete data files not referenced by the newest
        ``keep_versions`` snapshots, each with its ``.<name>.crc`` checksum
        sidecar, and the data directories this leaves empty. Returns #files
        removed.

        Background maintenance is joined first: an in-flight
        :meth:`compact_deltas_async` fold has written files its commit has
        not referenced yet, and deleting them would leave that commit
        pointing at missing files."""
        self.join_pending_commit()
        self.join_maintenance()
        head = self.current_version()
        keep = set()
        for v in range(max(0, head - keep_versions + 1), head + 1):
            keep.update(self.snapshot(v).files.keys())
        data_root = os.path.join(self.location, _DATA_DIR)
        removed = 0
        emptied = set()
        for fp in glob.glob(os.path.join(data_root, "**", "*.parquet"),
                            recursive=True):
            rel = os.path.relpath(fp, self.location)
            if rel not in keep:
                os.remove(fp)
                d, name = os.path.split(fp)
                with contextlib.suppress(FileNotFoundError):
                    os.remove(os.path.join(d, f".{name}.crc"))
                emptied.add(d)
                removed += 1
        for d in emptied:                   # and each parent it empties
            while d != data_root and os.path.isdir(d) and not os.listdir(d):
                os.rmdir(d)
                d = os.path.dirname(d)
        return removed


# ------------------------------------------------------------------ helpers

def _harvest_footer(fp: str, abs_dir: str, rel_dir: str, schema_id: int,
                    kind: str) -> FileEntry:
    """Read one parquet footer into a FileEntry."""
    import pyarrow.parquet as pq

    parent = os.path.basename(os.path.dirname(fp))
    bucket = (int(parent.split("=", 1)[1]) if parent.startswith("_bkt=")
              else MIXED_BUCKET)
    md = pq.read_metadata(fp)
    stats: dict[str, list[Any]] = {}
    sch = md.schema
    for ci in range(md.num_columns):
        name = sch.column(ci).name
        mn = mx = None
        nulls = 0
        ok = True
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(ci).statistics
            if st is None or not st.has_min_max:
                ok = False
                break
            nulls += st.null_count or 0
            mn = st.min if mn is None or st.min < mn else mn
            mx = st.max if mx is None or st.max > mx else mx
        if ok and mn is not None and _json_safe(mn) and _json_safe(mx):
            stats[name] = [mn, mx, nulls]
    if bucket == MIXED_BUCKET:
        # a no-shuffle group write ("_bgrp=" dirs) can still be bucket-PURE
        # (group size 1, or a task that only saw one bucket): label such
        # files with their real bucket id from the footer stats so they are
        # first-class citizens of manifest pruning / per-bucket compaction
        bst = stats.get(BUCKET_COL)
        if bst is not None and bst[0] == bst[1]:
            bucket = int(bst[0])
    rel = os.path.join(rel_dir, os.path.relpath(fp, abs_dir))
    return FileEntry(rel, bucket, md.num_rows, os.path.getsize(fp),
                     schema_id, stats, kind)


def _json_safe(v: Any) -> bool:
    try:
        json.dumps(v)
        return True
    except TypeError:
        return False


def widen_type(a: T.DataType, b: T.DataType) -> T.DataType | None:
    """Least common widened numeric type, or None if incompatible.
    Implements the reference's INT64->FLOAT64 widening rule
    (src/shared/parquet/schemas.py:30-34) generalized to the
    byte<short<int<long<float<double lattice."""
    if a == b:
        return a
    ra, rb = _WIDEN_RANK.get(a.typeName()), _WIDEN_RANK.get(b.typeName())
    if ra is None or rb is None:
        return None
    return a if ra >= rb else b


def session_expr_cache(spark: SparkSession) -> dict:
    """Per-session cache of reusable Column expression templates.

    Column objects are unresolved expression trees bound only to the JVM
    gateway, not to any DataFrame — rebuilding the same projection lists on
    every micro-batch costs hundreds of py4j round trips of driver-serial
    time per trigger. Stored ON the session object so templates die with the
    session (a Column from a stopped SparkContext must never be reused)."""
    c = getattr(spark, "_graft_expr_cache", None)
    if c is None:
        c = {}
        try:
            spark._graft_expr_cache = c
        except Exception:  # unattachable session proxy: degrade to no cache
            pass
    return c


def _fit(have: dict[str, T.DataType], f: T.StructField, default) -> Any:
    """Column ``f`` of a frame with column types ``have``: taken as is, cast
    to f's type, or, where the frame lacks it, ``default`` cast to it."""
    if f.name not in have:
        return default.cast(f.dataType).alias(f.name)
    if have[f.name] == f.dataType:
        return F.col(f.name)
    return F.col(f.name).cast(f.dataType).alias(f.name)


def _conform(df: DataFrame, target: T.StructType) -> DataFrame:
    """Project a read onto target schema: missing columns -> NULL (reference
    NULL-padding, gcs/loader.py:307-324), present columns cast to target type
    (widening), extras dropped (gcs/loader.py:329-345). Writes use
    :meth:`LakeTable._layout`, which also fills the engine columns."""
    have = {f.name: f.dataType for f in df.schema.fields}
    if list(have.items()) == [(f.name, f.dataType) for f in target.fields]:
        return df  # already conformant: skip the no-op projection
    cache = session_expr_cache(df.sparkSession)
    key = ("conform", tuple(have.items()),
           tuple((f.name, f.dataType) for f in target.fields))
    cols = cache.get(key)
    if cols is None:
        cols = cache[key] = [_fit(have, f, F.lit(None)) for f in target.fields]
    return df.select(*cols)
