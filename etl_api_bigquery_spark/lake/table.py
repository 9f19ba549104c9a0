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
  file in ``_log/`` created with O_EXCL (atomic on POSIX); readers replay the
  log to a consistent file set.
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
  :meth:`LakeTable.last_txn` lets an idempotent sink skip replayed batches
  (strengthens the reference watermark commit, src/loaders/watermark.py:141-185,
  to exactly-once).

Scale notes (designed for 1000-executor / 100 TB, tested on local[32]):
data files are written and read by distributed Spark jobs; outside them, a
commit touches only the commit log (KB-sized JSON) and the parquet footers
of its own new files, read in a thread pool.
"""

from __future__ import annotations

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
    properties: dict[str, Any]

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
        self._doc_cache: dict[int, dict[str, Any]] = {}  # commit log JSON docs
        # (out_bytes, n_files, G) of the last landed append_deltas write:
        # sizes the next bucket_groups="auto" write
        self._prev_l0_write: tuple[int, int, int] | None = None
        # incremental fence state (see last_txn)
        self._txn_best: dict[str, int] = {}
        self._txn_hwm: int = -1
        # reusable Column templates keyed by key_cols (see bucket_expr)
        self._bucket_expr_cache: dict[tuple[str, ...], Any] = {}
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
        return bool(self._commit_versions())

    # ------------------------------------------------------------ commit log

    def _log_path(self, version: int) -> str:
        return os.path.join(self.location, _LOG_DIR, f"{version:020d}.json")

    def _commit_versions(self) -> list[int]:
        pat = os.path.join(self.location, _LOG_DIR, "*.json")
        return sorted(int(os.path.basename(p)[:-5]) for p in glob.glob(pat))

    def current_version(self) -> int:
        vs = self._commit_versions()
        if not vs:
            raise FileNotFoundError(f"no LakeTable at {self.location}")
        return vs[-1]

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
        try:
            fd = os.open(path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        except FileExistsError as e:
            raise CommitConflictError(f"version {version} already committed") from e
        try:
            os.write(fd, payload)
            os.fsync(fd)
        finally:
            os.close(fd)
        self._snap_cache.pop(-1, None)
        self._maybe_write_checkpoint(version)
        return version

    def snapshot(self, version: int | None = None) -> Snapshot:
        vs = self._commit_versions()
        if not vs:
            raise FileNotFoundError(f"no LakeTable at {self.location}")
        v = vs[-1] if version is None else version
        if v not in vs:
            raise ValueError(f"version {v} not in log (have {vs[0]}..{vs[-1]})")
        if v in self._snap_cache:
            return self._snap_cache[v]
        # incremental build: extend the highest cached snapshot below v with
        # only the missing commit docs. The streaming merge path takes a new
        # snapshot every trigger, so the from-scratch replay would be
        # O(commits x files) per batch — quadratic over a long-running
        # ingest — while this is O(new commits + live files) driver time.
        base = max((bv for bv in self._snap_cache if bv < v), default=None)
        if base is not None:
            prev = self._snap_cache[base]
            files: dict[str, FileEntry] = dict(prev.files)
            schemas: dict[int, T.StructType] = dict(prev.schemas)
            schema_id = prev.schema_id
            schema: T.StructType | None = prev.schema
            table_meta: dict[str, Any] = prev.table_meta
            props: dict[str, Any] = prev.properties
            todo = [cv for cv in vs if base < cv <= v]
        else:
            # COLD path (fresh driver): seed from the newest manifest
            # checkpoint at or below v, then replay only the tail — without
            # this a restart after 10^5 ingest commits re-reads every commit
            # doc (the Delta/Iceberg checkpoint mechanism, from scratch)
            files = {}
            schemas = {}
            schema_id = 0
            schema = None
            table_meta = {}
            props = {}
            cp_from = -1
            cp = self._load_checkpoint(v)
            if cp is not None:
                files = {p: FileEntry.from_json(d)
                         for p, d in cp["files"].items()}
                schemas = {int(sid): T.StructType.fromJson(sj)
                           for sid, sj in cp["schemas"].items()}
                schema_id = cp["schema_id"]
                schema = schemas[schema_id]
                table_meta = cp["table"]
                props = cp.get("properties", {})
                cp_from = cp["version"]
            todo = [cv for cv in vs if cp_from < cv <= v]
        for cv in todo:
            doc = self._read_doc(cv)
            schema = T.StructType.fromJson(doc["schema"])
            schema_id = doc["schema_id"]
            schemas[schema_id] = schema
            if "table" in doc:
                table_meta = doc["table"]
            props = doc.get("properties", {})
            for rm in doc["removes"]:
                files.pop(rm, None)
            for a in doc["adds"]:
                e = FileEntry.from_json(a)
                files[e.path] = e
        snap = Snapshot(v, schema_id, schema, schemas, files, table_meta, props)
        self._snap_cache[v] = snap
        # bound driver memory on long ingests: keep the newest snapshots only
        # (older versions rebuild from scratch on the rare time-travel read)
        while len(self._snap_cache) > self.SNAP_CACHE_MAX:
            del self._snap_cache[min(self._snap_cache)]
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

    def _load_checkpoint(self, max_version: int) -> dict[str, Any] | None:
        """Newest checkpoint doc at or below max_version, or None."""
        cands = [c for c in self._checkpoint_versions() if c <= max_version]
        if not cands:
            return None
        path = os.path.join(self._checkpoint_dir(), f"{cands[-1]:020d}.json")
        try:
            with open(path) as fh:
                return json.load(fh)
        except (OSError, json.JSONDecodeError):
            return None      # torn/corrupt checkpoint: fall back to full replay

    def _maybe_write_checkpoint(self, version: int) -> None:
        """Every CHECKPOINT_INTERVAL commits, persist the full snapshot state
        (live files, all schemas, table meta, fence high-waters) so a cold
        driver's first snapshot()/last_txn() is O(interval), not O(commits).
        Best-effort and crash-safe: written to a temp file then atomically
        renamed; a missing/torn checkpoint only costs a longer replay."""
        if version <= 0 or version % self.CHECKPOINT_INTERVAL != 0:
            return
        snap = self.snapshot(version)
        self.last_txn("")            # refresh the fence scan to `version`
        doc = {
            "version": version,
            "schema_id": snap.schema_id,
            "schemas": {str(sid): json.loads(s.json())
                        for sid, s in snap.schemas.items()},
            "files": {p: e.to_json() for p, e in snap.files.items()},
            "table": snap.table_meta,
            "properties": snap.properties,
            "txn_best": dict(self._txn_best),
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
        """Commit log docs are immutable once written — cache them so the
        per-batch fence check is O(new commits), not O(log size)."""
        if version not in self._doc_cache:
            with open(self._log_path(version)) as fh:
                self._doc_cache[version] = json.load(fh)
        return self._doc_cache[version]

    def history(self) -> list[dict[str, Any]]:
        self.join_pending_commit()
        out = []
        for cv in self._commit_versions():
            doc = self._read_doc(cv)
            out.append({k: doc[k] for k in
                        ("version", "action", "schema_id", "properties", "commit_ts_ms")})
        return out

    def last_txn(self, app_id: str) -> int | None:
        """Highest txn_batch committed for app_id — the exactly-once fence.

        Incremental: only commit docs newer than the last scan are read, so
        the per-trigger fence check is O(new commits) instead of O(log size)
        — the full-history rescan was a per-batch driver-serial cost that
        grew linearly with ingest age. Correct under concurrent writers
        because commit docs are immutable and versions are monotonic.
        A cold driver seeds the scan from the newest manifest checkpoint's
        fence high-waters instead of re-reading the whole log."""
        if self._txn_hwm < 0:
            cp = self._load_checkpoint(self.current_version())
            if cp is not None and "txn_best" in cp:
                self._txn_best = {k: int(b)
                                  for k, b in cp["txn_best"].items()}
                self._txn_hwm = int(cp["version"])
        for cv in self._commit_versions():
            if cv <= self._txn_hwm:
                continue
            p = self._read_doc(cv).get("properties", {})
            app = p.get("txn_app")
            if app is not None and p.get("txn_batch") is not None:
                b = int(p["txn_batch"])
                cur = self._txn_best.get(app)
                self._txn_best[app] = b if cur is None or b > cur else cur
            self._txn_hwm = cv
        best = self._txn_best.get(app_id)
        # an async commit finalizer in flight counts toward the fence (its
        # commit is ordered before any later batch's — see append_deltas)
        pend = self._pending_txn
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
        kc = tuple(key_cols or self.key_cols)
        expr = self._bucket_expr_cache.get(kc)
        if expr is None:
            # Column templates are unresolved expressions — safe to reuse
            # across micro-batches; rebuilding them is ~10 py4j round trips
            # of per-trigger driver-serial time
            cols = [F.coalesce(F.col(c).cast("string"), F.lit("\x00null"))
                    for c in kc]
            expr = F.pmod(F.xxhash64(*cols),
                          F.lit(self.num_buckets)).cast("int")
            self._bucket_expr_cache[kc] = expr
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
        skip_predicates: list[tuple[str, str, Any]] | None = None,
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
        if skip_predicates:
            # NOTE: stats skipping is only sound when no delta files overlap
            # the pruned set (a delta could revive/delete a key outside the
            # base file's range); enforced here.
            if any(e.kind == "delta" for e in entries):
                raise ValueError("skip_predicates requires compacted buckets "
                                 "(run compact_deltas first)")
            entries = self.prune_files(entries, skip_predicates)
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
        """Write df (must already carry BUCKET_COL) as parquet data files.

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
        the critical path (see ``append_deltas``)."""
        out = df
        if LSN_COL not in out.columns:
            out = out.withColumn(LSN_COL, F.lit(0).cast("long"))
        if OP_COL not in out.columns:
            out = out.withColumn(OP_COL, F.lit("U"))
        # conform column order/types to the table schema + engine cols
        out = _conform(out, _schema_with_engine_cols(schema))
        rel_dir = f"{_DATA_DIR}/c{version:010d}-{uuid.uuid4().hex[:8]}"
        abs_dir = os.path.join(self.location, rel_dir)
        part = None
        if kind == "base":
            out = out.repartition(self.num_buckets, F.col(BUCKET_COL))
            out = out.withColumn("_bkt", F.col(BUCKET_COL))
            part = "_bkt"
        elif bucket_groups and bucket_groups > 1:
            gsz = -(-self.num_buckets // int(bucket_groups))   # ceil
            out = out.withColumn(
                "_bgrp", (F.col(BUCKET_COL) / F.lit(gsz)).cast("int"))
            part = "_bgrp"
        # no _SUCCESS marker: the commit doc in _log/ is the table's success
        # marker and nothing reads data/**/_SUCCESS (one file op less a write)
        w = out.write.mode("overwrite").option(
            "mapreduce.fileoutputcommitter.marksuccessfuljobs", "false")
        (w.partitionBy(part) if part else w).parquet(abs_dir)
        return abs_dir, rel_dir

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

    def _with_bucket(self, df: DataFrame) -> DataFrame:
        if BUCKET_COL in df.columns:
            return df
        return df.withColumn(BUCKET_COL, self.bucket_expr())

    def append(self, df: DataFrame, properties: dict[str, Any] | None = None) -> int:
        """Blind append (the reference's empty-table fast path M3 — a pure
        insert with no match scan, loader.py:347-378)."""
        self.join_pending_commit()
        snap = self.snapshot()
        adds = self._write_data_files(self._with_bucket(df), snap.version + 1,
                                      snap.schema, snap.schema_id)
        return self._commit_files(snap, "append", adds, [], properties or {})

    def overwrite(self, df: DataFrame, properties: dict[str, Any] | None = None) -> int:
        """Full-table replace (snapshot-atomic truncate + insert)."""
        self.join_pending_commit()
        snap = self.snapshot()
        adds = self._write_data_files(self._with_bucket(df), snap.version + 1,
                                      snap.schema, snap.schema_id)
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
        dfb = self._with_bucket(df)
        touched = sorted(r[0] for r in
                         dfb.select(BUCKET_COL).distinct().collect())

        def swap(rows: DataFrame) -> DataFrame:
            others = rows.filter(~F.col(BUCKET_COL).isin(touched))
            return (dfb.unionByName(others, allowMissingColumns=True)
                    .fillna({LSN_COL: 0, OP_COL: "U"}))

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
        """Merge-on-read write path: append LWW-resolvable change files
        (rows carry BUCKET_COL, LSN_COL, OP_COL), written as scanned with no
        shuffle. O(batch) cost — no target read, no rewrite; reads resolve
        via :meth:`_resolve_lww` and :meth:`compact_deltas` folds deltas into
        base files.

        ``props_fn(adds) -> dict`` (optional) is called after the data files
        are written but before the commit doc: lineage derived from the write
        itself (Observation metrics, per-bucket file stats) lands in the SAME
        atomic commit with no extra Spark job.

        ``bucket_groups``: bucket-clustered L0 — see
        :meth:`_write_data_files`. ``"auto"`` picks the largest G in [1,
        num_buckets] whose files stay at or above ``L0_TARGET_FILE_BYTES``
        at the last landed append's bytes per write task (``out_bytes x
        G_prev / n_files``); num_buckets before the first append. The
        commit records G as ``l0_groups``. An append removes nothing, so under
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
            prev = self._prev_l0_write
            if prev is not None:
                out_bytes, n_files, g_prev = prev
                g = int(out_bytes * g_prev / n_files // L0_TARGET_FILE_BYTES)
                bucket_groups = max(1, min(nb, g))
            props0["l0_groups"] = bucket_groups
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
            if entries:
                self._prev_l0_write = (phases["out_bytes"], len(entries),
                                       bucket_groups or 1)
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
        ``keep_versions`` snapshots. Returns #files removed.

        Background maintenance is joined first: an in-flight
        :meth:`compact_deltas_async` fold has written files its commit has
        not referenced yet, and deleting them would leave that commit
        pointing at missing files."""
        self.join_pending_commit()
        self.join_maintenance()
        vs = self._commit_versions()
        keep = set()
        for v in vs[-keep_versions:]:
            keep.update(self.snapshot(v).files.keys())
        removed = 0
        for fp in glob.glob(os.path.join(self.location, _DATA_DIR, "**", "*.parquet"),
                            recursive=True):
            rel = os.path.relpath(fp, self.location)
            if rel not in keep:
                os.remove(fp)
                removed += 1
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


def _conform(df: DataFrame, target: T.StructType) -> DataFrame:
    """Project df onto target schema: missing columns -> NULL (reference
    NULL-padding, gcs/loader.py:307-324), present columns cast to target type
    (widening), extras dropped (gcs/loader.py:329-345)."""
    have = {f.name: f for f in df.schema.fields}
    if all(f.name in have and have[f.name].dataType == f.dataType
           for f in target.fields) and len(have) == len(target.fields) \
            and [f.name for f in df.schema.fields] == [f.name for f in target.fields]:
        return df  # already conformant: skip the no-op projection
    cache = session_expr_cache(df.sparkSession)
    key = ("conform",
           tuple((f.name, f.dataType) for f in df.schema.fields),
           tuple((f.name, f.dataType) for f in target.fields))
    cols = cache.get(key)
    if cols is None:
        cols = []
        for f in target.fields:
            if f.name in have:
                src = have[f.name]
                if src.dataType == f.dataType:
                    cols.append(F.col(f.name))
                else:
                    cols.append(F.col(f.name).cast(f.dataType).alias(f.name))
            else:
                cols.append(F.lit(None).cast(f.dataType).alias(f.name))
        cache[key] = cols
    return df.select(*cols)
