"""LakeTable format tests: atomic commits, snapshot isolation, bucket pruning,
time travel, compaction, vacuum, schema conform on read."""

import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from etl_api_bigquery_spark.lake import CommitConflictError, LakeTable

SCHEMA = T.StructType([
    T.StructField("repo", T.StringType()),
    T.StructField("path", T.StringType()),
    T.StructField("content", T.StringType()),
])


def make_table(spark, d, buckets=4):
    return LakeTable.create(spark, os.path.join(d, "t"), SCHEMA,
                            key_cols=["repo", "path"], num_buckets=buckets)


def rows_df(spark, n, tag="a"):
    return spark.range(n).select(
        F.concat(F.lit("r"), (F.col("id") % 5).cast("string")).alias("repo"),
        F.concat(F.lit("p"), F.col("id").cast("string")).alias("path"),
        F.concat(F.lit(tag), F.col("id").cast("string")).alias("content"),
    )


def test_create_and_append(spark, tmp_table_dir):
    t = make_table(spark, tmp_table_dir)
    assert t.is_empty()
    t.append(rows_df(spark, 100))
    assert t.read().count() == 100
    assert t.snapshot().num_rows == 100  # manifest row counts match data
    # bucket-pure files
    for e in t.snapshot().files.values():
        assert e.stats["_bucket"][0] == e.stats["_bucket"][1] == e.bucket


def test_commit_conflict(spark, tmp_table_dir):
    t = make_table(spark, tmp_table_dir)
    t.append(rows_df(spark, 10))
    with pytest.raises(CommitConflictError):
        t._write_commit(1, "append", SCHEMA, 0, [], [], {})


def test_overwrite_and_time_travel(spark, tmp_table_dir):
    t = make_table(spark, tmp_table_dir)
    t.append(rows_df(spark, 50, "a"))
    t.overwrite(rows_df(spark, 20, "b"))
    assert t.read().count() == 20
    assert t.read(version=1).count() == 50  # time travel
    assert {r.content[:1] for r in t.read().collect()} == {"b"}


def test_overwrite_buckets(spark, tmp_table_dir):
    """Reference partition-overwrite semantics (gcs/loader.py:173-224):
    replace only the buckets the new data touches."""
    t = make_table(spark, tmp_table_dir, buckets=8)
    t.append(rows_df(spark, 100, "a"))
    patch = rows_df(spark, 10, "b")  # touches a subset of buckets
    t.overwrite_buckets(patch)
    df = t.read()
    # every key of patch now has "b" content
    got = {r.path: r.content for r in df.join(patch.select("repo", "path"),
                                              ["repo", "path"]).collect()}
    assert all(v.startswith("b") for v in got.values())
    # keys in untouched buckets survive
    assert df.count() >= 10


def test_bucket_pruned_read(spark, tmp_table_dir):
    t = make_table(spark, tmp_table_dir, buckets=8)
    t.append(rows_df(spark, 200))
    full = t.read(with_bucket=True)
    some_bucket = full.select("_bucket").first()[0]
    pruned = t.read(buckets=[some_bucket], with_bucket=True)
    assert pruned.count() == full.filter(F.col("_bucket") == some_bucket).count()
    # pruning happens at manifest level: fewer files involved
    assert len(t.snapshot().files_for_buckets([some_bucket])) < len(t.snapshot().files)


def test_delete_where(spark, tmp_table_dir):
    t = make_table(spark, tmp_table_dir)
    t.append(rows_df(spark, 100))
    t.delete_where("repo = 'r0'")
    df = t.read()
    assert df.filter("repo = 'r0'").count() == 0
    assert df.count() == 80


def test_compact_and_vacuum(spark, tmp_table_dir):
    t = make_table(spark, tmp_table_dir, buckets=2)
    for i in range(3):
        t.append(rows_df(spark, 20, f"x{i}"))
    n_before = len(t.snapshot().files)
    assert t.compact() is not None
    n_after = len(t.snapshot().files)
    assert n_after < n_before
    assert t.read().count() == 60
    removed = t.vacuum(keep_versions=1)
    assert removed > 0
    assert t.read().count() == 60  # current snapshot untouched


def test_plain_writes_land_engine_defaults(spark, tmp_table_dir):
    """append() and overwrite_buckets() of a frame with no engine columns
    land _lsn = 0, _op = 'U' and the bucket_expr bucket on every row."""
    t = make_table(spark, tmp_table_dir, buckets=8)
    t.append(rows_df(spark, 40, "a"))
    t.overwrite_buckets(rows_df(spark, 6, "b"))
    got = t.read(with_bucket=True).select(
        "content", "_bucket", "_lsn", "_op",
        (F.col("_bucket") == t.bucket_expr()).alias("same")).collect()
    assert all(r._lsn == 0 and r._op == "U" and r.same for r in got)
    new = {r._bucket for r in got if r.content.startswith("b")}
    assert sum(r.content.startswith("b") for r in got) == 6
    kept = [r for r in got if r.content.startswith("a")]
    assert kept and not any(r._bucket in new for r in kept)


def test_stats_file_skipping(spark, tmp_table_dir):
    """min/max footer stats prune files whose value range cannot match —
    effective for range-correlated columns (each commit's files carry a tight
    range), not for hash-scattered keys."""
    schema = T.StructType(list(SCHEMA.fields) + [T.StructField("seq", T.LongType())])
    t = LakeTable.create(spark, os.path.join(tmp_table_dir, "s"), schema,
                         key_cols=["repo", "path"], num_buckets=4)
    for gen in range(3):  # three commits with disjoint seq ranges
        t.append(rows_df(spark, 100, f"g{gen}")
                 .withColumn("seq", (F.monotonically_increasing_id() % 100
                                     + gen * 1000).cast("long")))
    snap = t.snapshot()
    all_entries = list(snap.files.values())
    pruned = t.prune_files(all_entries, [("seq", ">=", 1000), ("seq", "<", 1100)])
    assert 0 < len(pruned) < len(all_entries)
    got = t._read_entries(snap, pruned)
    assert got.filter("seq >= 1000 and seq < 1100").count() == 100


def test_schema_conform_on_read(spark, tmp_table_dir):
    """Old files read through an evolved schema: NULL backfill + widening."""
    t = make_table(spark, tmp_table_dir)
    t.append(rows_df(spark, 10))
    new_schema = T.StructType(list(SCHEMA.fields) + [
        T.StructField("stars", T.LongType())])
    t.evolve_schema(new_schema)
    df = t.read()
    assert "stars" in df.columns
    assert df.filter(F.col("stars").isNull()).count() == 10
    # append with the new schema; both generations unioned on read
    t.append(rows_df(spark, 5, "n").withColumn("stars", F.lit(3).cast("long")))
    assert t.read().filter("stars = 3").count() == 5
    assert t.read().count() == 15


def test_delete_where_bucket_pruned(spark, tmp_table_dir):
    """A stats-prunable delete rewrites ONLY the may-match buckets' files;
    every other file survives the commit byte-identically."""
    import pyspark.sql.functions as F
    import pyspark.sql.types as T
    from etl_api_bigquery_spark.lake import LakeTable
    schema = T.StructType([T.StructField("k", T.StringType()),
                           T.StructField("v", T.LongType())])
    t = LakeTable.create(spark, tmp_table_dir + "/dw", schema,
                         key_cols=["k"], num_buckets=8)
    df = spark.range(2000).select(F.col("id").cast("string").alias("k"),
                                  F.col("id").alias("v"))
    t.append(df)
    before = dict(t.snapshot().files)
    # v = 7 lives in exactly one bucket's file (v is unique per row)
    ver = t.delete_where("v = 7", prune_predicates=[("v", "=", 7)])
    doc = t._read_doc(ver)
    removed = set(doc["removes"])
    assert 0 < len(removed) < len(before)          # partial rewrite
    untouched = set(before) - removed
    after = t.snapshot()
    assert untouched <= set(after.files)           # untouched files survive
    assert doc["properties"]["delete_pruned_buckets"] != "all"
    assert t.read().filter("v = 7").count() == 0
    assert t.read().count() == 1999
    # unprunable predicate: no-op fast path when nothing can match
    v0 = after.version
    assert t.delete_where("v = -5", prune_predicates=[("v", "=", -5)]) == v0


def test_expire_tombstones_bucket_pruned(spark, tmp_table_dir):
    """Tombstone GC rewrites only buckets whose stats admit an expirable
    delete; tombstone-free buckets ride through untouched."""
    import pyspark.sql.functions as F
    import pyspark.sql.types as T
    from etl_api_bigquery_spark.lake import LakeTable
    from etl_api_bigquery_spark.lake.merge import merge_cdc_batch
    schema = T.StructType([T.StructField("k", T.StringType()),
                           T.StructField("v", T.StringType())])
    t = LakeTable.create(spark, tmp_table_dir + "/et", schema,
                         key_cols=["k"], num_buckets=8)
    ev = spark.createDataFrame(
        [(i, "I", f"k{i}", "x") for i in range(40)] +
        [(100, "D", "k0", None)],                       # one delete
        ["lsn", "op", "k", "v"])
    merge_cdc_batch(t, ev, 0, "x")
    before = set(t.snapshot().files)
    ver = t.expire_tombstones(below_lsn=1000)
    doc = t._read_doc(ver)
    assert doc["properties"]["expire_pruned_buckets"] != "all"
    assert 0 < len(doc["removes"]) < len(before)        # partial rewrite
    assert t.read().count() == 39                        # k0 stays deleted
    # no expirable tombstones left -> no-op fast path (no new commit)
    assert t.expire_tombstones(below_lsn=1000) == t.snapshot().version


def test_commit_log_checkpoint_bounds_cold_replay(spark, tmp_table_dir,
                                                  monkeypatch):
    """A manifest checkpoint every K commits bounds the COLD snapshot replay
    to checkpoint + <= K tail docs (the Delta/Iceberg checkpoint mechanism):
    at 10^5 ingest commits a restart must not re-read the whole log. The
    fences come from the same replay: the checkpoint's txn high-waters plus
    the tail docs, with no scan of their own."""
    monkeypatch.setattr(LakeTable, "CHECKPOINT_INTERVAL", 10)
    t = make_table(spark, tmp_table_dir)
    t.append(rows_df(spark, 50))                         # v1: real data
    snap1 = t.snapshot()
    for i in range(2, 36):                               # v2..v35: cheap
        t._write_commit(i, "noop", snap1.schema, snap1.schema_id, [], [],
                        {"txn_app": "ck", "txn_batch": i})
    assert t._checkpoint_versions() == [10, 20, 30]

    cold = LakeTable.load(spark, t.location)
    reads = []
    orig = LakeTable._read_doc
    monkeypatch.setattr(LakeTable, "_read_doc",
                        lambda self, v: (reads.append(v), orig(self, v))[1])
    snap = cold.snapshot()
    assert snap.version == 35
    assert snap.files == snap1.files                     # state from checkpoint
    assert reads and min(reads) == 31 and len(reads) == 5   # tail only
    assert cold.last_txn("ck") == 35                     # fence seeded + tail
    assert len(reads) == 5                               # by the same replay
    assert cold.read().count() == 50                     # data readable


def test_checkpointed_table_state_matches_after_merges(spark, tmp_table_dir,
                                                       monkeypatch):
    """Checkpoint-seeded snapshots are byte-equivalent to full-replay ones on
    a table mutated through the real merge path (deltas + compaction)."""
    from etl_api_bigquery_spark.cdc import change_feed, expected_final_state
    from etl_api_bigquery_spark.cdc.oracle import assert_replay_match
    from etl_api_bigquery_spark.lake.merge import merge_cdc_batch
    monkeypatch.setattr(LakeTable, "CHECKPOINT_INTERVAL", 2)
    t = LakeTable.create(spark, os.path.join(tmp_table_dir, "ckm"),
                         T.StructType([T.StructField(c, T.StringType())
                                       for c in ("repo", "path", "commit",
                                                 "lang", "content")]),
                         key_cols=["repo", "path"], num_buckets=4)
    feed = change_feed(spark, n_events=6000, n_keys=200, n_epochs=3).cache()
    for e in range(3):
        merge_cdc_batch(t, feed.filter(F.col("epoch") == e), e, "ckm",
                        auto_compact_deltas=2, l0_groups=4)
    assert t._checkpoint_versions()
    cold = LakeTable.load(spark, t.location)
    assert cold.snapshot().files == t.snapshot().files
    assert cold.last_txn("ckm") == 2
    assert_replay_match(cold.read(), expected_final_state(feed))
    feed.unpersist()


def _delta_df(spark, n, tag="a"):
    """Rows shaped like the merge path's delta input (engine cols present)."""
    from etl_api_bigquery_spark.lake.table import BUCKET_COL, LSN_COL, OP_COL
    return rows_df(spark, n, tag).select(
        "*",
        F.lit(0).cast("int").alias(BUCKET_COL),
        F.monotonically_increasing_id().alias(LSN_COL),
        F.lit("U").alias(OP_COL))


def test_async_finalize_read_your_writes(spark, tmp_table_dir):
    """append_deltas(async_finalize=True) returns -1 immediately; a read (or
    any other table op) joins the pending commit first, so the caller always
    observes its own write, and last_txn counts the pending fence."""
    t = make_table(spark, tmp_table_dir)
    v = t.append_deltas(_delta_df(spark, 30),
                        properties={"txn_app": "a1", "txn_batch": 7},
                        async_finalize=True)
    assert v == -1
    assert t.last_txn("a1") == 7           # pending commit counts
    assert t.read().count() == 30          # read joined the finalizer
    assert t.current_version() == 1
    # a second async append after the first settled
    t.append_deltas(_delta_df(spark, 10, "b"),
                    properties={"txn_app": "a1", "txn_batch": 8},
                    async_finalize=True)
    got = t.join_pending_commit()
    assert got == 2
    assert t.last_txn("a1") == 8


def test_async_finalize_failure_surfaces(spark, tmp_table_dir):
    """A failed background commit must re-raise at the next table op, never
    silently drop the batch."""
    t = make_table(spark, tmp_table_dir)

    def boom(adds):
        raise RuntimeError("lineage exploded")

    v = t.append_deltas(_delta_df(spark, 5), props_fn=boom,
                        async_finalize=True)
    assert v == -1
    with pytest.raises(RuntimeError, match="lineage exploded"):
        t.join_pending_commit()
    # the failure is consumed; the table is usable and the batch is absent
    assert t.read().count() == 0


def test_async_finalize_failure_unfences_batch(spark, tmp_table_dir):
    """A failed background commit must not leave its batch counted by the
    fence: last_txn falls back to the last batch that actually landed."""
    t = make_table(spark, tmp_table_dir)
    t.append_deltas(_delta_df(spark, 5),
                    properties={"txn_app": "a1", "txn_batch": 7},
                    async_finalize=True)
    t.join_pending_commit()

    def boom(adds):
        raise RuntimeError("lineage exploded")

    t.append_deltas(_delta_df(spark, 5, "b"),
                    properties={"txn_app": "a1", "txn_batch": 8},
                    props_fn=boom, async_finalize=True)
    with pytest.raises(RuntimeError, match="lineage exploded"):
        t.join_pending_commit()
    assert t.last_txn("a1") == 7


def test_join_pending_commit_keeps_newer_finalizer(spark, tmp_table_dir):
    """The maintenance thread joins finalizer N while the foreground submits
    N+1: the maintenance join must not clear N+1's future, so a later join
    still waits for N+1 and returns its version."""
    import threading

    t = make_table(spark, tmp_table_dir)
    t.append_deltas(_delta_df(spark, 5), async_finalize=True)
    inner, maint_waiting, release = (t._commit_future, threading.Event(),
                                     threading.Event())

    class HeldForMaint:
        """Finalizer N's future; the maintenance thread's join of it stays
        open until the foreground has submitted N+1."""

        def result(self):
            v = inner.result()
            if threading.current_thread().name.startswith("lake-maint"):
                maint_waiting.set()
                release.wait(30)
            return v

    t._commit_future = HeldForMaint()
    maint = threading.Thread(target=t.join_pending_commit,
                             name="lake-maint-join")
    maint.start()
    assert maint_waiting.wait(30)
    t.append_deltas(_delta_df(spark, 10, "b"),
                    async_finalize=True)     # joins N, submits N+1
    release.set()
    maint.join(30)
    assert not maint.is_alive()
    assert t.join_pending_commit() == 2
    assert t.read().count() == 10


@pytest.mark.parametrize("surface", ["schedule", "join"])
def test_failed_background_fold_raises_once(spark, tmp_table_dir, surface):
    """A background fold that failed is raised by the next
    compact_deltas_async or join_maintenance, exactly once: the join after
    that is clean, and a destructive op is not blocked by the stale error."""
    from concurrent.futures import wait

    t = make_table(spark, tmp_table_dir)
    t.append_deltas(_delta_df(spark, 20))
    fold = t.compact_deltas

    def fail_once(**kw):
        t.compact_deltas = fold
        raise RuntimeError("fold failed")

    t.compact_deltas = fail_once
    wait([t.compact_deltas_async([0])])
    with pytest.raises(RuntimeError, match="fold failed"):
        if surface == "schedule":
            t.compact_deltas_async([0])
        else:
            t.join_maintenance()
    t.join_maintenance()
    assert t.compact_deltas_async([0]) is not None
    t.join_maintenance()
    assert t.history()[-1]["action"] == "compact_deltas"
    t.delete_where("path = 'p0'")
    assert t.read().count() == 19


def test_async_finalize_folds_after_the_append_commit(spark, tmp_table_dir):
    """async_finalize with the default fold rule: the finalizer commits the
    append, then folds the touched buckets inline. m.version is the append's
    commit and target_rows_read the rows of the files the fold removed."""
    from etl_api_bigquery_spark.lake.merge import merge_cdc_batch
    t = make_table(spark, tmp_table_dir)
    ev = rows_df(spark, 40).select(F.lit(1).cast("long").alias("lsn"),
                                   F.lit("U").alias("op"), "*")
    m = merge_cdc_batch(t, ev, 0, "af", async_finalize=True)
    t.join_pending_commit()
    assert [h["action"] for h in t.history()[1:]] == ["merge_mor",
                                                       "compact_deltas"]
    assert m.version == 1 and t.last_txn("af") == 0
    assert m.target_rows_read == 40
    assert {e.kind for e in t.snapshot().files.values()} == {"base"}
    assert t.read().count() == 40
