"""LakeTable's one commit rule under races. A bucket rewrite whose files
another rewrite replaced first raises; a fold retried past a concurrent
schema evolution keeps the new column; two racing appends both land; and the
foreground rewrites wait for an in-flight background fold."""

import os
import threading

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from etl_api_bigquery_spark.cdc import change_feed, expected_final_state
from etl_api_bigquery_spark.cdc.oracle import assert_replay_match
from etl_api_bigquery_spark.lake import CommitConflictError, LakeTable
from etl_api_bigquery_spark.lake.merge import merge_backfill, merge_cdc_batch

SILVER = T.StructType([T.StructField(c, T.StringType())
                       for c in ("repo", "path", "commit", "lang", "content")])
KEYS = ["repo", "path"]


def raw_table(spark, d):
    """4 buckets, three unfolded raw batches of bucket-pure L0."""
    t = LakeTable.create(spark, os.path.join(d, "t"), SILVER, key_cols=KEYS,
                         num_buckets=4)
    feed = change_feed(spark, n_events=4000, n_keys=200, n_epochs=3).cache()
    for e in range(3):
        merge_cdc_batch(t, feed.filter(F.col("epoch") == e), e, "race",
                        auto_compact_deltas=10**6, l0_groups=4)
    return t, feed, expected_final_state(feed)


def rewrite_ops(spark, expected):
    """The foreground bucket rewrites, each on one live key ``k``."""
    k = expected.orderBy(*KEYS).first()
    where = f"repo = '{k.repo}' AND path = '{k.path}'"
    patched = spark.createDataFrame(
        [(k.repo, k.path, k.commit, k.lang, "patched")], SILVER)
    fill = spark.createDataFrame([(k.repo, k.path, "py", 1)],
                                 "repo string, path string, lang string, "
                                 "lsn long")
    return where, {
        "delete_where": lambda t: t.delete_where(where),
        "expire_tombstones": lambda t: t.expire_tombstones(below_lsn=10**12),
        "overwrite_buckets": lambda t: t.overwrite_buckets(patched),
        "merge_backfill": lambda t: merge_backfill(t, fill, ["lang"], "lsn"),
    }


def one_row_per_key(df):
    return df.groupBy(*KEYS).count().filter("count > 1").isEmpty()


@pytest.mark.parametrize("op", ["delete_where", "expire_tombstones",
                                "overwrite_buckets", "merge_backfill"])
def test_rewrite_raises_when_a_fold_replaced_its_files(spark, tmp_table_dir,
                                                       op):
    """A full fold commits between the op's snapshot and its commit (the
    op's first read runs it). The op's victims are gone, so its commit must
    raise, and the table keeps the fold's state: one row per key, equal to
    the oracle."""
    t, feed, expected = raw_table(spark, tmp_table_dir)
    _, ops = rewrite_ops(spark, expected)
    read = t.read

    def fold_then_read(*a, **kw):
        t.read = read
        t.compact_deltas(buckets=range(4))
        return read(*a, **kw)

    t.read = fold_then_read
    with pytest.raises(CommitConflictError):
        ops[op](t)
    assert t.history()[-1]["action"] == "compact_deltas"
    assert one_row_per_key(t.read())
    assert_replay_match(t.read(), expected)
    feed.unpersist()


@pytest.mark.parametrize("op", ["delete_where", "expire_tombstones",
                                "overwrite_buckets", "merge_backfill"])
def test_rewrite_waits_for_background_fold(spark, tmp_table_dir, op):
    """A background fold is held just before its commit and the op is
    started: the op waits for the fold, then rewrites on top of it, and
    neither raises."""
    t, feed, expected = raw_table(spark, tmp_table_dir)
    where, ops = rewrite_ops(spark, expected)
    written, release = threading.Event(), threading.Event()
    commit = t._write_commit

    def held_commit(*a, **kw):
        if threading.current_thread().name.startswith("lake-maint"):
            written.set()
            assert release.wait(120)
        return commit(*a, **kw)

    t._write_commit = held_commit
    fold = t.compact_deltas_async(buckets=range(4))
    assert written.wait(120)
    errors = []

    def run():
        try:
            ops[op](t)
        except Exception as e:       # noqa: BLE001 - reported below
            errors.append(e)

    worker = threading.Thread(target=run)
    worker.start()
    try:
        worker.join(2)
        assert worker.is_alive()          # the op waits for the fold
    finally:
        release.set()
        worker.join(120)
    assert not worker.is_alive()
    assert fold.result() is not None and errors == []
    actions = [h["action"] for h in t.history()]
    assert actions.index("compact_deltas") < len(actions) - 1
    got = t.read()
    assert one_row_per_key(got)
    if op == "delete_where":
        assert_replay_match(got, expected.filter(f"NOT ({where})"))
    elif op == "overwrite_buckets":
        assert got.filter(where).first().content == "patched"
    else:
        assert_replay_match(got, expected)
    feed.unpersist()


def test_fold_keeps_a_column_added_while_it_ran(spark, tmp_table_dir):
    """A batch that adds a column commits while a fold pinned before it
    writes its base files. The fold's retried commit must carry the new
    schema: the column and its 10 values survive."""
    t, feed, expected = raw_table(spark, tmp_table_dir)
    keys = expected.orderBy(*KEYS).limit(10).collect()
    batch = spark.createDataFrame(
        [(10**9 + i, 3, "U", r.repo, r.path, r.commit, r.lang, f"new{i}", i)
         for i, r in enumerate(keys)],
        "lsn long, epoch long, op string, repo string, path string, "
        "commit string, lang string, content string, stars long")
    write = t._write_data_files

    def write_after_batch(df, *a, kind="base", **kw):
        if kind == "base":
            t._write_data_files = write
            merge_cdc_batch(t, batch, 3, "race",
                            auto_compact_deltas=10**6, l0_groups=4)
        return write(df, *a, kind=kind, **kw)

    t._write_data_files = write_after_batch
    t.compact_deltas(buckets=range(4))
    assert t.history()[-1]["action"] == "compact_deltas"
    assert t.snapshot().schema_id == 1
    got = t.read()
    assert got.filter(F.col("stars").isNotNull()).count() == 10
    assert_replay_match(got, expected_final_state(
        feed.unionByName(batch, allowMissingColumns=True)))
    feed.unpersist()


def test_append_racing_an_append_lands_at_next_version(spark, tmp_table_dir):
    """Another append commits while this one writes its files: both land,
    this one at the next version."""
    t = LakeTable.create(spark, os.path.join(tmp_table_dir, "a"), SILVER,
                         key_cols=KEYS, num_buckets=4)
    rows = [("r", f"p{i}", "c", "py", "x") for i in range(30)]
    write = t._write_data_files

    def write_after_append(*a, **kw):
        t._write_data_files = write
        t.append(spark.createDataFrame(rows[:10], SILVER))
        return write(*a, **kw)

    t._write_data_files = write_after_append
    assert t.append(spark.createDataFrame(rows[10:], SILVER)) == 2
    assert [h["action"] for h in t.history()] == ["create", "append", "append"]
    assert sorted(r.path for r in t.read().collect()) == sorted(
        r[1] for r in rows)


def test_readers_never_load_a_partial_commit_doc(spark, tmp_table_dir,
                                                 monkeypatch):
    """A commit doc is published whole. A second LakeTable at the same
    location loops snapshot() and last_txn() while a writer thread commits
    (as the lake-commit finalizer does while the stream's thread reads):
    it never loads a created-but-unwritten doc, and it ends at the head."""
    # fsync does not shape the race (it follows the write); skipping it lets
    # the writer make thousands of commits in seconds
    monkeypatch.setattr(os, "fsync", lambda fd: None)
    t = LakeTable.create(spark, os.path.join(tmp_table_dir, "w"), SILVER,
                         key_cols=KEYS, num_buckets=4)
    snap0, n, done = t.snapshot(), 4000, threading.Event()

    def write():
        try:
            for v in range(1, n + 1):
                t._write_commit(v, "noop", snap0.schema, snap0.schema_id,
                                [], [], {"txn_app": "w", "txn_batch": v})
        finally:
            done.set()

    reader, errors = LakeTable.load(spark, t.location), []
    writer = threading.Thread(target=write)
    writer.start()
    while not done.is_set():
        try:
            reader.snapshot()
            reader.last_txn("w")
        except Exception as e:      # noqa: BLE001 — every failure counts
            errors.append(repr(e))
    writer.join(timeout=60)
    assert not writer.is_alive()
    assert errors == []
    assert reader.snapshot().version == n and reader.last_txn("w") == n
