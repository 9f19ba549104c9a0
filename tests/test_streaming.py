"""Structured Streaming e2e: checkpointed micro-batch apply, crash mid-stream,
restart resumes from checkpoint, fence drops the replayed batch, final state
matches the batch oracle (SURVEY.md §7.3 minimum slice)."""

import os

import pytest
from pyspark.sql import types as T

from etl_api_bigquery_spark.cdc import change_feed, expected_final_state
from etl_api_bigquery_spark.cdc.generator import write_feed_as_epoch_files
from etl_api_bigquery_spark.cdc.oracle import assert_replay_match
from etl_api_bigquery_spark.lake import LakeTable
from etl_api_bigquery_spark.streaming import CdcStreamRunner

SILVER = T.StructType([
    T.StructField("repo", T.StringType()),
    T.StructField("path", T.StringType()),
    T.StructField("commit", T.StringType()),
    T.StructField("lang", T.StringType()),
    T.StructField("content", T.StringType()),
])


@pytest.fixture()
def staged(spark, tmp_table_dir):
    feed = change_feed(spark, n_events=12000, n_keys=500, n_epochs=6).cache()
    feed_dir = os.path.join(tmp_table_dir, "feed")
    write_feed_as_epoch_files(feed, feed_dir)
    table = LakeTable.create(spark, os.path.join(tmp_table_dir, "silver"),
                             SILVER, key_cols=["repo", "path"], num_buckets=8)
    yield feed, feed_dir, table, os.path.join(tmp_table_dir, "ckpt")
    feed.unpersist()


def test_stream_drain_matches_oracle(spark, staged):
    feed, feed_dir, table, ckpt = staged
    r = CdcStreamRunner(spark, table, feed_dir, ckpt, txn_app="s1")
    metrics = r.run_available_now()
    assert len([m for m in metrics if not m.skipped_fence]) == 6
    assert_replay_match(table.read(), expected_final_state(feed))


def test_crash_restart_exactly_once(spark, staged):
    feed, feed_dir, table, ckpt = staged
    # crash after 3 applied batches
    r1 = CdcStreamRunner(spark, table, feed_dir, ckpt, txn_app="s2",
                         fail_after_batches=3)
    with pytest.raises(Exception):
        r1.run_available_now()
    applied = [m for m in r1.metrics if not m.skipped_fence]
    assert len(applied) == 3

    # restart from the same checkpoint: source replays the failed batch;
    # already-committed batches (if any replay) are dropped by the fence.
    r2 = CdcStreamRunner(spark, table, feed_dir, ckpt, txn_app="s2")
    r2.run_available_now()
    assert_replay_match(table.read(), expected_final_state(feed))
    # no batch was applied twice
    versions = [m.version for m in r1.metrics + r2.metrics if not m.skipped_fence]
    assert len(versions) == len(set(versions))


def test_failed_drain_leaves_no_background_work(spark, staged):
    """A stream failure raises from awaitTermination itself; the runner still
    joins the table's commit finalizer and background fold before raising,
    so none is left running against the table."""
    feed, feed_dir, table, ckpt = staged
    r = CdcStreamRunner(spark, table, feed_dir, ckpt, txn_app="fj1",
                        auto_compact_deltas=1, fail_after_batches=2)
    with pytest.raises(Exception, match="injected failure"):
        r.run_available_now()
    assert table._commit_future is None
    assert table._maint_future is None


def test_drain_timeout_raises_and_next_run_resumes(spark, staged,
                                                   tmp_table_dir):
    """A drain cut off by ``timeout_sec`` raises TimeoutError instead of
    returning with part of the backlog applied; the next run resumes from
    the checkpoint and converges to the oracle."""
    feed, _, table, ckpt = staged
    feed_dir = os.path.join(tmp_table_dir, "feed24")
    write_feed_as_epoch_files(feed, feed_dir, files_per_epoch=4)
    r = CdcStreamRunner(spark, table, feed_dir, ckpt, txn_app="to1")
    with pytest.raises(TimeoutError):
        r.run_available_now(timeout_sec=1)
    assert len(r.metrics) < 24
    CdcStreamRunner(spark, table, feed_dir, ckpt,
                    txn_app="to1").run_available_now()
    assert_replay_match(table.read(), expected_final_state(feed))


def test_transform_hook_flattens_before_merge(spark, staged, tmp_table_dir):
    """M8 bulk flatten-MERGE: the runner's ``transform`` flattens each
    envelope into one silver row per half of its content, keyed
    (repo, path, part); the drained table matches the oracle run over the
    flattened feed."""
    from pyspark.sql import functions as F

    feed, feed_dir, _, ckpt = staged

    def flatten(df):
        halves = F.array(F.substring("content", 1, 32),
                         F.expr("substring(content, 33)"))
        return df.select(*[c for c in df.columns if c != "content"],
                         F.posexplode(halves).alias("part", "content"))

    keys = ("repo", "path", "part")
    schema = T.StructType(SILVER.fields[:2]
                          + [T.StructField("part", T.IntegerType())]
                          + SILVER.fields[2:])
    table = LakeTable.create(spark, os.path.join(tmp_table_dir, "flat"),
                             schema, key_cols=list(keys), num_buckets=8)
    r = CdcStreamRunner(spark, table, feed_dir, ckpt, txn_app="m8",
                        transform=flatten)
    r.run_available_now()
    assert table.read().columns == schema.fieldNames()
    assert_replay_match(table.read(),
                        expected_final_state(flatten(feed), key_cols=keys),
                        key_cols=keys)


def test_restart_after_commit_before_checkpoint(spark, staged):
    """The nasty window: data committed, then crash before the source offset
    is checkpointed -> the batch is replayed with the same batch_id and the
    fence must drop it (SURVEY.md §7.5 item 3)."""
    feed, feed_dir, table, ckpt = staged
    r1 = CdcStreamRunner(spark, table, feed_dir, ckpt, txn_app="s3")
    r1.run_available_now()
    final_version = table.current_version()
    # simulate the replay: re-apply the last batch_id manually
    from etl_api_bigquery_spark.lake.merge import merge_cdc_batch
    last_epoch = feed.filter("epoch = 5")
    m = merge_cdc_batch(table, last_epoch, batch_id=5, txn_app="s3")
    assert m.skipped_fence
    assert table.current_version() == final_version
    assert_replay_match(table.read(), expected_final_state(feed))


def test_stateful_staleness_filter_preserves_state(spark, staged):
    """With the applyInPandasWithState pre-filter enabled, redundant/stale
    events are dropped before the sink yet the final state still matches the
    batch oracle exactly — and a restart resumes both the source offsets and
    the per-key state store."""
    feed, feed_dir, table, ckpt = staged
    r = CdcStreamRunner(spark, table, feed_dir, ckpt, txn_app="sf1",
                        mode="raw", stateful_staleness_filter=True)
    r.run_available_now()
    assert_replay_match(table.read(), expected_final_state(feed))
    # second drain on the same checkpoint: nothing new, state intact
    r2 = CdcStreamRunner(spark, table, feed_dir, ckpt, txn_app="sf1",
                         mode="raw", stateful_staleness_filter=True)
    m2 = r2.run_available_now()
    assert all(m.skipped_fence or m.keys == 0 for m in m2)
    assert_replay_match(table.read(), expected_final_state(feed))


def test_rate_governor_holds_target(spark, staged):
    """S3 completion: the events/sec governor holds sustained ingest at or
    below target. Target is set well below the unthrottled rate so pacing
    (not merge cost) dominates; the measured rate must be within -10%/+5%
    of target (the bucket only ever ADDS sleep, so overshoot means broken
    accounting and a large undershoot means over-sleeping)."""
    import time
    feed, feed_dir, table, ckpt = staged
    # the applied-event count after LWW dedup is ~3000 (500 keys x 6
    # epochs); the unthrottled drain takes ~14s of merge cost, so a 120 ev/s
    # target forces ~25s total — pacing dominates, robust to host noise
    target = 120.0
    r = CdcStreamRunner(spark, table, feed_dir, ckpt, txn_app="rate1",
                        target_events_per_sec=target)
    t0 = time.monotonic()
    metrics = r.run_available_now()
    wall = time.monotonic() - t0
    applied = [m for m in metrics if not m.skipped_fence]
    events = sum(m.upserts + m.deletes for m in applied)
    rate = events / wall
    assert events > 0
    assert rate <= target * 1.05, f"governor overshot: {rate:.0f} ev/s"
    assert rate >= target * 0.5, f"governor over-slept: {rate:.0f} ev/s"
    assert_replay_match(table.read(), expected_final_state(feed))


def test_async_commit_stream_matches_oracle(spark, staged):
    """async_commit pipelines each batch's footer-harvest + commit fsync with
    the next trigger; the drain must still be exactly-once and byte-identical
    to the batch oracle, with every metric settled by drain end."""
    feed, feed_dir, table, ckpt = staged
    r = CdcStreamRunner(spark, table, feed_dir, ckpt, txn_app="ac1",
                        mode="raw", async_commit=True)
    metrics = r.run_available_now()
    applied = [m for m in metrics if not m.skipped_fence]
    assert len(applied) == 6
    # run_available_now joins the pending commit: versions/lineage settled
    assert all(m.version > 0 for m in applied)
    assert all(m.extra.get("async_commit") for m in applied)
    assert len({m.version for m in applied}) == 6
    assert all("phases" in m.extra for m in applied)
    assert_replay_match(table.read(), expected_final_state(feed))
    # second drain on the same checkpoint: fence drops everything
    r2 = CdcStreamRunner(spark, table, feed_dir, ckpt, txn_app="ac1",
                         mode="raw", async_commit=True)
    m2 = r2.run_available_now()
    assert all(m.skipped_fence or m.keys == 0 for m in m2)


def test_repair_fence_gap_recovers_lost_async_commit(spark, staged,
                                                     preset_mode):
    """The async-commit crash window: checkpoint committed batch N but the
    table commit never fsynced. Simulate by deleting the table's last commit
    log entry after a clean drain, then restart with SYNC commits under
    either preset: the restart still repairs from the checkpoint's
    file-source log, and the final state matches the oracle."""
    feed, feed_dir, table, ckpt = staged
    r = CdcStreamRunner(spark, table, feed_dir, ckpt, txn_app="gap1",
                        mode="raw", async_commit=True)
    r.run_available_now()
    lost = table.current_version()
    os.remove(table._log_path(lost))
    for cv in table._checkpoint_versions():
        if cv >= lost:
            os.remove(os.path.join(table._checkpoint_dir(),
                                   f"{cv:020d}.json"))
    # a fresh process would see fence < checkpoint high-water
    fresh = LakeTable(spark, table.location)
    assert fresh.last_txn("gap1") == 4
    r2 = CdcStreamRunner(spark, fresh, feed_dir, ckpt, txn_app="gap1",
                         mode=preset_mode, async_commit=False)
    repaired = r2.run_available_now()
    assert [m.batch_id for m in repaired] == [5]
    assert not any(m.skipped_fence for m in repaired)
    assert_replay_match(fresh.read(), expected_final_state(feed))
    # and on a healthy table the repair is a no-op
    assert r2.repair_fence_gap() == []


@pytest.mark.parametrize("mode", ["mor", "rwa"])
def test_unknown_mode_rejected(spark, staged, mode):
    """Only the cow and raw presets exist: any other mode fails before the
    stream starts, leaving the table at version 0 and no checkpoint."""
    feed, feed_dir, table, ckpt = staged
    r = CdcStreamRunner(spark, table, feed_dir, ckpt, txn_app="um",
                        mode=mode)
    with pytest.raises(ValueError, match="unknown mode"):
        r.run_available_now()
    assert table.current_version() == 0 and table.last_txn("um") is None
    assert not os.path.exists(ckpt)


def test_cow_preset_folds_each_batch_touched_buckets(spark, staged):
    """The cow preset commits, per batch, one bucket-pure merge_mor (the
    fence and the lineage, ``m.version``) and then one compact_deltas of
    exactly that batch's touched buckets ("all" when it touched every one),
    whose removed rows are ``m.target_rows_read``; the drain matches the
    oracle."""
    from etl_api_bigquery_spark.lake.table import FileEntry

    feed, feed_dir, table, ckpt = staged
    r = CdcStreamRunner(spark, table, feed_dir, ckpt, txn_app="cow1",
                        mode="cow")
    applied = [m for m in r.run_available_now() if not m.skipped_fence]
    docs = [table._read_doc(v) for v in range(1, table.current_version() + 1)]
    assert [d["action"] for d in docs] == ["merge_mor", "compact_deltas"] * 6
    nb = table.num_buckets
    for m, app, fold in zip(applied, docs[::2], docs[1::2]):
        touched = sorted(table.buckets_of_entries(
            FileEntry.from_json(a) for a in app["adds"]))
        assert app["version"] == m.version
        assert app["properties"]["txn_batch"] == m.batch_id
        assert app["properties"]["l0_groups"] == nb
        assert fold["properties"]["compacted_delta_buckets"] == (
            "all" if len(touched) == nb else touched)
        prev = table.snapshot(fold["version"] - 1).files
        assert m.target_rows_read == sum(prev[p].rows
                                         for p in fold["removes"])
    assert_replay_match(table.read(), expected_final_state(feed))


def test_session_checkpoint_manager_default_and_override(spark):
    """get_spark writes streaming checkpoint logs through Spark's
    FileSystem-based manager; extra_conf still overrides it."""
    from etl_api_bigquery_spark.session import get_spark

    key = "spark.sql.streaming.checkpointFileManagerClass"
    pkg = "org.apache.spark.sql.execution.streaming.checkpointing."
    fs_mgr = pkg + "FileSystemBasedCheckpointFileManager"
    fc_mgr = pkg + "FileContextBasedCheckpointFileManager"
    assert spark.conf.get(key, None) == fs_mgr
    try:
        s = get_spark(app_name="tests", master="local[8]",
                      shuffle_partitions=8, extra_conf={key: fc_mgr})
        assert s.conf.get(key) == fc_mgr
    finally:
        spark.conf.set(key, fs_mgr)


def test_ingest_job_reports_live_rows(spark, tmp_path, monkeypatch, capsys,
                                      preset_mode):
    """``jobs/ingest.py`` run in-process on a small generated feed reports
    ``rows`` as the table's live rows, the oracle's key count — not the
    manifest row count, which counts every L0 event of a raw table and the
    tombstones of a folded one."""
    import json
    import pathlib
    import runpy
    import sys

    from etl_api_bigquery_spark import session

    job = pathlib.Path(__file__).resolve().parent.parent / "jobs" / "ingest.py"
    monkeypatch.setattr(session, "get_spark", lambda **kw: spark)
    monkeypatch.setattr(sys, "argv", [
        str(job), "--generate", "3000", "--num-buckets", "4",
        "--mode", preset_mode, "--feed-dir", str(tmp_path / "feed"),
        "--table-dir", str(tmp_path / "t"),
        "--checkpoint", str(tmp_path / "ckpt"), "--verify"])
    try:
        runpy.run_path(str(job), run_name="__main__")
    finally:
        spark.sparkContext.setLogLevel("ERROR")
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    keys = expected_final_state(
        spark.read.parquet(str(tmp_path / "feed"))).count()
    assert out["keys_applied"] == 3000
    assert out["rows"] == keys == out["replay_match"]["total"]
