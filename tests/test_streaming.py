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


def test_repair_fence_gap_recovers_lost_async_commit(spark, staged):
    """The async-commit crash window: checkpoint committed batch N but the
    table commit never fsynced. Simulate by deleting the table's last commit
    log entry after a clean drain, then restart with SYNC commits: the
    restart still repairs from the checkpoint's file-source log, and the
    final state matches the oracle."""
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
                         mode="raw", async_commit=False)
    repaired = r2.run_available_now()
    assert [m.batch_id for m in repaired] == [5]
    assert not any(m.skipped_fence for m in repaired)
    assert_replay_match(fresh.read(), expected_final_state(feed))
    # and on a healthy table the repair is a no-op
    assert r2.repair_fence_gap() == []


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
