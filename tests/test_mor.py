"""Merge-on-read specifics of the raw (LSM append) path: delta
accumulation, read resolution, compaction equivalence, auto-compaction
trigger, COW/raw interop, time travel. Tests that need per-bucket delta
files write bucket-pure L0 (``l0_groups=num_buckets``)."""

import os
import re

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from etl_api_bigquery_spark.cdc import change_feed, expected_final_state
from etl_api_bigquery_spark.cdc.oracle import assert_replay_match
from etl_api_bigquery_spark.lake import LakeTable
from etl_api_bigquery_spark.lake.merge import merge_cdc_batch
from etl_api_bigquery_spark.plans.inspect import plan_text

SILVER = T.StructType([
    T.StructField("repo", T.StringType()),
    T.StructField("path", T.StringType()),
    T.StructField("commit", T.StringType()),
    T.StructField("lang", T.StringType()),
    T.StructField("content", T.StringType()),
])


def make_table(spark, d, buckets=4):
    return LakeTable.create(spark, os.path.join(d, "mor"), SILVER,
                            key_cols=["repo", "path"], num_buckets=buckets)


def test_mor_accumulates_deltas_then_compacts_equal_state(spark, tmp_table_dir):
    t = make_table(spark, tmp_table_dir)
    feed = change_feed(spark, n_events=8000, n_keys=300, n_epochs=4).cache()
    for e in range(4):
        merge_cdc_batch(t, feed.filter(F.col("epoch") == e), e, "mor",
                        mode="raw", auto_compact_deltas=1000, l0_groups=4)
    assert sum(t.delta_file_counts().values()) > 0
    before = t.read()
    expected = expected_final_state(feed)
    assert_replay_match(before, expected)

    # compaction must be state-preserving and clear the deltas
    v = t.compact_deltas(max_delta_files=1)
    assert v is not None
    assert t.delta_file_counts() == {}
    assert_replay_match(t.read(), expected)
    feed.unpersist()


def test_mor_auto_compaction_triggers(spark, tmp_table_dir):
    t = make_table(spark, tmp_table_dir, buckets=2)
    feed = change_feed(spark, n_events=4000, n_keys=100, n_epochs=8).cache()
    for e in range(8):
        merge_cdc_batch(t, feed.filter(F.col("epoch") == e), e, "mor",
                        mode="raw", auto_compact_deltas=3, l0_groups=2)
    # auto-compaction kept per-bucket delta count below the threshold
    assert all(c < 3 for c in t.delta_file_counts().values())
    assert_replay_match(t.read(), expected_final_state(feed))
    feed.unpersist()


def test_cow_after_mor_interop(spark, tmp_table_dir):
    """A COW batch on a table with outstanding deltas must resolve them."""
    t = make_table(spark, tmp_table_dir)
    feed = change_feed(spark, n_events=6000, n_keys=200, n_epochs=3).cache()
    merge_cdc_batch(t, feed.filter("epoch = 0"), 0, "mix", mode="raw",
                    auto_compact_deltas=1000, l0_groups=4)
    merge_cdc_batch(t, feed.filter("epoch = 1"), 1, "mix", mode="raw",
                    auto_compact_deltas=1000, l0_groups=4)
    merge_cdc_batch(t, feed.filter("epoch = 2"), 2, "mix", mode="cow")
    assert_replay_match(t.read(), expected_final_state(feed))
    feed.unpersist()


def test_mor_time_travel(spark, tmp_table_dir):
    t = make_table(spark, tmp_table_dir)
    b0 = spark.createDataFrame([(1, 0, "I", "r", "p", "c", "py", "v1")],
                               ["lsn", "epoch", "op", "repo", "path",
                                "commit", "lang", "content"])
    b1 = spark.createDataFrame([(2, 1, "U", "r", "p", "c", "py", "v2")],
                               b0.schema)
    merge_cdc_batch(t, b0, 0, "tt", mode="raw")
    v1 = t.current_version()
    merge_cdc_batch(t, b1, 1, "tt", mode="raw")
    assert t.read(version=v1).collect()[0].content == "v1"
    assert t.read().collect()[0].content == "v2"


def test_raw_append_then_full_compaction(spark, tmp_table_dir):
    """raw mode: zero-shuffle appends (mixed-bucket files), correct reads via
    LWW resolution, and full L0 fold on compaction."""
    from etl_api_bigquery_spark.lake.table import MIXED_BUCKET
    t = make_table(spark, tmp_table_dir)
    feed = change_feed(spark, n_events=6000, n_keys=200, n_epochs=3).cache()
    for e in range(3):
        merge_cdc_batch(t, feed.filter(F.col("epoch") == e), e, "raw",
                        mode="raw", auto_compact_deltas=10**6)
    assert any(e.bucket == MIXED_BUCKET for e in t.snapshot().files.values())
    expected = expected_final_state(feed)
    assert_replay_match(t.read(), expected)
    t.compact_deltas(buckets=[0])  # mixed victims -> full fold
    assert t.delta_file_counts() == {}
    assert all(e.bucket != MIXED_BUCKET for e in t.snapshot().files.values())
    assert_replay_match(t.read(), expected)
    feed.unpersist()


def test_cow_after_raw_full_rewrite_no_dupes(spark, tmp_table_dir):
    t = make_table(spark, tmp_table_dir)
    feed = change_feed(spark, n_events=4000, n_keys=150, n_epochs=2).cache()
    merge_cdc_batch(t, feed.filter("epoch = 0"), 0, "x", mode="raw",
                    auto_compact_deltas=10**6)
    merge_cdc_batch(t, feed.filter("epoch = 1"), 1, "x", mode="cow")
    df = t.read()
    assert df.groupBy("repo", "path").count().filter("count > 1").isEmpty()
    assert_replay_match(df, expected_final_state(feed))
    feed.unpersist()


def test_mor_write_cost_independent_of_table_size(spark, tmp_table_dir):
    """The point of merge-on-read: a 1-key batch adds O(1) files and reads 0
    target rows even on a populated table."""
    t = make_table(spark, tmp_table_dir, buckets=8)
    feed = change_feed(spark, n_events=20000, n_keys=2000, n_epochs=1)
    merge_cdc_batch(t, feed, 0, "sz", mode="raw", l0_groups=8)
    t.compact_deltas(max_delta_files=1)
    one = spark.createDataFrame([(99999, 1, "U", "repo_1", "x", "c", "py", "nv")],
                                ["lsn", "epoch", "op", "repo", "path",
                                 "commit", "lang", "content"])
    m = merge_cdc_batch(t, one, 1, "sz", mode="raw", l0_groups=8)
    assert m.target_rows_read == 0
    assert m.buckets_touched == 1
    got = t.read().filter("repo = 'repo_1' and path = 'x'").collect()
    assert len(got) == 1 and got[0].content == "nv"


def test_raw_tiny_batch_commits_no_empty_file(spark, tmp_table_dir):
    """An unclustered raw write of a one-row batch from a multi-partition
    source: Spark's partition 0 writes a parquet file even when it holds no
    rows. Committed, that file has no _bucket stats and would count toward
    every bucket's read amplification; harvest must drop it."""
    t = make_table(spark, tmp_table_dir, buckets=8)
    one = spark.createDataFrame(
        [(1, 0, "U", "repo_1", "x", "c", "py", "v")],
        ["lsn", "epoch", "op", "repo", "path", "commit", "lang", "content"]
    ).repartition(4)
    m = merge_cdc_batch(t, one, 0, "tiny", mode="raw", l0_groups=1)
    assert m.buckets_touched == 1
    assert [e.rows for e in t.snapshot().files.values()] == [1]
    assert list(t.bucket_read_amplification().values()) == [1]
    assert t.read().collect()[0].content == "v"


def test_data_writes_leave_no_success_marker(spark, tmp_table_dir):
    """The commit doc in _log/ is the table's success marker: raw merges,
    appends and folds write no _SUCCESS file under data/."""
    t = make_table(spark, tmp_table_dir)
    feed = change_feed(spark, n_events=2000, n_keys=100, n_epochs=1)
    merge_cdc_batch(t, feed, 0, "ok", mode="raw", l0_groups=4)
    t.append(spark.createDataFrame(
        [("repo_x", "p", "c", "py", "a")], SILVER))
    assert t.compact_deltas(max_delta_files=1) is not None
    data = os.path.join(t.location, "data")
    marks = [os.path.join(d, f) for d, _, fs in os.walk(data) for f in fs
             if f == "_SUCCESS"]
    assert marks == []


def test_vacuum_waits_for_inflight_fold(spark, tmp_table_dir):
    """vacuum() must not delete the written-but-uncommitted output of a
    background fold: the fold is held just before its commit, vacuum is
    started, then the fold is released. vacuum blocks until the fold lands
    and the table still reads equal to the oracle."""
    import threading

    t = make_table(spark, tmp_table_dir)
    feed = change_feed(spark, n_events=4000, n_keys=150, n_epochs=2).cache()
    for e in range(2):
        merge_cdc_batch(t, feed.filter(F.col("epoch") == e), e, "vac",
                        mode="raw", auto_compact_deltas=10**6, l0_groups=4)
    written, release = threading.Event(), threading.Event()
    commit = t._write_commit

    def held_commit(*a, **kw):
        if threading.current_thread().name.startswith("lake-maint"):
            written.set()
            assert release.wait(120)
        return commit(*a, **kw)

    t._write_commit = held_commit
    fold = t.compact_deltas_async(buckets=range(t.num_buckets))
    assert written.wait(120)              # fold output is on disk, uncommitted
    removed = []
    vac = threading.Thread(
        target=lambda: removed.append(t.vacuum(keep_versions=1)))
    vac.start()
    try:
        vac.join(2)
        assert vac.is_alive()             # vacuum waits for the fold
    finally:
        release.set()
        vac.join(120)
    assert fold.result() is not None
    assert removed and removed[0] > 0     # the folded L0 files went
    assert_replay_match(t.read(), expected_final_state(feed))
    feed.unpersist()


def test_vacuum_removes_crc_sidecars_and_emptied_dirs(spark, tmp_table_dir):
    """vacuum() deletes each dropped parquet file's ``.<name>.crc`` sidecar
    with it and the data directories that leaves empty: after a fold of
    bucket-pure and grouped L0 writes, no sidecar is left without its
    parquet file and no data directory is left empty."""
    t = make_table(spark, tmp_table_dir)
    feed = change_feed(spark, n_events=4000, n_keys=150, n_epochs=3).cache()
    for e in range(3):
        merge_cdc_batch(t, feed.filter(F.col("epoch") == e), e, "crc",
                        mode="raw", auto_compact_deltas=10**6)
    assert t.compact_deltas(max_delta_files=1) is not None
    assert t.vacuum(keep_versions=1) > 0
    data = os.path.join(t.location, "data")
    orphans, empty = [], []
    for d, dirs, files in os.walk(data):
        orphans += [os.path.join(d, f) for f in files if f.endswith(".crc")
                    and f[1:-len(".crc")] not in files]
        if d != data and not dirs and not files:
            empty.append(d)
    assert orphans == [] and empty == []
    live = {os.path.join(t.location, p) for p in t.snapshot().files}
    on_disk = {os.path.join(d, f) for d, _, fs in os.walk(data) for f in fs
               if f.endswith(".parquet")}
    assert on_disk == live
    assert_replay_match(t.read(), expected_final_state(feed))
    feed.unpersist()


def test_raw_bucket_pure_l0_compacts_per_bucket(spark, tmp_table_dir):
    """l0_groups=num_buckets: raw L0 files are bucket-PURE (labeled with real
    bucket ids via footer stats, no shuffle added), so compaction folds ONLY
    the hot buckets instead of the full L0 — MOR-grade locality on the
    zero-shuffle ingest path."""
    from etl_api_bigquery_spark.lake.table import MIXED_BUCKET
    t = make_table(spark, tmp_table_dir)
    feed = change_feed(spark, n_events=6000, n_keys=200, n_epochs=3).cache()
    for e in range(3):
        merge_cdc_batch(t, feed.filter(F.col("epoch") == e), e, "rawp",
                        mode="raw", auto_compact_deltas=10**6, l0_groups=4)
    assert all(e.bucket != MIXED_BUCKET for e in t.snapshot().files.values())
    expected = expected_final_state(feed)
    assert_replay_match(t.read(), expected)
    amp_before = t.bucket_read_amplification()
    assert amp_before[0] >= 3
    survivors_other = [e.path for e in t.snapshot().files.values()
                       if e.kind == "delta" and e.bucket != 0]
    t.compact_deltas(buckets=[0])          # folds bucket 0 ONLY
    after = t.snapshot()
    assert t.bucket_read_amplification().get(0) is None
    # the other buckets' L0 files were not touched by the partial fold
    assert all(p in after.files for p in survivors_other)
    assert_replay_match(t.read(), expected)
    feed.unpersist()


def test_raw_grouped_l0_closure_bounded_fold(spark, tmp_table_dir):
    """l0_groups=2 on a 4-bucket table: L0 files span one contiguous 2-bucket
    range each; compacting bucket 0 expands to its GROUP's closure {0,1} and
    leaves the other group's L0 intact (no full-table fold)."""
    from etl_api_bigquery_spark.lake.table import MIXED_BUCKET
    t = make_table(spark, tmp_table_dir)
    feed = change_feed(spark, n_events=6000, n_keys=200, n_epochs=3).cache()
    for e in range(3):
        merge_cdc_batch(t, feed.filter(F.col("epoch") == e), e, "rawg",
                        mode="raw", auto_compact_deltas=10**6, l0_groups=2)
    snap = t.snapshot()
    spans = {t._entry_bucket_range(e) for e in snap.files.values()
             if e.bucket == MIXED_BUCKET and e.kind == "delta"}
    assert spans and all(hi - lo <= 1 for lo, hi in spans)
    assert t.expand_bucket_closure(snap, [0]) == [0, 1]
    expected = expected_final_state(feed)
    other_group = [e.path for e in snap.files.values()
                   if e.kind == "delta" and t._entry_bucket_range(e)[0] >= 2]
    assert other_group
    t.compact_deltas(buckets=[0])
    after = t.snapshot()
    assert all(p in after.files for p in other_group)
    amp = t.bucket_read_amplification()
    assert amp.get(0) is None and amp.get(1) is None
    assert_replay_match(t.read(), expected)
    feed.unpersist()


def test_async_compaction_overlaps_and_survives_commit_race(spark, tmp_table_dir):
    """compact_async: the fold runs on a background thread while the next
    batch appends deltas concurrently — the lost commit race is retried, LWW
    keeps post-snapshot deltas winning over the compacted base, and the final
    state still matches the batch oracle."""
    t = make_table(spark, tmp_table_dir)
    feed = change_feed(spark, n_events=8000, n_keys=300, n_epochs=4).cache()
    # threshold low enough that compaction is scheduled mid-stream
    for e in range(4):
        merge_cdc_batch(t, feed.filter(F.col("epoch") == e), e, "async",
                        mode="raw", auto_compact_deltas=2, l0_groups=4,
                        compact_async=True)
    t.join_maintenance()
    assert any(h["action"] == "compact_deltas" for h in t.history())
    assert_replay_match(t.read(), expected_final_state(feed))
    feed.unpersist()


def test_cow_after_grouped_raw_partial_rewrite(spark, tmp_table_dir):
    """A COW batch over grouped-L0 deltas widens its rewrite to the groups'
    closure (not the full table) and produces no duplicates."""
    t = make_table(spark, tmp_table_dir)
    feed = change_feed(spark, n_events=4000, n_keys=150, n_epochs=2).cache()
    merge_cdc_batch(t, feed.filter("epoch = 0"), 0, "x", mode="raw",
                    auto_compact_deltas=10**6, l0_groups=4)
    merge_cdc_batch(t, feed.filter("epoch = 1"), 1, "x", mode="cow")
    df = t.read()
    assert df.groupBy("repo", "path").count().filter("count > 1").isEmpty()
    assert_replay_match(df, expected_final_state(feed))
    feed.unpersist()


def test_l0_groups_auto_sizes_from_the_previous_append(spark, tmp_table_dir,
                                                       monkeypatch):
    """l0_groups="auto" is resolved by append_deltas: the first raw merge
    writes bucket-pure L0 (G = num_buckets); the next one takes G from the
    first commit's adds — out_bytes x G / n_files bytes per write task,
    divided by the L0 file-size floor and clamped to [1, num_buckets]."""
    from etl_api_bigquery_spark.lake import table as table_mod
    t = make_table(spark, tmp_table_dir, buckets=8)
    feed = change_feed(spark, n_events=6000, n_keys=200, n_epochs=2).cache()

    def commit_of(epoch):
        m = merge_cdc_batch(t, feed.filter(F.col("epoch") == epoch), epoch,
                            "auto", mode="raw", auto_compact_deltas=10**6,
                            l0_groups="auto")
        return t._read_doc(m.version)

    first = commit_of(0)
    assert first["properties"]["l0_groups"] == 8
    adds = first["adds"]
    per_task = sum(a["bytes"] for a in adds) * 8 / len(adds)
    # a floor a third of that task size, so the rule lands strictly inside
    # [1, num_buckets] instead of at the clamp
    floor = int(per_task // 3)
    monkeypatch.setattr(table_mod, "L0_TARGET_FILE_BYTES", floor)
    expected = max(1, min(8, int(per_task // floor)))
    assert 1 < expected < 8
    assert commit_of(1)["properties"]["l0_groups"] == expected
    assert_replay_match(t.read(), expected_final_state(feed))
    feed.unpersist()


@pytest.mark.parametrize("checkpointed", [False, True])
def test_l0_groups_auto_survives_a_restart(spark, tmp_table_dir, monkeypatch,
                                           checkpointed):
    """A restarted driver's first l0_groups="auto" append takes G from the
    log's last merge_mor commit (the snapshot's ``l0_write``), not
    num_buckets again — also when that commit sits behind a manifest
    checkpoint, so the cold snapshot never reads its doc."""
    from etl_api_bigquery_spark.lake import table as table_mod
    if checkpointed:
        monkeypatch.setattr(LakeTable, "CHECKPOINT_INTERVAL", 1)
    t = make_table(spark, tmp_table_dir, buckets=8)
    feed = change_feed(spark, n_events=6000, n_keys=200, n_epochs=2).cache()

    def merge(table, epoch):
        m = merge_cdc_batch(table, feed.filter(F.col("epoch") == epoch),
                            epoch, "auto", mode="raw",
                            auto_compact_deltas=10**6, l0_groups="auto")
        return table._read_doc(m.version)

    first = merge(t, 0)
    assert first["properties"]["l0_groups"] == 8
    assert (first["version"] in t._checkpoint_versions()) == checkpointed
    adds = first["adds"]
    per_task = sum(a["bytes"] for a in adds) * 8 / len(adds)
    floor = int(per_task // 3)          # G lands inside (1, num_buckets)
    monkeypatch.setattr(table_mod, "L0_TARGET_FILE_BYTES", floor)
    expected = max(1, min(8, int(per_task // floor)))
    assert 1 < expected < 8
    restarted = LakeTable.load(spark, t.location)
    assert merge(restarted, 1)["properties"]["l0_groups"] == expected
    assert_replay_match(restarted.read(), expected_final_state(feed))
    feed.unpersist()


def test_warm_merge_log_work_is_constant_on_a_long_log(spark, tmp_table_dir,
                                                       monkeypatch):
    """Log work per trigger does not grow with the log. On a log of 10^4
    commits, a warm raw merge_cdc_batch (async finalize and async
    compaction on, as the stream runs it) lists ``_log/`` zero times — the
    head is found by probing versions — and reads only commit docs newer
    than its last snapshot."""
    t = make_table(spark, tmp_table_dir)
    snap0 = t.snapshot()
    with monkeypatch.context() as m:
        m.setattr(os, "fsync", lambda fd: None)     # seconds, not minutes
        for v in range(1, 10_001):
            t._write_commit(v, "noop", snap0.schema, snap0.schema_id, [], [],
                            {})
    feed = change_feed(spark, n_events=3000, n_keys=100, n_epochs=2).cache()
    t = LakeTable.load(spark, t.location)

    def merge(epoch):
        merge_cdc_batch(t, feed.filter(F.col("epoch") == epoch), epoch, "o1",
                        mode="raw", auto_compact_deltas=1, l0_groups=4,
                        compact_async=True, async_finalize=True)
        t.join_pending_commit()
        t.join_maintenance()

    merge(0)                                         # cold: one listing
    before = t.snapshot().version
    listings, reads = [], []
    for attr in ("scandir", "listdir"):
        orig = getattr(os, attr)

        def counted(path=".", *a, _orig=orig, **kw):
            if os.fspath(path).rstrip("/").endswith("/_log"):
                listings.append(path)
            return _orig(path, *a, **kw)
        monkeypatch.setattr(os, attr, counted)
    read_doc = LakeTable._read_doc
    monkeypatch.setattr(LakeTable, "_read_doc",
                        lambda self, v: (reads.append(v), read_doc(self, v))[1])
    merge(1)
    head = t.snapshot().version
    monkeypatch.undo()
    assert listings == []
    assert head > before + 1                         # the merge and its fold
    assert sorted(reads) == list(range(before + 1, head + 1))
    assert_replay_match(t.read(), expected_final_state(feed))
    feed.unpersist()


def test_raw_auto_l0_groups_end_to_end(spark, tmp_table_dir, tmp_path):
    """l0_groups="auto" on a file-backed batch: like a stream's first
    trigger, the first append is bucket-pure (input file sizes are not
    consulted), G is recorded in commit properties, and the replay stays
    sha-green."""
    t = make_table(spark, tmp_table_dir)
    feed = change_feed(spark, n_events=6000, n_keys=200, n_epochs=2)
    fdir = str(tmp_path / "feed_auto")
    feed.write.mode("overwrite").parquet(fdir)
    batch = spark.read.parquet(fdir)
    m = merge_cdc_batch(t, batch, 0, "auto1", mode="raw",
                        auto_compact_deltas=10**6, l0_groups="auto")
    assert m.version >= 0
    hist = [h for h in t.history() if h.get("properties", {})
            .get("txn_batch") == 0]
    g = hist[-1]["properties"]["l0_groups"]
    assert g == t.num_buckets           # first append: bucket-pure
    assert_replay_match(t.read(), expected_final_state(feed))


def test_read_matches_oracle_on_every_file_layout(spark, tmp_table_dir):
    """One-scan reads agree with the batch oracle whatever the selected files
    are: all delta (raw L0), base plus delta, base only, and no files."""
    feed = change_feed(spark, n_events=3000, n_keys=120, n_epochs=3).cache()
    expected = expected_final_state(feed)
    layouts = {"all_delta": ["raw", "raw", "raw"],
               "mixed": ["cow", "raw", "raw"],
               "base_only": ["cow", "cow", "cow"]}
    for name, modes in layouts.items():
        t = LakeTable.create(spark, os.path.join(tmp_table_dir, name), SILVER,
                             key_cols=["repo", "path"], num_buckets=4)
        for e, mode in enumerate(modes):
            merge_cdc_batch(t, feed.filter(F.col("epoch") == e), e, name,
                            mode=mode, auto_compact_deltas=10**6)
        kinds = {e.kind for e in t.snapshot().files.values()}
        assert kinds == {"all_delta": {"delta"}, "mixed": {"base", "delta"},
                         "base_only": {"base"}}[name]
        assert_replay_match(t.read(), expected)
    fresh = make_table(spark, tmp_table_dir)
    got = fresh.read()
    assert [(f.name, f.dataType) for f in got.schema.fields] == \
        [(f.name, f.dataType) for f in SILVER.fields]
    assert_replay_match(got, expected_final_state(feed.limit(0)))
    assert fresh.read(with_bucket=True).count() == 0
    feed.unpersist()


def test_read_resolves_across_schema_ids_in_one_bucket(spark, tmp_table_dir):
    """A file written before evolve_schema shares its bucket with newer
    deltas: each schema id gets its own scan, both are conformed to the
    current schema, and LWW resolves across them."""
    schema = T.StructType([T.StructField(c, T.StringType())
                           for c in ("repo", "path", "content")])
    t = LakeTable.create(spark, os.path.join(tmp_table_dir, "evo"), schema,
                         key_cols=["repo", "path"], num_buckets=1)
    old = spark.createDataFrame(
        [(i, 0, "U", "r", f"p{i}", "old") for i in range(6)],
        "lsn long, epoch long, op string, repo string, path string, "
        "content string")
    new = spark.createDataFrame(
        [(10 + i, 1, "U", "r", f"p{i}", "new", 7) for i in range(3)]
        + [(20, 1, "D", "r", "p3", None, None)],
        "lsn long, epoch long, op string, repo string, path string, "
        "content string, stars long")
    merge_cdc_batch(t, old, 0, "evo", mode="raw", auto_compact_deltas=10**6)
    merge_cdc_batch(t, new, 1, "evo", mode="raw", auto_compact_deltas=10**6)
    files = t.snapshot().files.values()
    assert {e.schema_id for e in files} == {0, 1}
    assert t.buckets_of_entries(files) == {0}
    got = sorted(tuple(r) for r in t.read().collect())
    assert got == ([("r", f"p{i}", "new", 7) for i in range(3)]
                   + [("r", f"p{i}", "old", None) for i in (4, 5)])
    scans = re.findall(r"^\(\d+\) Scan parquet", plan_text(t.read()), re.M)
    assert len(scans) == 2


def test_null_key_and_sentinel_string_key_stay_distinct(spark, tmp_table_dir):
    """A NULL key and the literal string "\\x00null" share a bucket but are
    two keys, exactly as lww_dedup (and so the oracle) groups them."""
    schema = T.StructType([T.StructField(c, T.StringType())
                           for c in ("repo", "path", "content")])
    t = LakeTable.create(spark, os.path.join(tmp_table_dir, "nk"), schema,
                         key_cols=["repo", "path"], num_buckets=4)
    feed = spark.createDataFrame(
        [(1, 0, "U", None, "p", "null-v1"),
         (2, 0, "U", "\x00null", "p", "sentinel"),
         (3, 0, "U", None, "p", "null-v2")],
        "lsn long, epoch long, op string, repo string, path string, "
        "content string")
    merge_cdc_batch(t, feed, 0, "nk", mode="raw", auto_compact_deltas=10**6)
    want = {tuple(r) for r in expected_final_state(feed).collect()}
    assert want == {(None, "p", "null-v2"), ("\x00null", "p", "sentinel")}
    assert t.read().count() == 2
    assert {tuple(r) for r in t.read().collect()} == want


def _cow_then_mixed_l0(spark, tmp_table_dir, raw_epochs):
    """An 8-bucket table holding one folded (cow) batch under
    ``raw_epochs`` unclustered raw batches, whose L0 files each span many
    buckets."""
    from etl_api_bigquery_spark.lake.table import MIXED_BUCKET

    t = make_table(spark, tmp_table_dir, buckets=8)
    feed = change_feed(spark, n_events=4000, n_keys=200,
                       n_epochs=1 + raw_epochs).cache()
    merge_cdc_batch(t, feed.filter(F.col("epoch") == 0), 0, "mix",
                    mode="cow")
    for e in range(1, 1 + raw_epochs):
        merge_cdc_batch(t, feed.filter(F.col("epoch") == e), e, "mix",
                        mode="raw", l0_groups=1, auto_compact_deltas=10**6)
    assert any(e.bucket == MIXED_BUCKET for e in t.snapshot().files.values())
    return t, feed


def test_compact_resolves_mixed_l0_against_base(spark, tmp_table_dir):
    """compact() over mixed-bucket L0 folds each fragmented bucket's base
    and deltas together: no duplicate keys, no resurrected deletes."""
    t, feed = _cow_then_mixed_l0(spark, tmp_table_dir, raw_epochs=3)
    expected = expected_final_state(feed)
    assert_replay_match(t.read(), expected)
    assert t.compact() is not None
    assert not any(e.kind == "delta" for e in t.snapshot().files.values())
    assert_replay_match(t.read(), expected)
    feed.unpersist()


def test_overwrite_buckets_keeps_untouched_buckets(spark, tmp_table_dir):
    """Overwriting one bucket that shares mixed L0 files with others leaves
    every other bucket's rows as they were."""
    from etl_api_bigquery_spark.lake.table import BUCKET_COL

    t, feed = _cow_then_mixed_l0(spark, tmp_table_dir, raw_epochs=1)

    def rows_by_bucket():
        out = {}
        for r in t.read(with_bucket=True).filter("coalesce(_op, 'U') != 'D'") \
                .select(BUCKET_COL, *SILVER.fieldNames()).collect():
            out.setdefault(r[0], set()).add(tuple(r[1:]))
        return out

    before = rows_by_bucket()
    patched = next(iter(before.pop(0)))[:-1] + ("patched",)
    t.overwrite_buckets(spark.createDataFrame([patched], SILVER))
    after = rows_by_bucket()
    assert after.pop(0) == {patched}
    assert after == before
    feed.unpersist()
