"""MERGE-apply semantics: LWW, deletes, delete-then-reinsert, duplicate-LSN
redelivery, NULL keys, fence idempotence, schema evolution mid-stream,
winner prefilter, full replay sha256 match.

The semantic tests are parameterized over both fold presets (the ``preset``
fixture) — cow (append, then a synchronous fold of the touched buckets) and
raw (append delta files, resolve at read) — which must be
read-indistinguishable."""

import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from etl_api_bigquery_spark.cdc import change_feed, expected_final_state
from etl_api_bigquery_spark.cdc.oracle import assert_replay_match
from etl_api_bigquery_spark.lake import LakeTable
from etl_api_bigquery_spark.lake.merge import lww_prefilter, merge_cdc_batch

SILVER = T.StructType([
    T.StructField("repo", T.StringType()),
    T.StructField("path", T.StringType()),
    T.StructField("commit", T.StringType()),
    T.StructField("lang", T.StringType()),
    T.StructField("content", T.StringType()),
])

EVT_SCHEMA = T.StructType([
    T.StructField("lsn", T.LongType()),
    T.StructField("epoch", T.LongType()),
    T.StructField("op", T.StringType()),
    T.StructField("repo", T.StringType()),
    T.StructField("path", T.StringType()),
    T.StructField("commit", T.StringType()),
    T.StructField("lang", T.StringType()),
    T.StructField("content", T.StringType()),
])


def evt(lsn, op, repo, path, content, epoch=0):
    return (lsn, epoch, op, repo, path, f"c{lsn}", "py", content)


def events_df(spark, rows):
    return spark.createDataFrame(rows, schema=EVT_SCHEMA)


def make_table(spark, d):
    return LakeTable.create(spark, os.path.join(d, "silver"), SILVER,
                            key_cols=["repo", "path"], num_buckets=4)


def test_lww_within_batch(spark, tmp_table_dir, preset):
    t = make_table(spark, tmp_table_dir)
    batch = events_df(spark, [
        evt(1, "I", "r1", "a", "v1"),
        evt(3, "U", "r1", "a", "v3"),
        evt(2, "U", "r1", "a", "v2"),   # out of arrival order
    ])
    merge_cdc_batch(t, batch, batch_id=0, txn_app="x", **preset)
    rows = t.read().collect()
    assert len(rows) == 1 and rows[0].content == "v3"


def test_delete_wins_and_reinsert(spark, tmp_table_dir, preset):
    t = make_table(spark, tmp_table_dir)
    merge_cdc_batch(t, events_df(spark, [evt(1, "I", "r1", "a", "v1"),
                                         evt(2, "I", "r1", "b", "v1")]), 0, "x",
                    **preset)
    # delete-then-reinsert within one batch: max-lsn op decides
    batch = events_df(spark, [
        evt(3, "D", "r1", "a", None),
        evt(4, "I", "r1", "a", "back"),
        evt(5, "D", "r1", "b", None),
    ])
    merge_cdc_batch(t, batch, 1, "x", **preset)
    rows = {r.path: r.content for r in t.read().collect()}
    assert rows == {"a": "back"}


def test_update_on_absent_key_inserts(spark, tmp_table_dir, preset):
    """Reference MERGE semantics: WHEN NOT MATCHED THEN INSERT regardless of
    op being an update (loader.py:381-434)."""
    t = make_table(spark, tmp_table_dir)
    merge_cdc_batch(t, events_df(spark, [evt(1, "U", "rX", "p", "vX")]), 0, "x",
                    **preset)
    assert t.read().count() == 1


def test_duplicate_lsn_redelivery(spark, tmp_table_dir, preset):
    """Same events delivered twice (at-least-once source): idempotent result."""
    t = make_table(spark, tmp_table_dir)
    batch = events_df(spark, [evt(1, "I", "r1", "a", "v1"),
                              evt(2, "U", "r1", "a", "v2")])
    merge_cdc_batch(t, batch, 0, "x", **preset)
    merge_cdc_batch(t, batch.union(batch), 1, "x", **preset)  # redelivered
    rows = t.read().collect()
    assert len(rows) == 1 and rows[0].content == "v2"


def test_fence_skips_replayed_batch(spark, tmp_table_dir, preset):
    t = make_table(spark, tmp_table_dir)
    b0 = events_df(spark, [evt(1, "I", "r1", "a", "v1")])
    b1 = events_df(spark, [evt(2, "D", "r1", "a", None)])
    m0 = merge_cdc_batch(t, b0, 0, "app", **preset)
    m1 = merge_cdc_batch(t, b1, 1, "app", **preset)
    assert not m0.skipped_fence and not m1.skipped_fence
    # foreachBatch retry replays batch 0 after batch 1 already committed:
    m = merge_cdc_batch(t, b0, 0, "app", **preset)
    assert m.skipped_fence
    assert t.read().count() == 0  # delete still in effect
    assert t.last_txn("app") == 1


def test_null_key_tolerated(spark, tmp_table_dir, preset):
    """NULL-keyed rows land in a stable bucket and upsert like any key
    (reference repairs NULL-key legacy rows in MERGE, loader.py:517-519)."""
    t = make_table(spark, tmp_table_dir)
    b = events_df(spark, [(1, 0, "I", "r1", None, "c1", "py", "v1"),
                          (2, 0, "U", "r1", None, "c2", "py", "v2")])
    merge_cdc_batch(t, b, 0, "x", **preset)
    rows = t.read().collect()
    assert len(rows) == 1 and rows[0].content == "v2" and rows[0].path is None


def test_schema_evolution_mid_stream(spark, tmp_table_dir):
    t = make_table(spark, tmp_table_dir)
    merge_cdc_batch(t, events_df(spark, [evt(1, "I", "r1", "a", "v1")]), 0, "x")
    evolved = (events_df(spark, [evt(2, "U", "r1", "b", "v2")])
               .withColumn("size_bytes", F.lit(123).cast("int")))
    m = merge_cdc_batch(t, evolved, 1, "x")
    assert m.schema_evolved
    df = t.read()
    got = {r.path: r.size_bytes for r in df.collect()}
    assert got == {"a": None, "b": 123}  # NULL backfill on pre-evolution rows

    # widening: int -> long
    wider = (events_df(spark, [evt(3, "U", "r1", "c", "v3")])
             .withColumn("size_bytes", F.lit(2**40).cast("long")))
    m = merge_cdc_batch(t, wider, 2, "x")
    assert m.schema_evolved
    assert dict(t.snapshot().schema["size_bytes"].jsonValue().items())["type"] == "long"
    assert t.read().filter("size_bytes > 1000000000000").count() == 1
    assert t.read().filter("size_bytes = 123").count() == 1  # upcast old files


def test_tombstone_blocks_resurrection(spark, tmp_table_dir, preset):
    """A delete's LSN must keep guarding the key: an OLDER event arriving in
    a LATER batch (out-of-order redelivery) cannot resurrect it — the
    hypothesis-found COW bug, now covered explicitly for every preset."""
    t = make_table(spark, tmp_table_dir)
    merge_cdc_batch(t, events_df(spark, [evt(1, "I", "r1", "a", "v1"),
                                         evt(6, "D", "r1", "a", None)]),
                    0, "x", **preset)
    assert t.read().count() == 0
    # late event with lsn 5 < 6 arrives in the next batch
    merge_cdc_batch(t, events_df(spark, [evt(5, "U", "r1", "a", "stale")]),
                    1, "x", **preset)
    assert t.read().count() == 0  # still deleted
    # and a genuinely newer event does re-insert
    merge_cdc_batch(t, events_df(spark, [evt(7, "I", "r1", "a", "fresh")]),
                    2, "x", **preset)
    rows = t.read().collect()
    assert len(rows) == 1 and rows[0].content == "fresh"


def test_cow_fold_failure_surfaces_after_append_landed(spark, tmp_table_dir,
                                                       monkeypatch):
    """The default fold rule (the cow preset) is an append plus a fold of
    the touched buckets. A fold that fails after the append committed must
    raise (no silent skip), reads must already match the oracle (the append
    and its fence landed), and a rerun of the same batch_id must be
    fence-skipped."""
    t = make_table(spark, tmp_table_dir)
    feed = change_feed(spark, n_events=2000, n_keys=100, n_epochs=1).cache()

    def boom(*args, **kwargs):
        raise RuntimeError("fold exploded")

    monkeypatch.setattr(t, "compact_deltas", boom)
    with pytest.raises(RuntimeError, match="fold exploded"):
        merge_cdc_batch(t, feed, 0, "x")
    monkeypatch.undo()
    assert t.last_txn("x") == 0
    assert_replay_match(t.read(), expected_final_state(feed))
    assert merge_cdc_batch(t, feed, 0, "x").skipped_fence
    feed.unpersist()


def test_expire_tombstones(spark, tmp_table_dir):
    t = make_table(spark, tmp_table_dir)
    merge_cdc_batch(t, events_df(spark, [evt(1, "I", "r1", "a", "v1"),
                                         evt(2, "D", "r1", "a", None),
                                         evt(3, "I", "r1", "b", "v1")]),
                    0, "x")
    from etl_api_bigquery_spark.lake.table import OP_COL
    raw = t.read(with_bucket=True)
    assert raw.filter(f"{OP_COL} = 'D'").count() == 1
    t.expire_tombstones(below_lsn=10)
    raw2 = t.read(with_bucket=True)
    assert raw2.filter(f"{OP_COL} = 'D'").count() == 0
    assert t.read().count() == 1  # live data untouched


def test_raw_merge_builds_the_layout_in_one_select(spark, tmp_table_dir,
                                                   monkeypatch):
    """merge_cdc_batch hands its batch over as scanned: the write's one
    select builds _bucket, _lsn, _op and the _bgrp partition column, with no
    withColumn, and the files land in the table's column order and types."""
    import glob

    import pyarrow.parquet as pq
    from pyspark.sql.classic.dataframe import DataFrame as ClassicDF

    t = make_table(spark, tmp_table_dir)
    batch = events_df(spark, [evt(i, "U", f"r{i % 3}", f"p{i}", f"v{i}")
                              for i in range(1, 40)]
                      + [evt(50, "D", "r1", "p1", None)])
    calls = {"withColumn": 0, "select": 0}
    for name in calls:
        def counted(self, *a, _orig=getattr(ClassicDF, name), _name=name,
                    **kw):
            calls[_name] += 1
            return _orig(self, *a, **kw)
        monkeypatch.setattr(ClassicDF, name, counted)
    m = merge_cdc_batch(t, batch, 0, "lay", auto_compact_deltas=16,
                        l0_groups=4)
    monkeypatch.undo()
    assert calls == {"withColumn": 0, "select": 1}
    assert (m.keys, m.deletes) == (40, 1)
    got = {r.path: (r._lsn, r._op, r.same) for r in t.read(with_bucket=True)
           .select("path", "_lsn", "_op",
                   (F.col("_bucket") == t.bucket_expr()).alias("same"))
           .collect()}
    assert got == {f"p{i}": (50, "D", True) if i == 1 else (i, "U", True)
                   for i in range(1, 40)}
    files = glob.glob(os.path.join(t.location, "data", "*", "_bgrp=*",
                                   "*.parquet"))
    assert files
    want = [("repo", "string"), ("path", "string"), ("commit", "string"),
            ("lang", "string"), ("content", "string"), ("_bucket", "int32"),
            ("_lsn", "int64"), ("_op", "string")]
    for f in files:
        sch = pq.read_schema(f)
        assert [(c.name, str(c.type)) for c in sch] == want


def test_prefilter_drops_null_lsn(spark):
    """The broadcast winner-token prefilter drops NULL-lsn events (they
    never match a winner token) and keeps the key's real winner."""
    ev = events_df(spark, [(None, 0, "U", "r1", "p1", "c", "py", "x"),
                           (5, 0, "U", "r1", "p1", "c", "py", "y")])
    got = lww_prefilter(ev, ["repo", "path"]).collect()
    assert len(got) == 1 and got[0]["lsn"] == 5


def test_raw_prefilter_final_state_parity(spark, tmp_table_dir):
    """raw with prefilter=True and without it (the shipped default)
    resolve to the same table, which equals the batch oracle."""
    feed = change_feed(spark, n_events=30_000, n_keys=3_000, n_epochs=3,
                       seed=7).cache()
    cols = [f.name for f in SILVER.fields]
    got = {}
    for pf in (True, False):
        t = LakeTable.create(spark, os.path.join(tmp_table_dir, f"pf{pf}"),
                             SILVER, key_cols=["repo", "path"], num_buckets=8)
        for e in range(3):
            merge_cdc_batch(t, feed.filter(F.col("epoch") == e), e, "pf",
                            auto_compact_deltas=16, l0_groups=1,
                            prefilter=pf)
        got[pf] = t.read().select(*cols).orderBy("repo", "path").collect()
    exp = expected_final_state(feed).select(*cols).orderBy("repo", "path")
    assert got[True] == got[False] == exp.collect()
    feed.unpersist()


def test_full_replay_sha256_match(spark, tmp_table_dir, preset):
    """The BASELINE.json invariant end-to-end at small scale."""
    t = make_table(spark, tmp_table_dir)
    feed = change_feed(spark, n_events=20000, n_keys=800, n_epochs=4).cache()
    for e in range(4):
        merge_cdc_batch(t, feed.filter(F.col("epoch") == e), e, "replay",
                        **preset)
    res = assert_replay_match(t.read(), expected_final_state(feed))
    assert res["sha_mismatch"] == 0 and res["missing"] == 0 and res["extra"] == 0
    feed.unpersist()


def test_generator_deterministic(spark):
    f1 = change_feed(spark, 3000, 100, seed=7)
    f2 = change_feed(spark, 3000, 100, seed=7)
    assert f1.exceptAll(f2).isEmpty()
    f3 = change_feed(spark, 3000, 100, seed=8)
    assert not f1.exceptAll(f3).isEmpty()


def test_merge_backfill_only_null_targets(spark, tmp_table_dir):
    """J3: window-deduped source fills ONLY NULL target columns; non-NULL
    values survive untouched; bucket pruning leaves other buckets' files."""
    from etl_api_bigquery_spark.lake.merge import merge_backfill
    t = make_table(spark, tmp_table_dir)
    merge_cdc_batch(t, events_df(spark, [
        evt(1, "I", "r1", "a", "v1"),
        evt(2, "I", "r1", "b", None),     # NULL content -> backfill target
        evt(3, "I", "r2", "c", None),
    ] + [evt(10 + i, "I", f"spread{i}", f"p{i}", "x") for i in range(40)]),
        0, "x")
    before_files = set(t.snapshot().files)
    # source: two versions per key; latest (ord=1) must win the dedup
    src = spark.createDataFrame(
        [("r1", "a", "old_fill", 0), ("r1", "a", "new_fill", 1),
         ("r1", "b", "old_fill", 0), ("r1", "b", "new_fill", 1)],
        ["repo", "path", "content", "ord"])
    ver = merge_backfill(t, src, set_cols=["content"], order_col="ord")
    got = {(r.repo, r.path): r.content for r in t.read().collect()}
    assert got[("r1", "a")] == "v1"           # non-NULL target untouched
    assert got[("r1", "b")] == "new_fill"     # NULL filled by deduped latest
    assert got[("r2", "c")] is None           # unmatched key stays NULL
    # bucket pruning: untouched buckets' files survive the commit
    doc = t._read_doc(ver)
    assert doc["properties"]["backfill"]["buckets"] != "all"
    assert set(doc["removes"]) < before_files  # strict subset: pruned
    assert t.read().filter("repo LIKE 'spread%'").count() == 40


def test_merge_backfill_fk_pruned(spark, tmp_table_dir):
    """FK backfill (join_keys != bucket keys) prunes on footer min/max stats
    of the FK columns: buckets none of whose files' FK ranges intersect the
    source's range ride through untouched instead of a full-table rewrite."""
    from etl_api_bigquery_spark.lake.merge import merge_backfill
    schema = T.StructType([
        T.StructField("k", T.StringType()),
        T.StructField("fk", T.LongType()),
        T.StructField("v", T.StringType()),
    ])
    t = LakeTable.create(spark, os.path.join(tmp_table_dir, "fkp"), schema,
                         key_cols=["k"], num_buckets=4)
    # Make FK ranges bucket-disjoint (fk = bucket*1000 + i) so the footer
    # stats CAN discriminate — the mechanism under test, not a data accident.
    base = spark.range(200).select(
        F.concat(F.lit("k"), F.col("id").cast("string")).alias("k"),
        F.col("id").alias("i"))
    df = base.select(
        "k",
        (t.bucket_expr(["k"]) * 1000 + F.col("i")).alias("fk"),
        F.lit(None).cast("string").alias("v"))
    t.append(df)
    before = dict(t.snapshot().files)
    hit = [r.fk for r in t.read()
           .filter((F.col("fk") >= 2000) & (F.col("fk") < 3000))
           .limit(3).collect()]
    assert hit, "test setup: bucket 2 must hold rows"
    src = spark.createDataFrame([(fk, "filled", 1) for fk in hit],
                                ["fk", "v", "ord"])
    ver = merge_backfill(t, src, set_cols=["v"], order_col="ord",
                         join_keys=["fk"])
    doc = t._read_doc(ver)
    removed = set(doc["removes"])
    assert 0 < len(removed) < len(before)          # partial rewrite
    assert doc["properties"]["backfill"]["buckets"] != "all"
    untouched = set(before) - removed
    assert untouched <= set(t.snapshot().files)    # pruned files survive
    got = {r.fk: r.v for r in t.read().collect()}
    for fk in hit:
        assert got[fk] == "filled"
    assert sum(v is not None for v in got.values()) == len(hit)
    # source FK range outside every file's stats -> no-op fast path
    v0 = t.snapshot().version
    far = spark.createDataFrame([(999999, "x", 1)], ["fk", "v", "ord"])
    assert merge_backfill(t, far, set_cols=["v"], order_col="ord",
                          join_keys=["fk"]) == v0
    # all-NULL FK source joins nothing -> no-op (no crash on None bounds)
    nul = spark.createDataFrame([(None, "x", 1)],
                                T.StructType([
                                    T.StructField("fk", T.LongType()),
                                    T.StructField("v", T.StringType()),
                                    T.StructField("ord", T.LongType())]))
    assert merge_backfill(t, nul, set_cols=["v"], order_col="ord",
                          join_keys=["fk"]) == v0


def test_runner_max_bytes_per_trigger(spark, tmp_table_dir):
    """S3 throttle: byte-bounded triggers split the backlog into more,
    smaller micro-batches than the file-count bound alone."""
    from etl_api_bigquery_spark.cdc.generator import write_feed_as_epoch_files
    from etl_api_bigquery_spark.streaming import CdcStreamRunner
    feed = change_feed(spark, n_events=20000, n_keys=2000, n_epochs=4)
    feed_dir = os.path.join(tmp_table_dir, "feed")
    write_feed_as_epoch_files(feed, feed_dir, files_per_epoch=4)
    t = make_table(spark, tmp_table_dir)
    runner = CdcStreamRunner(
        spark, t, feed_dir, os.path.join(tmp_table_dir, "ck"),
        txn_app="thr", mode="raw",
        max_bytes_per_trigger=1,  # 1 byte bound -> 1 file per trigger
    )
    runner.run_available_now()
    applied = [m for m in runner.metrics if not m.skipped_fence]
    assert len(applied) == 16  # byte bound forced one file per micro-batch
    assert_replay_match(t.read(), expected_final_state(feed))


def test_lineage_events_per_sec(spark, tmp_table_dir):
    from etl_api_bigquery_spark.meta.lineage import lineage_df
    t = make_table(spark, tmp_table_dir)
    merge_cdc_batch(t, events_df(spark, [evt(1, "I", "r1", "a", "v1")]),
                    0, "x", auto_compact_deltas=16, l0_groups=1)
    merge_cdc_batch(t, events_df(spark, [evt(2, "U", "r1", "a", "v2")]),
                    1, "x")
    lin = lineage_df(spark, t).filter("events_per_sec IS NOT NULL").collect()
    assert len(lin) == 2 and all(r.events_per_sec > 0 for r in lin)
