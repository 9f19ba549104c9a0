"""Tests for the stateful streaming staleness filter, source/sink connectors,
gold aggregates, plan helpers, and lineage extraction."""

import os

import pytest
from pyspark.sql import functions as F

from etl_api_bigquery_spark.cdc import change_feed
from etl_api_bigquery_spark.cdc.generator import (feed_schema,
                                                  write_feed_as_epoch_files)
from etl_api_bigquery_spark.meta.lineage import lineage_df
from etl_api_bigquery_spark.operators.gold import (
    customer_lifetime_value, daily_revenue_summary, inventory_analytics,
    product_sales_metrics, product_summary)
from etl_api_bigquery_spark.plans.inspect import (
    count_exchanges, has_broadcast_join, pushed_filters)
from etl_api_bigquery_spark.sources.connectors import (
    discover_partitions, missing_partitions, read_ndjson,
    write_partitioned_parquet, write_ndjson)
from etl_api_bigquery_spark.streaming.stateful import lww_staleness_filter

SF = "/root/testdata/sf0.001"


def test_stateful_staleness_filter(spark, tmp_table_dir):
    """Epoch 0 then a replay of epoch 0 mixed with epoch 1: the second batch
    must emit only the genuinely-new events."""
    feed = change_feed(spark, n_events=2000, n_keys=100, n_epochs=2).cache()
    e0 = feed.filter("epoch = 0")
    e1 = feed.filter("epoch = 1")
    feed_dir = os.path.join(tmp_table_dir, "sfeed")
    write_feed_as_epoch_files(e0, feed_dir)          # file 1: epoch 0
    write_feed_as_epoch_files(e0.union(e1),          # file 2: replay + new
                              os.path.join(feed_dir, "replay"))
    os.rename(os.path.join(feed_dir, "replay", "epoch_00000_p00.parquet"),
              os.path.join(feed_dir, "epoch_00000b.parquet"))
    os.rename(os.path.join(feed_dir, "replay", "epoch_00001_p00.parquet"),
              os.path.join(feed_dir, "epoch_00001b.parquet"))

    stream = (spark.readStream.schema(feed_schema())
              .option("maxFilesPerTrigger", 1).parquet(feed_dir))
    filtered = lww_staleness_filter(stream, ["repo", "path"])
    q = (filtered.writeStream.format("memory").queryName("fresh_events")
         .option("checkpointLocation", os.path.join(tmp_table_dir, "ck"))
         .trigger(availableNow=True).start())
    q.awaitTermination(300)
    got = spark.table("fresh_events")
    # every (key, lsn) emitted at most once, and nothing stale slipped through
    assert got.count() == got.select("repo", "path", "lsn").distinct().count()
    # per key, emitted lsns are exactly the per-batch LWW-fresh ones; at
    # minimum: no event older than a previously-emitted one for the same key
    w = got.groupBy("repo", "path").agg(F.count("*").alias("n"),
                                        F.max("lsn").alias("mx"))
    batch_max = (feed.groupBy("repo", "path").agg(F.max("lsn").alias("mx")))
    joined = w.join(batch_max, ["repo", "path"], "inner")
    assert joined.filter(w.mx != batch_max.mx).count() == 0
    feed.unpersist()


def test_ndjson_roundtrip_and_skip(spark, tmp_table_dir):
    df = spark.range(10).select(F.col("id"), F.lit("x").alias("s"))
    p = os.path.join(tmp_table_dir, "nd")
    assert write_ndjson(df, p) is True
    assert write_ndjson(df, p) is False  # idempotent skip-if-exists
    back = read_ndjson(spark, p)
    assert back.count() == 10 and set(back.columns) == {"id", "s"}


def test_partition_overwrite_and_discovery(spark, tmp_table_dir):
    p = os.path.join(tmp_table_dir, "part")
    df1 = spark.createDataFrame([(1, "a"), (2, "b")], ["v", "day"])
    write_partitioned_parquet(df1, p, ["day"])
    # overwrite only day=a; day=b untouched
    df2 = spark.createDataFrame([(9, "a")], ["v", "day"])
    write_partitioned_parquet(df2, p, ["day"])
    got = {r.day: r.v for r in spark.read.parquet(p).collect()}
    assert got == {"a": 9, "b": 2}
    parts = discover_partitions(spark, p, "day")
    assert parts.count() == 2
    tgt = spark.createDataFrame([("a",)], ["day"])
    missing = missing_partitions(parts.select("day"), tgt, "day")
    assert [r.day for r in missing.collect()] == ["b"]


def test_gold_aggregates(spark):
    orders = spark.read.parquet(f"{SF}/orders.parquet")
    cust = spark.read.parquet(f"{SF}/customer.parquet")
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    part = spark.read.parquet(f"{SF}/part.parquet")
    supp = spark.read.parquet(f"{SF}/supplier.parquet")
    assert daily_revenue_summary(orders).count() > 0
    assert customer_lifetime_value(orders, cust).count() > 0
    pm = product_sales_metrics(li, part)
    assert pm.count() > 0
    assert product_summary(pm).count() > 0
    assert inventory_analytics(li, supp).count() == 10


def test_plan_helpers(spark):
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    part = spark.read.parquet(f"{SF}/part.parquet")
    f = li.filter(F.col("l_quantity") > 30).select("l_orderkey")
    assert any("l_quantity" in x for x in pushed_filters(f))
    j = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    assert has_broadcast_join(j)
    assert count_exchanges(j) == 0  # broadcast join: no shuffle


def test_lineage_df(spark, tmp_table_dir):
    from pyspark.sql import types as T

    from etl_api_bigquery_spark.lake import LakeTable
    from etl_api_bigquery_spark.lake.merge import merge_cdc_batch
    schema = T.StructType([T.StructField(c, T.StringType())
                           for c in ("repo", "path", "content")])
    t = LakeTable.create(spark, os.path.join(tmp_table_dir, "lin"), schema,
                         key_cols=["repo", "path"], num_buckets=2)
    b = spark.createDataFrame([(1, 0, "I", "r", "p", "v")],
                              ["lsn", "epoch", "op", "repo", "path", "content"])
    merge_cdc_batch(t, b, 0, "lin-app", mode="raw")
    lin = lineage_df(spark, t)
    rows = [r for r in lin.collect() if r.action == "merge_mor"]
    assert len(rows) == 1
    assert rows[0].keys == 1 and rows[0].txn_app == "lin-app"
    assert rows[0].skew_factor is not None


def test_source_log_files_plain_and_compact(spark, tmp_path):
    """CdcStreamRunner._source_log_files must read both plain per-batch
    FileStreamSource log entries and compacted log files (every entry
    carries its original batchId in a compact), since checkpoints past the
    source log's compactInterval only retain the .compact file."""
    import json
    import os

    from etl_api_bigquery_spark.lake import LakeTable
    from etl_api_bigquery_spark.streaming import CdcStreamRunner
    from pyspark.sql import types as T

    ckpt = os.path.join(str(tmp_path), "ckpt")
    sdir = os.path.join(ckpt, "sources", "0")
    os.makedirs(sdir)
    # plain log file for batch 0, compact file covering batches 0-2
    with open(os.path.join(sdir, "0"), "w") as fh:
        fh.write("v1\n")
        fh.write(json.dumps({"path": "file:///feed/a.parquet",
                             "timestamp": 1, "batchId": 0}) + "\n")
    with open(os.path.join(sdir, "2.compact"), "w") as fh:
        fh.write("v1\n")
        for b, name in ((0, "a"), (1, "b"), (1, "c"), (2, "d")):
            fh.write(json.dumps({"path": f"file:///feed/{name}.parquet",
                                 "timestamp": 1, "batchId": b}) + "\n")
    schema = T.StructType([T.StructField(c, T.StringType()) for c in
                           ("repo", "path", "commit", "lang", "content")])
    table = LakeTable.create(spark, os.path.join(str(tmp_path), "t"), schema,
                             key_cols=["repo", "path"], num_buckets=4)
    # side files a crash mid log write leaves behind: the checkpoint
    # manager's temp file and the local filesystem's checksum file
    for junk in (".3.1b2c.tmp", ".0.crc", ".2.compact.crc"):
        with open(os.path.join(sdir, junk), "w") as fh:
            fh.write("v1\n" + json.dumps({"path": "file:///feed/z.parquet",
                                          "timestamp": 1, "batchId": 3}))
    r = CdcStreamRunner(spark, table, "/feed", ckpt, txn_app="x")
    assert r._source_log_files(0) == ["/feed/a.parquet"]      # plain file
    # batch 1 has no plain file -> resolved from the compact, filtered by id
    assert r._source_log_files(1) == ["/feed/b.parquet", "/feed/c.parquet"]
    assert r._source_log_files(2) == ["/feed/d.parquet"]
    with pytest.raises(FileNotFoundError):
        r._source_log_files(3)
    # a later PLAIN file covers only its own batch: batches 3-4 (their plain
    # entries purged) must fail loudly, not replay as empty
    with open(os.path.join(sdir, "5"), "w") as fh:
        fh.write("v1\n")
        fh.write(json.dumps({"path": "file:///feed/e.parquet",
                             "timestamp": 1, "batchId": 5}) + "\n")
    assert r._source_log_files(5) == ["/feed/e.parquet"]
    for b in (3, 4):
        with pytest.raises(FileNotFoundError):
            r._source_log_files(b)
