"""Physical-plan assertions: the scale-relevant properties must appear in
.explain() output — predicate pushdown to the parquet scan, column pruning,
broadcast joins for small dims, whole-stage codegen, and manifest-level
bucket pruning (fewer files scanned). These are the properties SURVEY.md §4
claims Catalyst provides for free — verified, not assumed."""

import io
from contextlib import redirect_stdout

from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def plan_of(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_filter_pushdown_reaches_scan(spark):
    df = (spark.read.parquet(f"{SF}/lineitem.parquet")
          .filter(F.col("l_quantity") > 30).select("l_orderkey", "l_quantity"))
    p = plan_of(df)
    assert "PushedFilters" in p
    assert "GreaterThan(l_quantity,30" in p.replace(" ", "")


def test_column_pruning(spark):
    df = (spark.read.parquet(f"{SF}/lineitem.parquet")
          .select("l_orderkey", "l_quantity"))
    p = plan_of(df)
    # ReadSchema must carry only the projected columns
    rs = [ln for ln in p.splitlines() if "ReadSchema" in ln][0]
    assert "l_orderkey" in rs and "l_quantity" in rs
    assert "l_extendedprice" not in rs and "l_shipdate" not in rs


def test_broadcast_join_chosen(spark):
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    part = spark.read.parquet(f"{SF}/part.parquet")
    j = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    assert "BroadcastHashJoin" in plan_of(j)


def test_whole_stage_codegen_on_agg(spark):
    # AQE's pre-execution explain hides codegen spans; disable it locally.
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        li = spark.read.parquet(f"{SF}/lineitem.parquet")
        agg = li.groupBy("l_returnflag").agg(F.sum("l_quantity"))
        p = plan_of(agg)
        # formatted explain marks codegen'd operators with [codegen id : N];
        # both the partial and final HashAggregate must be inside a span
        assert "codegen id" in p and "partial_sum" in p
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")


def test_merge_reads_only_touched_buckets(spark, tmp_table_dir):
    """The engine-level pruning: a one-key batch must read only the files of
    that key's bucket, not the whole table (manifest-level skipping)."""
    import os

    from pyspark.sql import types as T

    from etl_api_bigquery_spark.lake import LakeTable
    from etl_api_bigquery_spark.lake.merge import merge_cdc_batch

    schema = T.StructType([T.StructField(c, T.StringType())
                           for c in ("repo", "path", "content")])
    t = LakeTable.create(spark, os.path.join(tmp_table_dir, "t"), schema,
                         key_cols=["repo", "path"], num_buckets=16)
    base = spark.range(2000).select(
        F.concat(F.lit("r"), (F.col("id") % 7).cast("string")).alias("repo"),
        F.concat(F.lit("p"), F.col("id").cast("string")).alias("path"),
        F.lit("v0").alias("content"))
    t.append(base)
    total_rows = t.snapshot().num_rows

    one_key = spark.createDataFrame(
        [(1, 0, "U", "r1", "p1", "v1")],
        ["lsn", "epoch", "op", "repo", "path", "content"])
    m = merge_cdc_batch(t, one_key, batch_id=0, txn_app="prune")
    assert m.buckets_touched == 1
    # read amplification bounded by one bucket, not the table
    assert m.target_rows_read < total_rows / 4
    assert t.read().filter("path = 'p1'").collect()[0].content == "v1"


def test_lsm_key_lookup_is_one_pushed_scan(spark, tmp_table_dir):
    """A bucket-pruned key lookup on an unfolded raw (LSM) table plans as one
    parquet scan per schema id, with no empty in-memory side relation, and
    its key predicates pass the LWW window down to the scan."""
    import re

    from pyspark.sql import types as T

    from etl_api_bigquery_spark.cdc import change_feed
    from etl_api_bigquery_spark.lake import LakeTable
    from etl_api_bigquery_spark.lake.merge import merge_cdc_batch

    schema = T.StructType([T.StructField(c, T.StringType()) for c in
                           ("repo", "path", "commit", "lang", "content")])
    t = LakeTable.create(spark, tmp_table_dir + "/t", schema,
                         key_cols=["repo", "path"], num_buckets=4)
    feed = change_feed(spark, n_events=2000, n_keys=100, n_epochs=4)
    for e in range(4):
        merge_cdc_batch(t, feed.filter(F.col("epoch") == e), e, "plan",
                        auto_compact_deltas=10**6, l0_groups=1)
    key = feed.select("repo", "path").first()
    b = (spark.createDataFrame([key], "repo string, path string")
         .select(t.bucket_expr().alias("b")).first().b)
    assert t.bucket_read_amplification()[b] >= 4
    df = (t.read(buckets=[b])
          .filter((F.col("repo") == key.repo) & (F.col("path") == key.path)))
    p = plan_of(df)
    sids = {e.schema_id for e in t.snapshot().files_for_buckets([b])}
    assert len(re.findall(r"^\(\d+\) Scan parquet", p, re.M)) == len(sids)
    assert "ExistingRDD" not in p
    pushed = [ln for ln in p.splitlines() if "PushedFilters" in ln]
    assert pushed and all(f"EqualTo(repo,{key.repo})" in ln
                          and f"EqualTo(path,{key.path})" in ln
                          for ln in pushed)


def test_prefilter_write_shuffle_budget(spark, tmp_table_dir):
    """A prefiltered append (``merge_cdc_batch(prefilter=True)``) pays
    exactly one NARROW (keys, lsn) exchange with map-side partial_max and one
    broadcast of the winner tokens; no full-row exchange. Regression guard
    for the shuffle budget documented in README 'Scale design'."""
    from pyspark.sql import types as T

    from etl_api_bigquery_spark.cdc import change_feed
    from etl_api_bigquery_spark.lake import LakeTable
    from etl_api_bigquery_spark.lake.merge import lww_prefilter
    from etl_api_bigquery_spark.plans.inspect import (count_exchanges,
                                                      executed_plan_text)

    schema = T.StructType([T.StructField(c, T.StringType()) for c in
                           ("repo", "path", "commit", "lang", "content")])
    t = LakeTable.create(spark, tmp_table_dir + "/t", schema,
                         key_cols=["repo", "path"], num_buckets=16)
    ev = change_feed(spark, n_events=20_000, n_keys=2_000, n_epochs=2)
    # the frame the L0 write writes: the table's layout projection
    delta, part = t._layout(lww_prefilter(ev, ["repo", "path"]),
                            t.snapshot().schema, "delta", bucket_groups=4)
    assert part == "_bgrp"
    plan = executed_plan_text(delta)
    assert count_exchanges(delta) == 1
    assert plan.count("BroadcastExchange") == 1
    # the one hash exchange is fed by the narrow partial aggregate
    lines = plan.splitlines()
    ex = next(i for i, ln in enumerate(lines)
              if "Exchange hashpartitioning" in ln)
    assert "partial_max" in lines[ex + 1]


def test_near_dup_lsh_has_no_cartesian(spark):
    """The default (scale-path) near_dup_pairs must be a banded bucket join —
    no CartesianProduct / BroadcastNestedLoopJoin in the physical plan."""
    from etl_api_bigquery_spark.operators.similarity import near_dup_pairs
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    plan = near_dup_pairs(emb, threshold=0.5)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    brute = near_dup_pairs(emb, threshold=0.5, method="brute")._jdf \
        .queryExecution().executedPlan().toString()
    assert ("CartesianProduct" in brute) or ("NestedLoop" in brute)
