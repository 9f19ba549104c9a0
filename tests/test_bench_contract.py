"""The engine names the benchmark harness reads. ``perfbench`` drives the
engine from outside: it wraps the ``LakeTable`` methods listed in
``perfbench/spans.py`` (``TABLE_METHODS``), echoes runner attributes as its
effective config (``effective_config`` in ``perfbench/run.py``) and takes
its per-layer write phases from each merge's ``m.extra["phases"]``. These
tests parse those two files (nothing in ``perfbench/`` is imported or run)
and fail if the engine drops a name the harness reads."""

import ast
import dataclasses
import os
import pathlib
import threading

from pyspark.sql import functions as F
from pyspark.sql import types as T

from etl_api_bigquery_spark.cdc import change_feed
from etl_api_bigquery_spark.lake import LakeTable
from etl_api_bigquery_spark.lake.merge import merge_cdc_batch
from etl_api_bigquery_spark.streaming import CdcStreamRunner

PERFBENCH = pathlib.Path(__file__).resolve().parent.parent / "perfbench"
WRITE_PHASES = ("write_job_s", "harvest_s", "commit_fsync_s")
SILVER = T.StructType([T.StructField(c, T.StringType())
                       for c in ("repo", "path", "commit", "lang", "content")])


def _tree(name):
    return ast.parse((PERFBENCH / name).read_text())


def table_methods():
    for node in ast.walk(_tree("spans.py")):
        if isinstance(node, ast.Assign) and any(
                isinstance(t, ast.Name) and t.id == "TABLE_METHODS"
                for t in node.targets):
            return ast.literal_eval(node.value)
    raise AssertionError("no TABLE_METHODS in perfbench/spans.py")


def runner_attrs():
    for node in ast.walk(_tree("run.py")):
        if isinstance(node, ast.FunctionDef) \
                and node.name == "effective_config":
            runner = node.args.args[0].arg
            return {n.attr for n in ast.walk(node)
                    if isinstance(n, ast.Attribute)
                    and isinstance(n.value, ast.Name)
                    and n.value.id == runner}
    raise AssertionError("no effective_config in perfbench/run.py")


def test_table_methods_perfbench_traces_exist():
    names = table_methods()
    assert "append_deltas" in names
    missing = [m for m in names if not callable(getattr(LakeTable, m, None))]
    assert not missing, f"LakeTable lacks {missing}"


def test_runner_attributes_perfbench_reports_exist():
    attrs = runner_attrs()
    assert {"mode", "l0_groups", "async_commit"} <= attrs
    fields = {f.name for f in dataclasses.fields(CdcStreamRunner)}
    assert attrs <= fields, f"CdcStreamRunner lacks {attrs - fields}"


def raw_table(spark, d):
    t = LakeTable.create(spark, os.path.join(d, "t"), SILVER,
                         key_cols=["repo", "path"], num_buckets=4)
    return t, change_feed(spark, n_events=4000, n_keys=200, n_epochs=2)


def test_raw_merge_phases_sync_and_async(spark, tmp_table_dir):
    t, feed = raw_table(spark, tmp_table_dir)
    for e, async_finalize in enumerate((False, True)):
        m = merge_cdc_batch(t, feed.filter(F.col("epoch") == e), e, "pb",
                            auto_compact_deltas=10**6,
                            l0_groups="auto", async_finalize=async_finalize)
        t.join_pending_commit()
        phases = m.extra["phases"]
        assert all(phases[k] >= 0 for k in WRITE_PHASES), phases
        assert phases["write_job_s"] > 0


def test_background_fold_keeps_foreground_phases(spark, tmp_table_dir):
    """A background fold writes, harvests and commits between a foreground
    raw batch's write job and its harvest; the batch's phases still describe
    its own files, not the fold's."""
    t, feed = raw_table(spark, tmp_table_dir)
    merge_cdc_batch(t, feed.filter(F.col("epoch") == 0), 0, "pb",
                    auto_compact_deltas=10**6, l0_groups=4)
    go = threading.Event()
    fold = t.compact_deltas

    def held_fold(**kw):
        go.wait(60)
        return fold(**kw)

    t.compact_deltas = held_fold
    fut = t.compact_deltas_async(range(4))
    harvest = t._harvest_entries

    def harvest_after_fold(abs_dir, rel_dir, schema_id, kind="base"):
        if kind == "delta":
            go.set()
            fut.result(timeout=120)        # the fold has committed
        return harvest(abs_dir, rel_dir, schema_id, kind)

    t._harvest_entries = harvest_after_fold
    m = merge_cdc_batch(t, feed.filter(F.col("epoch") == 1), 1, "pb",
                        auto_compact_deltas=10**6, l0_groups=4)
    t.join_maintenance()
    assert [h["action"] for h in t.history()][-2:] == ["compact_deltas",
                                                        "merge_mor"]
    phases = m.extra["phases"]
    own = t._read_doc(m.version)["adds"]
    folded = t._read_doc(m.version - 1)["adds"]
    assert (phases["n_files"], phases["out_bytes"]) == (
        len(own), sum(a["bytes"] for a in own))
    assert phases["out_bytes"] != sum(a["bytes"] for a in folded)
    assert all(k in phases for k in WRITE_PHASES)
