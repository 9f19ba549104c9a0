"""The session's ``file:`` filesystem: ``ForkFreeLocalFileSystem`` sets
permissions in-process, so writes, folds and checkpoint logs exec no
``chmod``, while files, ``.crc`` sidecars and modes stay as Hadoop's stock
local filesystem makes them."""

import json
import os
import shutil
import stat
import subprocess
import sys

import pytest
from pyspark import SparkContext

from etl_api_bigquery_spark import session

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
HAS_JAVAC = session._javac() is not None


def _mode(p):
    return stat.S_IMODE(os.stat(p).st_mode)


@pytest.mark.skipif(not HAS_JAVAC, reason="no javac: stock filesystem")
def test_session_filesystem_sets_modes_in_process(spark, tmp_path):
    jvm = spark._jvm
    fs = jvm.org.apache.hadoop.fs.FileSystem.getLocal(
        spark.sparkContext._jsc.hadoopConfiguration())
    assert fs.getClass().getName() == session._FS_CLASS
    perm = jvm.org.apache.hadoop.fs.permission.FsPermission
    f, d, sticky = tmp_path / "f", tmp_path / "d", tmp_path / "sticky"
    f.write_text("x")
    d.mkdir()
    sticky.mkdir()
    fs.setPermission(jvm.org.apache.hadoop.fs.Path(str(f)), perm("640"))
    fs.setPermission(jvm.org.apache.hadoop.fs.Path(str(d)), perm("750"))
    # the sticky bit takes Hadoop's stock call
    fs.setPermission(jvm.org.apache.hadoop.fs.Path(str(sticky)), perm("1777"))
    assert (_mode(f), _mode(d), _mode(sticky)) == (0o640, 0o750, 0o1777)
    # the rename of the file: filesystem it replaces keeps an existing file
    src, dst = tmp_path / "src", tmp_path / "dst"
    src.write_text("new")
    dst.write_text("old")
    assert not fs.rename(jvm.org.apache.hadoop.fs.Path(str(src)),
                         jvm.org.apache.hadoop.fs.Path(str(dst)))
    assert dst.read_text() == "old"


@pytest.mark.skipif(not HAS_JAVAC, reason="no javac: stock filesystem")
def test_classes_compile_once_into_the_cache(tmp_path, monkeypatch):
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path))
    first = session._fork_free_fs_classpath()
    assert first is not None and first.startswith(str(tmp_path))
    assert os.path.isfile(os.path.join(
        first, "etl_api_bigquery_spark", "jvm", "ForkFreeLocalFileSystem.class"))

    def no_javac(*a, **kw):
        raise AssertionError("recompiled a cached class")

    monkeypatch.setattr(session.subprocess, "run", no_javac)
    assert session._fork_free_fs_classpath() == first
    # only the published directory is left: no build leftovers
    assert os.listdir(os.path.dirname(first)) == [os.path.basename(first)]


def test_stock_filesystem_without_javac_or_local_master(tmp_path, monkeypatch):
    """No JVM is started: the conf is worked out as for a first session."""
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "cache"))
    monkeypatch.setenv("PATH", str(tmp_path))
    monkeypatch.delenv("JAVA_HOME", raising=False)
    monkeypatch.setattr(SparkContext, "_jvm", None)
    assert session._fork_free_fs_classpath() is None
    assert session._fork_free_fs_conf("local[2]", {}) == {}
    for master in ("spark://h:7077", "local-cluster[2,1,1024]", "yarn"):
        assert session._fork_free_fs_conf(master, {}) == {}
    own = {"spark.hadoop.fs.file.impl": "org.apache.hadoop.fs.LocalFileSystem"}
    assert session._fork_free_fs_conf("local[2]", own) == {}


_FRESH_JVM = r"""
import json, os, sys
sys.path.insert(0, sys.argv[1])
work = sys.argv[2]
os.umask(0o022)
from pyspark.sql import types as T
from etl_api_bigquery_spark.session import get_spark
from etl_api_bigquery_spark.cdc import change_feed, expected_final_state
from etl_api_bigquery_spark.cdc.generator import write_feed_as_epoch_files
from etl_api_bigquery_spark.cdc.oracle import assert_replay_match
from etl_api_bigquery_spark.lake import LakeTable
from etl_api_bigquery_spark.streaming import CdcStreamRunner

spark = get_spark(app_name="fork-free", master="local[2]", shuffle_partitions=2)
spark.sparkContext.setLogLevel("ERROR")
feed = change_feed(spark, n_events=3000, n_keys=200, n_epochs=3).cache()
write_feed_as_epoch_files(feed, os.path.join(work, "feed"))
schema = T.StructType([T.StructField(c, T.StringType())
                       for c in ("repo", "path", "commit", "lang", "content")])
t = LakeTable.create(spark, os.path.join(work, "t"), schema,
                     key_cols=["repo", "path"], num_buckets=8)
runs = CdcStreamRunner(spark, t, os.path.join(work, "feed"),
                       os.path.join(work, "ckpt"), txn_app="ff").run_available_now()
docs = [json.load(open(os.path.join(work, "t", "_log", f)))
        for f in sorted(os.listdir(os.path.join(work, "t", "_log")))
        if f.endswith(".json")]
l0_groups = [d["properties"]["l0_groups"] for d in docs
             if d["action"] == "merge_mor"]
t.compact_deltas(buckets=range(8))
removed = t.vacuum(keep_versions=1)
assert_replay_match(t.read(), expected_final_state(feed))
modes = {}
for top in (os.path.join(work, "t", "data"), os.path.join(work, "ckpt")):
    for d, _, fs in os.walk(top):
        modes[d] = oct(os.stat(d).st_mode & 0o7777)
        for f in fs:
            p = os.path.join(d, f)
            modes[p] = oct(os.stat(p).st_mode & 0o7777)
print("RESULT " + json.dumps({
    "triggers": len(runs), "l0_groups": l0_groups, "removed": removed,
    "chmod": open(os.environ["CHMOD_LOG"]).read().splitlines(), "modes": modes,
    "class_path": spark._jvm.java.lang.System.getProperty("java.class.path"),
    "fs": spark._jvm.org.apache.hadoop.fs.FileSystem.getLocal(
        spark.sparkContext._jsc.hadoopConfiguration()).getClass().getName(),
}))
"""


@pytest.mark.skipif(not HAS_JAVAC, reason="no javac: stock filesystem")
def test_fresh_jvm_drain_fold_vacuum_exec_no_chmod(tmp_path):
    """A fresh JVM from get_spark, with a PATH shim that logs every chmod
    exec and a user class path entry: the session, a feed write, a 3-trigger
    raw drain (the first bucket-pure), a fold and a vacuum exec no chmod, the user's entry stays on the class path, and
    files and dirs get the modes the stock filesystem gives them."""
    shim, user_cp, work = tmp_path / "shim", tmp_path / "user-cp", tmp_path / "w"
    for d in (shim, user_cp, work):
        d.mkdir()
    log = tmp_path / "chmod.log"
    log.touch()
    (shim / "chmod").write_text(
        f'#!/bin/sh\necho "$*" >> "$CHMOD_LOG"\nexec {shutil.which("chmod")} "$@"\n')
    (shim / "chmod").chmod(0o755)
    env = dict(os.environ, PATH=f"{shim}{os.pathsep}{os.environ['PATH']}",
               CHMOD_LOG=str(log), XDG_CACHE_HOME=str(tmp_path / "cache"),
               SPARK_DRIVER_MEMORY="1g",
               SPARK_EXTRA_CONF=f"spark.driver.extraClassPath={user_cp}")
    run = subprocess.run([sys.executable, "-c", _FRESH_JVM, ROOT, str(work)],
                         env=env, capture_output=True, text=True, timeout=600)
    lines = [ln for ln in run.stdout.splitlines() if ln.startswith("RESULT ")]
    assert run.returncode == 0 and lines, run.stderr[-4000:]
    res = json.loads(lines[-1][len("RESULT "):])
    assert res["fs"] == session._FS_CLASS
    assert res["triggers"] == 3 and res["removed"] > 0
    assert len(res["l0_groups"]) == 3 and res["l0_groups"][0] == 8
    assert res["chmod"] == []
    class_path = [p.rstrip("/") for p in res["class_path"].split(os.pathsep)]
    assert str(user_cp) in class_path
    assert any(p.startswith(str(tmp_path / "cache")) for p in class_path)
    want = {True: oct(0o777 & ~0o022), False: oct(0o666 & ~0o022)}
    bad = {p: m for p, m in res["modes"].items() if m != want[os.path.isdir(p)]}
    assert res["modes"] and not bad
