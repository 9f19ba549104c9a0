"""SparkSession factory with scale-oriented defaults.

The reference runs single-threaded CPython and delegates all relational work to
BigQuery (SURVEY.md §3: "everything driver-side is single-threaded sequential
Python"). Here the session itself is the engine, so the defaults matter:

* AQE on (runtime coalesce + skew-join splitting) — our answer to the
  reference's reliance on BigQuery's adaptive execution.
* Arrow enabled for the few pandas-UDF paths (vectorized, never per-row).
* shuffle partitions sized for local[32] test runs; override for clusters.
* streaming checkpoint logs (offsets/, commits/, sources/) written through
  Spark's FileSystem-based checkpoint manager instead of the FileContext
  default, which shells out to chmod/stat per log file on a local
  filesystem without libhadoop; same files, same temp-file-and-rename.
* on a local master, ``file:`` is ``ForkFreeLocalFileSystem`` (Java source in
  ``jvm/``, compiled once with the JDK's ``javac`` into a per-user cache):
  Hadoop's ``LocalFileSystem`` with ``setPermission`` done through java.nio.
  Without libhadoop (a pip-installed PySpark never ships it) the stock one
  execs ``chmod`` for every mkdir and file create: 7 execs for a one-task,
  one-file L0 write, 53 for a bucket-pure write of 16 buckets, 62 for a
  16-bucket fold and 6 per trigger for the checkpoint logs; this one execs
  none. Same files, same ``.crc`` sidecars, same modes. Without ``javac``,
  or on a non-local master (executors in other JVMs), the stock filesystem
  stays.
"""

from __future__ import annotations

import glob
import hashlib
import os
import shutil
import subprocess
import tempfile
import warnings

from py4j.protocol import Py4JJavaError
from pyspark import SparkContext
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import SparkSession

_FS_CLASS = "etl_api_bigquery_spark.jvm.ForkFreeLocalFileSystem"
_FS_SOURCE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "jvm",
                          "ForkFreeLocalFileSystem.java")


def get_spark(
    app_name: str = "etl-api-bigquery-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's tuned defaults."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or os.environ.get("SPARK_MASTER", f"local[{cpus}]")
    shuffle = str(shuffle_partitions or os.environ.get("SPARK_SHUFFLE_PARTITIONS", cpus))

    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", shuffle)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # ANSI off: bad casts yield NULL, matching the reference's
        # safe_int/safe_float semantics (one_office/components/loader.py:64-89).
        .config("spark.sql.ansi.enabled", "false")
        .config("spark.sql.parquet.compression.codec", "snappy")
        # zstd shuffle/broadcast codec: CDC payloads are string-heavy and
        # compress ~3x better than lz4, trading scalable CPU for scarce
        # memory/disk bandwidth — measured ~2x MERGE-apply throughput at 16
        # cores on the 8M-event/batch replay
        .config("spark.io.compression.codec", "zstd")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # PySpark 4's per-API-call user-stack capture (error-message call
        # sites) walks the Python stack on EVERY Column/DataFrame op — pure
        # driver-serial overhead (~30 ms per merge trigger measured); the
        # errors still carry the JVM-side context without it
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # checkpoint logs via FileSystem, not FileContext: on a local FS
        # without libhadoop (any pip-installed PySpark) the FileContext
        # manager forks chmod/stat for every log create and rename. Both
        # write a temp file and rename it into place, so the offsets/,
        # commits/ and sources/ files and their crash semantics are the same.
        # Measured (4-core host, local[4], perfbench lsm_read trigger
        # medians): walCommit 44 -> 11 ms, commitOffsets 44 -> 11 ms,
        # latestOffset 46 -> 10 ms; a no-op file-source trigger forks 60 -> 12
        .config("spark.sql.streaming.checkpointFileManagerClass",
                "org.apache.spark.sql.execution.streaming.checkpointing."
                "FileSystemBasedCheckpointFileManager")
    )
    # env-provided overrides, e.g. executor sizing for standalone-cluster
    # benches: SPARK_EXTRA_CONF="spark.executor.cores=4;spark.cores.max=16"
    user: dict[str, str] = {}
    env_extra = os.environ.get("SPARK_EXTRA_CONF", "")
    for pair in filter(None, env_extra.split(";")):
        k, _, v = pair.partition("=")
        user[k.strip()] = v.strip()
    user.update(extra_conf or {})
    # file: without a chmod exec per mkdir and create. Measured (4-core
    # host, local[4], PATH-shim exec log): chmod execs per one-task L0
    # write 7 -> 0, per 16-bucket bucket-pure write 53 -> 0, per 16-bucket
    # fold 62 -> 0, per trigger's checkpoint logs 6 -> 0
    user.update(_fork_free_fs_conf(master, user))
    for k, v in user.items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    if not master.startswith("local"):
        _ship_package(spark)
    return spark


def _fork_free_fs_conf(master: str, user: dict[str, str]) -> dict[str, str]:
    """The conf that makes ``file:`` the ``ForkFreeLocalFileSystem``, or {}
    to keep Hadoop's stock one.

    Only for local masters, where every task runs in the driver JVM, and
    only when the class can be on that JVM's class path: a JVM this process
    already runs must load it, and a JVM still to be launched gets the
    compiled classes appended to the user's ``spark.driver.extraClassPath``.
    A user's own ``fs.file.impl`` wins."""
    if not (master == "local" or master.startswith("local[")) \
            or "spark.hadoop.fs.file.impl" in user:
        return {}
    if SparkContext._jvm is not None:       # a running JVM's class path is fixed
        try:
            SparkContext._jvm.java.lang.Class.forName(_FS_CLASS)
        except Py4JJavaError:
            return {}
        return {"spark.hadoop.fs.file.impl": _FS_CLASS}
    # a JVM spark-submit started, or a class path the submit args replace
    if "PYSPARK_GATEWAY_PORT" in os.environ or \
            "--driver-class-path" in os.environ.get("PYSPARK_SUBMIT_ARGS", ""):
        return {}
    classes = _fork_free_fs_classpath()
    if classes is None:
        return {}
    cp = user.get("spark.driver.extraClassPath")
    return {"spark.driver.extraClassPath":
            f"{cp}{os.pathsep}{classes}" if cp else classes,
            "spark.hadoop.fs.file.impl": _FS_CLASS}


def _fork_free_fs_classpath() -> str | None:
    """Class directory of ``ForkFreeLocalFileSystem``, compiled on first use
    into ``$XDG_CACHE_HOME`` (default ``~/.cache``)
    ``/etl_api_bigquery_spark/jvm-<sha256 of the source>`` and published by
    an atomic rename; None when it is not cached and cannot be compiled."""
    with open(_FS_SOURCE, "rb") as fh:
        key = hashlib.sha256(fh.read()).hexdigest()[:16]
    root = os.path.join(os.environ.get("XDG_CACHE_HOME")
                        or os.path.expanduser("~/.cache"),
                        "etl_api_bigquery_spark")
    out = os.path.join(root, f"jvm-{key}")
    if os.path.isdir(out):
        return out
    javac = _javac()
    jars = glob.glob(os.path.join(_find_spark_home(), "jars",
                                  "hadoop-client-api-*.jar"))
    if javac is None or not jars:
        return None
    try:
        os.makedirs(root, exist_ok=True)
        tmp = tempfile.mkdtemp(prefix=".build-", dir=root)
    except OSError as e:
        warnings.warn(f"no cache for the fork-free local filesystem: {e}")
        return None
    try:
        # --release 17: class files any Spark 4 JVM (Java 17+) loads
        run = subprocess.run(
            [javac, "--release", "17", "-cp", jars[0], "-d", tmp, _FS_SOURCE],
            capture_output=True, text=True)
        if run.returncode != 0:
            warnings.warn("javac failed; keeping the stock local filesystem:\n"
                          + run.stderr)
            return None
        try:
            os.rename(tmp, out)
        except OSError:                     # another process published first
            pass
        return out if os.path.isdir(out) else None
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def _javac() -> str | None:
    """The JDK's javac: ``$JAVA_HOME/bin/javac``, else the one on PATH."""
    java_home = os.environ.get("JAVA_HOME")
    return (java_home and shutil.which(os.path.join(java_home, "bin", "javac"))
            or shutil.which("javac"))


def _ship_package(spark: SparkSession) -> None:
    """Self-ship this package to cluster executors (the spark-submit
    ``--py-files`` step, done programmatically). local[*] executors share the
    driver's interpreter, but standalone/YARN/K8s executor Python workers
    unpickle task closures in their OWN interpreter — and module-level
    functions a task closure references (a UDF's helpers, say) pickle BY
    REFERENCE, so the worker must be able to import the package.
    ``addPyFile`` ships the zip to every current executor AND to executors
    that join later, as they do under dynamic allocation."""
    import zipfile

    if getattr(spark, "_pkg_shipped", False):
        return
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    pkg_name = os.path.basename(pkg_dir)
    # rebuilt per driver process (cheap — a few hundred KB of source): a
    # cached zip keyed on anything weaker than full content can ship stale
    # code to executors after an edit, the worst kind of skew
    zpath = os.path.join(os.environ.get("TMPDIR", "/tmp"),
                         f"{pkg_name}-{os.getuid()}-{os.getpid()}.zip")
    tmp = f"{zpath}.partial"
    with zipfile.ZipFile(tmp, "w", zipfile.ZIP_DEFLATED) as zf:
        for root, _dirs, files in os.walk(pkg_dir):
            for fn in sorted(files):
                if fn.endswith(".py"):
                    full = os.path.join(root, fn)
                    rel = os.path.join(
                        pkg_name, os.path.relpath(full, pkg_dir))
                    zf.write(full, rel)
    os.replace(tmp, zpath)
    spark.sparkContext.addPyFile(zpath)
    spark._pkg_shipped = True
