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
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


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
    env_extra = os.environ.get("SPARK_EXTRA_CONF", "")
    for pair in filter(None, env_extra.split(";")):
        k, _, v = pair.partition("=")
        b = b.config(k.strip(), v.strip())
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    if not master.startswith("local"):
        _ship_package(spark)
    return spark


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
