"""Feed staging: a seeded change feed laid out as one streaming trigger per
file group, written before any clock starts.

The feed comes from ``cdc.generator.change_feed`` with its default skew (30%
hot-repo share, Zipf alpha 2.5, 8% deletes). Trigger ``t`` holds the
contiguous LSN slice ``[t*n/T, (t+1)*n/T)``, split into ``files_per_trigger``
files. Every file of trigger ``t`` gets modification time ``base + t``: the
file source admits files in modification-time order, so with
``maxFilesPerTrigger = files_per_trigger`` each trigger reads exactly one
slice, in LSN order, on every run.
"""

from __future__ import annotations

import glob
import os
import shutil
import time

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from etl_api_bigquery_spark.cdc import change_feed


def stage_feed(spark: SparkSession, out_dir: str, n_events: int,
               triggers: int, files_per_trigger: int, seed: int) -> dict:
    """Write the feed under ``out_dir``; return its file list and sizes."""
    feed = change_feed(spark, n_events=n_events,
                       n_keys=max(1_000, n_events // 10), seed=seed)
    feed = (feed
            .withColumn("_t", F.floor(F.col("lsn") * F.lit(triggers)
                                      / F.lit(n_events)).cast("int"))
            .withColumn("_f", F.pmod(F.col("lsn"),
                                     F.lit(files_per_trigger)).cast("int")))
    tmp = out_dir + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    (feed.repartition(triggers * files_per_trigger, "_t", "_f")
         .write.partitionBy("_t", "_f").parquet(tmp))
    os.makedirs(out_dir)
    base = int(time.time()) - triggers - 60
    files = []
    for t in range(triggers):
        for f in range(files_per_trigger):
            (part,) = glob.glob(os.path.join(tmp, f"_t={t}", f"_f={f}",
                                             "*.parquet"))
            dst = os.path.join(out_dir, f"t{t:05d}_f{f:02d}.parquet")
            os.replace(part, dst)
            os.utime(dst, (base + t, base + t))
            files.append(dst)
    shutil.rmtree(tmp)
    return {"dir": out_dir, "files": files, "triggers": triggers,
            "events": n_events,
            "bytes": sum(os.path.getsize(p) for p in files)}


def copy_head(feed: dict, out_dir: str, n_files: int) -> dict:
    """A throwaway feed: copies of ``feed``'s first ``n_files`` files, one
    trigger each."""
    os.makedirs(out_dir)
    base = int(time.time()) - n_files - 60
    files = []
    for t, src in enumerate(feed["files"][:n_files]):
        dst = os.path.join(out_dir, os.path.basename(src))
        shutil.copyfile(src, dst)
        os.utime(dst, (base + t, base + t))
        files.append(dst)
    return {"dir": out_dir, "files": files, "triggers": n_files}
