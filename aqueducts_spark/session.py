"""SparkSession defaults tuned for this engine.

The settings here are the scale-relevant ones:

* AQE on (runtime re-planning, skew-join splitting, partition
  coalescing) — the single biggest win for unpredictable data;
* broadcast threshold raised to 64 MB — every dimension table in a
  star-schema join should broadcast instead of shuffling the fact table;
* shuffle partitions default to cluster parallelism (overridable) with
  AQE coalescing them down when small;
* Arrow enabled for every Python boundary (pandas UDFs).
"""

from __future__ import annotations

import os
import re

from pyspark.sql import SparkSession

DEFAULT_CONFS = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.parquet.filterPushdown": "true",
    "spark.sql.parquet.aggregatePushdown": "true",
    "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
    "spark.sql.session.timeZone": "UTC",
    # read parquet TIMESTAMP(NANOS) (no native Spark type) as nanos-since-epoch
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # long pipelines generate many whole-stage-codegen methods; the JDK
    # default 240MB code cache overflows and churns recompilation
    # (measured 3-4x slowdowns on late stages; part of that class churn
    # was the codegen cache below thrashing). Only effective at JVM
    # launch — a no-op when attaching to an existing session.
    "spark.driver.extraJavaOptions": (
        "-XX:ReservedCodeCacheSize=1g -XX:+UseCodeCacheFlushing"
    ),
    # one text_curation run needs ~156 distinct generated sources; at
    # Spark's default of 100 entries the cyclic access defeats the LRU
    # and every warm run recompiled ~137 of them (Janino, then the JIT).
    # 1000 holds a whole pipeline's working set, so a long-lived
    # executor compiles each class once.  A static conf: only the JVM's
    # first session sets it.
    "spark.sql.codegen.cache.maxEntries": "1000",
}


def session_builder(app_name: str = "aqueducts_spark", master: str | None = None):
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "").strip()
    if master is None:
        master = f"local[{cpus}]" if cpus else "local[*]"
    builder = SparkSession.builder.appName(app_name).master(master)
    # size shuffle partitions from the DRIVER's cores only for LOCAL
    # masters — on a real cluster the driver's cpu_count says nothing
    # about cluster parallelism, and AQE only coalesces partitions down,
    # never splits them up, so a small fixed value would cap every
    # shuffle cluster-wide (Spark's own default / the cluster config
    # applies instead).  SPARK_GRAFT_CPUS='*' means all local cores:
    # a valid master but not a partition count.
    # 'local' / 'local[N]' / 'local[*]' only — NOT 'local-cluster[...]',
    # a simulated cluster whose executor cores the driver's cpu_count
    # says nothing about (the exact case this branch must avoid)
    if master == "local" or re.fullmatch(r"local\[[^\]]*\]", master):
        shuffle_parts = (
            cpus if cpus and cpus.isdigit() else str(os.cpu_count() or 8)
        )
        builder = builder.config("spark.sql.shuffle.partitions", shuffle_parts)
    for k, v in DEFAULT_CONFS.items():
        builder = builder.config(k, v)
    return builder


def get_spark(app_name: str = "aqueducts_spark", master: str | None = None) -> SparkSession:
    return session_builder(app_name, master).getOrCreate()
