"""SparkSession factory tuned for the KG-construction pipeline.

Design notes for cluster scale (the sandbox runs local[N], but every knob
below is chosen for a 1000-executor / 100 TB deployment):

* AQE on: runtime coalescing of small shuffle partitions and skew-join
  splitting cover the hot-domain skew the north rule calls out.
* Arrow on: every NLP kernel is a pandas UDF; Arrow batch transfer is the
  difference between "vectorized" and "10x slower".
* shuffle partitions default to 2x cores locally; on a real cluster this is
  set to ~2-3x total executor cores (or left to AQE's coalescing with a
  high initial value).

``get_spark`` only builds and configures the session; it runs no Spark
job. A fresh JVM's first queries pay its one-off codegen, class-loading
and JIT cost, and that cost stays with them. Synthetic warmup jobs only
moved it: measured on 4 vCPUs, a nine-job warmup made ``get_spark`` cost
30-36 CPU-s instead of 11-13, and the real inputs and first pass still
compiled their own plans, so whole-run set-up CPU did not fall.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

# Entries of the JVM-wide cache of compiled codegen classes. Spark's
# default (100) is below the engine's working set: measured on 4 vCPUs,
# one pass of MinHash dedup + a new and a repeat stream batch uses ~130
# distinct generated classes and one build_kg pass over 5k pages ~120,
# so at 100 entries every repeated pass recompiled 130-160 classes
# (CodegenMetrics compilation count). At 1000 a re-executed plan (the
# next micro-batch, the next pass) reuses its compiled classes: 0
# compilations from the second repeat on.
CODEGEN_CACHE_ENTRIES = 1000


def get_spark(
    app_name: str = "semrex-spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    cores = cores or DEFAULT_CPUS
    shuffle_partitions = shuffle_partitions or max(cores, 8)
    # Many-vCPU VMs suffer TLB-shootdown storms when the JVM spawns one GC
    # worker per vCPU (measured: 87% kernel time, 2x wall-clock at
    # local[32]); cap GC parallelism well below the task parallelism.
    gc_opts = "-XX:+UseG1GC -XX:ParallelGCThreads=8 -XX:ConcGCThreads=2"
    local_dir = None
    if os.path.isdir("/dev/shm"):
        local_dir = "/dev/shm/spark-local"
        os.makedirs(local_dir, exist_ok=True)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cores}]")
        .config("spark.driver.extraJavaOptions", gc_opts)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "20000")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
    )
    if local_dir:
        builder = builder.config("spark.local.dir", local_dir)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
