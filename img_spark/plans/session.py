"""SparkSession factory with the engine's scale-oriented defaults.

All joins/aggregations stay declarative so Catalyst gives us predicate
pushdown, column pruning and AQE skew handling for free (SURVEY.md §4.2);
the settings here only size the runtime.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def engine_defaults(builder, shuffle_partitions: int | None = None):
    """Apply the engine's runtime defaults to a SparkSession builder —
    WITHOUT touching the master, so a ``spark-submit``-launched job
    (job.py) keeps the cluster manager chosen on the submit command
    line while local tools pick their own."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    shuffle = shuffle_partitions or int(os.environ.get("IMG_SPARK_SHUFFLE", cpus))
    return (
        builder
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # respect the advisory partition size instead of maximizing
        # parallelism (the Spark-documented recommendation): small
        # shuffles coalesce to few real tasks — measured −11% on the
        # crawl loop's per-generation fixed overhead at the bench
        # fixture — while large shuffles still split by size, so
        # nothing changes at the 100-TB end
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst",
                "false")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # the generated-class cache defaults to 100 entries; one crawl
        # generation alone plans ~50 codegen units and the bench
        # session cycles hundreds across its queries, so the LRU
        # thrashes and Janino recompiles identical code every
        # generation (measured: ~50 compiles x ~17 ms per generation
        # at the crawl fixture, dropping to 12 with the cache sized
        # up; steady-state generation wall 3.5-4.2 s -> 3.0-3.2 s).
        # Scale-neutral: a bounded driver/executor-JVM class cache —
        # a few MB — with identical semantics at any data size.
        .config("spark.sql.codegen.cache.maxEntries", "10000")
        # PySpark 4's DataFrame debugging wraps every pyspark.sql.functions
        # call and Column method: an active-session lookup, a conf read,
        # a Python stack walk and a PySparkCurrentOrigin set/clear pair
        # over py4j, all to put the Python call site into error messages
        # (errors still raise with Spark's own text without it). Measured
        # on a 4-vCPU VM, local[2]: one warm curate_corpus build went
        # from ~10,500 py4j round trips to ~4,900 and its driver time
        # before the first job from 1.85 s to 1.29 s; a crawl_table
        # generation from 1,628 to 1,302 round trips. PySpark caches the
        # value for the process on first read, so it must be set here,
        # on the builder: a spark.conf.set after start-up has no effect.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # html blobs dominate bytes; keep Arrow batches modest so a batch of
        # pages fits comfortably in the Python worker (SURVEY.md §7.8).
        # Round-5 sweep on the 772k-page corpus at local[32], 3 reps each:
        # 10000→~52k urls/s, 4096→~54k, 2048→~68k, 1024→~65k (and 2048
        # beats 10000 ~27.1k vs ~23.6k at local[8]) — ~6 MB of html per
        # batch pipelines the Arrow transfer against the parse kernel
        # without the memory pressure of 30 MB default-sized batches
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .config("spark.sql.files.maxPartitionBytes", "128m")
        .config("spark.driver.memory", os.environ.get("IMG_SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )


def get_spark(
    app: str = "img-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    b = engine_defaults(
        SparkSession.builder.appName(app).master(master), shuffle_partitions
    )
    return b.getOrCreate()
