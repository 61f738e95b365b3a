"""SparkSession factory.

Single place where engine-level physical knobs live so every entry point
(tests, bench, driver contract) gets the same tuned session.

Scale notes (100 TB discipline):
- AQE on: runtime coalesce, skew-join splitting, dynamic join strategy
  switch. At 1000 executors this is what turns a static 32-partition
  local plan into a properly sized cluster plan without code changes.
- ``spark.sql.shuffle.partitions`` is only the *initial* number; AQE
  coalesces down. On a real cluster set it ~2-3x total cores.
- Arrow enabled so every pandas_udf / mapInPandas stage is Arrow-batched
  (vectorized, not row-at-a-time pickling).
- Session timezone pinned to UTC so timestamp semantics match the
  DuckDB oracle and are cluster-invariant.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))



# The engine's broadcast threshold — ONE constant shared by the session
# builder and the registry's profile sessions (queries._execution_profile),
# so the two can never disagree (they did: the builder set 64MB but the
# registry restored a hardcoded 10MB after the first call, making 64MB
# dead code — every recorded bench pair ran at 10MB). Spark's default is kept because all
# plan evidence was gathered under it; dimension joins broadcast via
# explicit hints regardless. Tune per deployment at cluster scale.
AUTOBROADCAST_BYTES = 10 * 1024 * 1024

# Scan split size, shared by the session builder and the registry's
# profile sessions: the small benchmark files would each arrive as ONE
# 128MB-default split, so the cap lets scans parallelize. Raise it per
# deployment when inputs are many large files.
SPLIT_BYTES = 2 * 1024 * 1024

# Default driver heap: a quarter of physical RAM (the JVM's own default
# share), capped. The JVM grows its heap lazily up to -Xmx, so a cap
# above the machine's memory lets a long many-query session grow until
# the OS kills it; the rest of RAM is left for off-heap buffers, the code
# cache, the Python workers and the driver process's own work.
# SPARK_GRAFT_DRIVER_MEM overrides.
DRIVER_MEM_SHARE_OF_RAM = 0.25
DRIVER_MEM_CAP_GB = 48


def _default_driver_mem() -> str:
    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{max(1, min(DRIVER_MEM_CAP_GB, int(ram * DRIVER_MEM_SHARE_OF_RAM) >> 30))}g"


def get_spark(
    app_name: str = "catlas_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or reuse) the tuned SparkSession.

    If an active session already exists (e.g. the driver harness created
    one and calls ``entry(spark)``), we do NOT replace it — engine code
    must work with whatever session it is handed.
    """
    active = SparkSession.getActiveSession()
    if active is not None:
        return active

    n = cpus or DEFAULT_CPUS
    builder = (
        SparkSession.builder.master(f"local[{n}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or n))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM", _default_driver_mem()),
        )
        # the default 240MB JIT code cache churns under a many-query
        # session's generated-class volume (10k codegen cache entries
        # above) — flushed JIT code re-compiles mid-pass and shows up as
        # pass-to-pass spikes; 512MB holds the whole suite hot
        .config(
            "spark.driver.extraJavaOptions",
            os.environ.get(
                "SPARK_GRAFT_DRIVER_JAVA_OPTS",
                "-XX:ReservedCodeCacheSize=512m",
            ),
        )
        .config("spark.ui.enabled", "false")
        # reliable checkpoints (caching.pin under SPARK_GRAFT_CHECKPOINT_DIR)
        # are never deleted by default; iterative operators pin per round,
        # so a long session accumulates unbounded checkpoint data on the
        # shared store without this. Static core conf — must be set at
        # context create (ContextCleaner captures it at construction)
        .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(AUTOBROADCAST_BYTES))
        # static conf, must be set at session create: the generated-class
        # cache defaults to 100 entries, and a many-query session (171
        # registry queries x several WholeStageCodegen units each)
        # THRASHES it — every pass re-compiles nearly every plan.
        # Measured on a 55-query warm subset: 40 s -> 22 s. On a real
        # cluster the same setting keeps long-lived drivers from
        # recompiling hot plan shapes.
        .config("spark.sql.codegen.cache.maxEntries", "10000")
        .config("spark.sql.files.maxPartitionBytes", str(SPLIT_BYTES))
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
