"""Resource-aware operator placement (reference P1/R8).

The reference annotates inference tasks with ``resources={'GPU': 1},
priority=10000000`` so only GPU workers run them
(`catlas/prediction_steps.py:319-342`) and protects the annotations from
the graph optimizer (P2). Spark's native equivalent is **stage-level
scheduling**: a ``ResourceProfile`` attached to the inference stage, so
on a heterogeneous cluster (GPU executor group + CPU executor group, the
reference's hybrid k8s layout) the expensive mapInArrow stage lands on
GPU executors only.

Stage-level scheduling needs dynamic allocation on YARN/k8s/standalone;
local[*] mode cannot re-provision executors, so `inference_profile`
returns None there and the pipeline runs CPU-only — the same
`gpu: true/false` split the reference carries per step
(`catlas/config_validation.py:275`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def gpu_available(spark: SparkSession) -> bool:
    master = spark.conf.get("spark.master", "local")
    if master.startswith("local"):
        return False
    return spark.conf.get("spark.executor.resource.gpu.amount", None) is not None


def inference_profile(spark: SparkSession):
    """ResourceProfile for the inference stage, or None when the cluster
    cannot satisfy it (local mode / no GPU executors)."""
    if not gpu_available(spark):
        return None
    from pyspark.resource import ResourceProfileBuilder, TaskResourceRequests

    reqs = TaskResourceRequests().cpus(1).resource("gpu", 1)
    return ResourceProfileBuilder().require(reqs).build


def map_with_profile(df: DataFrame, map_fn, schema, profile=None) -> DataFrame:
    """mapInArrow with an optional ResourceProfile pinning the stage to
    GPU executors (profile=None → plain mapInArrow, CPU path)."""
    if profile is None:
        return df.mapInArrow(map_fn, schema)
    return df.mapInArrow(map_fn, schema, profile=profile)
