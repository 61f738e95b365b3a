from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from catlas_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", cpus=8, shuffle_partitions=2)
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return "/root/testdata/sf0.001"


@pytest.fixture()
def event_confs(spark):
    """``spark`` with the confs the events readers need — a UTC session
    time zone, so NTZ wall clocks read as UTC instants, and NANOS
    parquet inferred as bigint — restored after the test."""
    confs = {
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.legacy.parquet.nanosAsLong": "true",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    yield spark
    for k, v in saved.items():
        if v is None:
            spark.conf.unset(k)
        else:
            spark.conf.set(k, v)
