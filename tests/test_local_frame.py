"""Driver-side rows reach Spark as a ``LocalRelation`` through one helper,
``sources.local.local_frame``: a scan or broadcast of them runs no Python
worker, where ``createDataFrame(<list>)`` plans a Python RDD
(``Scan ExistingRDD``) whose every action starts Python tasks."""

from __future__ import annotations

import ast
import datetime
import json
import time
from pathlib import Path

import pyarrow as pa
import pytest
from pyspark.sql import types as T

from catlas_spark.operators.dedup import connected_components
from catlas_spark.operators.graph import triangle_participation
from catlas_spark.operators.tokenize import bpe_train
from catlas_spark.sources import fixtures

PACKAGE = Path(__file__).resolve().parent.parent / "catlas_spark"


def test_create_dataframe_is_called_only_by_local_frame():
    """An AST scan of ``catlas_spark/``: every ``createDataFrame(`` call
    sits inside ``local_frame``."""
    calls = []
    for path in sorted(PACKAGE.rglob("*.py")):
        for stmt in ast.parse(path.read_text()).body:
            owner = getattr(stmt, "name", None)
            for n in ast.walk(stmt):
                if (
                    isinstance(n, ast.Call)
                    and getattr(n.func, "attr", getattr(n.func, "id", None)) == "createDataFrame"
                ):
                    calls.append((path.relative_to(PACKAGE).as_posix(), owner, n.lineno))
    outside = [c for c in calls if c[:2] != ("sources/local.py", "local_frame")]
    assert not outside, f"createDataFrame outside local_frame: {outside}"
    assert calls, "the scan found no createDataFrame call at all"


def _executed_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _assert_local(df) -> None:
    df.collect()
    plan = _executed_plan(df)
    assert "LocalTableScan" in plan, plan
    assert "ExistingRDD" not in plan, plan


def test_fixture_and_driver_regime_outputs_are_local_relations(spark):
    _assert_local(fixtures.make_adsorbates(spark))
    pairs = spark.sql("SELECT * FROM VALUES (1L, 2L), (2L, 3L), (5L, 6L) AS t(id_a, id_b)")
    _assert_local(connected_components(pairs, driver_max_edges=100))
    edges = spark.sql(
        "SELECT * FROM VALUES (1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L) AS t(x, y)"
    )
    _assert_local(triangle_participation(edges, driver_max_edges=100))
    words = spark.sql("SELECT * FROM VALUES ('abab', 3L), ('abc', 2L) AS t(word, cnt)")
    _assert_local(bpe_train(words, n_merges=2, driver_max_vocab=100))


def test_local_frame_keeps_the_schema_and_verifies_values(spark):
    from catlas_spark.sources.local import local_frame

    schema = T.StructType(
        [
            T.StructField("k", T.StringType(), False),
            T.StructField("n", T.IntegerType(), True),
            T.StructField("xs", T.ArrayType(T.DoubleType(), False), True),
            T.StructField("b", T.BinaryType(), True),
            T.StructField("s", T.StructType([T.StructField("a", T.LongType(), False)]), True),
            T.StructField("m", T.MapType(T.StringType(), T.LongType(), True), True),
        ]
    )
    rows = [("a", 1, [0.5, 1.5], b"\x00", (7,), {"x": 1}), ("b", None, None, None, None, None)]
    df = local_frame(spark, rows, schema)
    assert df.schema == schema
    assert T.StructType.fromJson(json.loads(df._jdf.schema().json())) == schema
    assert [tuple(r) for r in df.collect()] == [
        ("a", 1, [0.5, 1.5], bytearray(b"\x00"), (7,), {"x": 1}),
        ("b", None, None, None, None, None),
    ]
    assert local_frame(spark, [], schema).schema == schema
    assert local_frame(spark, [], schema).count() == 0
    with pytest.raises((pa.ArrowInvalid, pa.ArrowTypeError)):
        local_frame(spark, [("a", "not an int", None, None, None, None)], schema)
    with pytest.raises(ValueError):
        local_frame(spark, [(None, 1, None, None, None, None)], schema)


def test_local_frame_reads_naive_timestamps_as_local_time(spark, monkeypatch):
    """As ``createDataFrame`` does: a naive ``datetime`` is local time, so
    it round-trips in a process whose time zone is not UTC."""
    from catlas_spark.sources.local import local_frame

    schema = T.StructType([T.StructField("t", T.TimestampType(), True)])
    ts = datetime.datetime(2020, 1, 2, 3, 4, 5)
    monkeypatch.setenv("TZ", "America/New_York")
    time.tzset()
    try:
        assert local_frame(spark, [(ts,), (None,)], schema).collect() == [(ts,), (None,)]
    finally:
        monkeypatch.undo()
        time.tzset()
