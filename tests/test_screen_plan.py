"""Guards on the screen's plan: its result (schema and rows) is pinned by a
fingerprint, its physical shape by a node count, its build cost by a
py4j command budget, and the inference model by its executor-singleton
contract (P5)."""

from __future__ import annotations

import hashlib
import json
import os
import threading

import cloudpickle
import pyarrow as pa
import pytest
from py4j.clientserver import ClientServerConnection
from pyspark.sql import functions as F

from catlas_spark import pipeline, sqltext
from catlas_spark.lineage import Lineage
from catlas_spark.pipeline import run_screen
from catlas_spark.run import load_config
from catlas_spark.sinks import binary_columns
from catlas_spark.sources import fixtures

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
GOLDEN = os.path.join(REPO, "tests", "screen_fingerprint.json")
# py4j commands one warm run_screen build may send (calls, reflection
# lookups, constructors; GC-timed object releases excluded). A Column
# built per expression node in Python costs several commands per node;
# a per-column withColumn chain or a Python-lambda higher-order function
# pushes the build back over this budget.
BUILD_COMMAND_BUDGET = 800


# Config shapes the example does not cover, each pinned by its own
# fingerprint: (example config, memo table path) -> config.
SHAPES = {
    # nuclearity with no inference step after it
    "nuclearity_without_steps": lambda c, memo: {**c, "adslab_prediction_steps": []},
    # nuclearity followed by a memoized inference step
    "nuclearity_then_memo": lambda c, memo: {
        **c,
        "adslab_prediction_steps": [
            {**c["adslab_prediction_steps"][0], "memo_table": memo},
            *c["adslab_prediction_steps"][1:],
        ],
    },
    # the example's steps without nuclearity
    "without_nuclearity": lambda c, memo: {**c, "enumerate_nuclearity": False},
}


def _screen(spark, monkeypatch, shape=None, memo=None):
    """run_screen over the example config (reshaped by ``SHAPES[shape]``)
    and a fixed fixture bulk set."""
    monkeypatch.delenv("SCREEN_MAX_MILLER", raising=False)
    config = load_config(os.path.join(REPO, "configs", "example_screen.yml"))
    if shape is not None:
        config = SHAPES[shape](config, memo)
    bulks = fixtures.make_bulks(spark, 60, seed=7)
    adsorbates = fixtures.make_adsorbates(spark)
    return lambda lineage=None: run_screen(spark, config, bulks, adsorbates, {}, lineage)


def fingerprint(df) -> dict:
    """The result's schema and a SHA-256 of its sorted rows, binary columns
    dropped as the sink drops them."""
    df = df.drop(*binary_columns(df))
    rows = sorted(json.dumps(r.asDict(recursive=True), sort_keys=True) for r in df.collect())
    return {
        "schema": json.loads(df.schema.json()),
        "rows": len(rows),
        "rows_sha256": hashlib.sha256("\n".join(rows).encode()).hexdigest(),
    }


def test_screen_fingerprint_unchanged(spark, monkeypatch):
    with open(GOLDEN) as f:
        golden = json.load(f)
    got = fingerprint(_screen(spark, monkeypatch)())
    assert got["schema"] == golden["schema"]
    assert got["rows"] == golden["rows"]
    assert got["rows_sha256"] == golden["rows_sha256"]


@pytest.mark.parametrize("shape", sorted(SHAPES))
def test_screen_shape_fingerprint_unchanged(spark, monkeypatch, tmp_path, shape):
    with open(GOLDEN) as f:
        golden = json.load(f)["shapes"][shape]
    got = fingerprint(_screen(spark, monkeypatch, shape, str(tmp_path / "memo"))())
    assert got == golden


def test_screen_plan_shape(spark, monkeypatch):
    """Two Python evaluations per op: nuclearity runs inside the first
    inference step's mapInArrow, and the F18 window (two hash exchanges)
    and the adsorbate broadcast stay as they are."""
    df = _screen(spark, monkeypatch)()
    out = df.drop(*binary_columns(df))
    out.collect()
    plan = out._jdf.queryExecution().executedPlan()
    if plan.nodeName() == "AdaptiveSparkPlan":
        plan = plan.executedPlan()  # the final plan only, not the initial one too
    text = plan.toString()
    assert text.count("MapInArrow") == 2
    assert text.count("Exchange hashpartitioning") == 2
    assert text.count("BroadcastExchange") == 1


def test_lineage_summary_raises_when_no_action_ran(spark, monkeypatch):
    """A screen whose action never ran has no counts: ``summary()`` names
    the unfilled stages instead of waiting for them forever."""
    lineage = Lineage()
    _screen(spark, monkeypatch)(lineage)
    raised: list[BaseException] = []

    def call():
        try:
            lineage.summary()
        except Exception as e:  # noqa: BLE001 - the test inspects it
            raised.append(e)

    worker = threading.Thread(target=call, daemon=True)
    worker.start()
    worker.join(timeout=5)
    assert not worker.is_alive(), "summary() still waiting after 5 s"
    assert len(raised) == 1 and isinstance(raised[0], RuntimeError)
    assert "bulks_in" in str(raised[0]) and "results" in str(raised[0])


def test_lineage_summary_after_each_consumption_shape(spark, monkeypatch, tmp_path):
    """``collect()`` on a projection, ``toPandas()`` and a parquet write
    each fill every counter: ``summary()`` then returns the same five
    stage counts after any of them."""
    build = _screen(spark, monkeypatch)
    consume = {
        "collect": lambda df: df.select("bulk_id", "adsorbate_smiles").collect(),
        "toPandas": lambda df: df.drop(*binary_columns(df)).toPandas(),
        "write": lambda df: df.drop(*binary_columns(df))
        .write.mode("overwrite")
        .parquet(str(tmp_path / "results")),
    }
    summaries = {}
    for shape, action in consume.items():
        lineage = Lineage()
        action(build(lineage))
        summaries[shape] = lineage.summary()
    counts = summaries["collect"]
    assert [s["stage"] for s in counts] == [
        "bulks_in",
        "bulks_filtered",
        "surfaces",
        "adslabs",
        "results",
    ]
    assert all(s["rows"] > 0 for s in counts)
    assert summaries["toPandas"] == counts and summaries["write"] == counts


def test_run_screen_build_py4j_commands(spark, monkeypatch):
    build = _screen(spark, monkeypatch)
    build()  # warm: first-use lookups are not the steady build cost
    sent: list[str] = []
    send = ClientServerConnection.send_command

    def counting(self, command):
        sent.append(command[:1])
        return send(self, command)

    monkeypatch.setattr(ClientServerConnection, "send_command", counting)
    build()
    monkeypatch.setattr(ClientServerConnection, "send_command", send)
    counted = sum(sent.count(kind) for kind in "cri")
    assert counted > 100, "the counter saw no py4j traffic"
    assert counted <= BUILD_COMMAND_BUDGET


def test_inference_model_is_a_worker_singleton(monkeypatch):
    """Every task unpickles the mapInArrow function anew; both copies
    must reach the one per-process model, not a model of their own."""
    seen = []
    predict = pipeline._SurrogateModel.predict

    def spy(self, seeds, counts):
        seen.append(self)
        return predict(self, seeds, counts)

    monkeypatch.setattr(pipeline._SurrogateModel, "predict", spy)
    monkeypatch.setattr(pipeline, "_MODEL_CACHE", {})
    blob = cloudpickle.dumps(pipeline._scorer((), "dE", "singleton-test", 64))
    batch = pa.RecordBatch.from_pydict(
        {"__seed": [11, 12], "config_ids": [[0, 1], [0]], "filter_reason": [None, None]},
        schema=pa.schema(
            [
                ("__seed", pa.int64()),
                ("config_ids", pa.list_(pa.int32())),
                ("filter_reason", pa.string()),
            ]
        ),
    )
    for _ in range(2):
        out = list(cloudpickle.loads(blob)(iter([batch])))
        assert [len(e) for e in out[0].column("dE").to_pylist()] == [2, 1]
    assert len(seen) == 2
    assert seen[0] is seen[1]


def test_sql_literals_round_trip_with_lit_types(spark):
    """The SQL text the screen builds keeps F.lit's literal types (a bare
    1.5 would parse as DECIMAL) and survives quotes and backslashes."""
    values = [0.1, -0.77, 1e-05, 3, 2**40, True, "it's", "back\\slash", "*H"]
    got = spark.range(1).select(
        *[F.expr(sqltext.lit(v)).alias(f"c{i}") for i, v in enumerate(values)]
    )
    want = spark.range(1).select(*[F.lit(v).alias(f"c{i}") for i, v in enumerate(values)])
    assert got.schema == want.schema
    assert got.first() == want.first() == tuple(values)
    name = "odd `label` 'x'"
    renamed = spark.range(1).select(F.col("id").alias(name))
    assert renamed.select(F.expr(sqltext.ident(name))).first()[0] == 0
