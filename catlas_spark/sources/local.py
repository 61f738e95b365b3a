"""Driver-side rows as a Spark frame that starts no Python at action time.

``spark.createDataFrame(<list of tuples>)`` parallelizes the rows as a
Python RDD (``Scan ExistingRDD``): every action on it — a broadcast of a
dimension table included — runs Python-worker tasks, one per
``defaultParallelism`` slice. Handed a ``pyarrow.Table`` instead, Spark
plans a ``LocalRelation`` (``LocalTableScan``): the rows live in the plan,
so scanning or broadcasting them runs JVM tasks only, no Python worker.
"""

from __future__ import annotations

from collections.abc import Sequence

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema


def local_frame(spark: SparkSession, rows: Sequence[tuple], schema: T.StructType) -> DataFrame:
    """``rows`` (tuples in ``schema``'s field order) as a ``LocalRelation``
    frame with exactly ``schema``, nullability included.

    Each column is converted with its field's Arrow type, so a value of
    the wrong type raises (``pyarrow.ArrowInvalid`` / ``ArrowTypeError``)
    and a NULL in a non-nullable field raises ``ValueError``, as
    ``createDataFrame``'s schema verifier did. A top-level ``TimestampType``
    field is converted by ``TimestampType.toInternal``, as
    ``createDataFrame`` converts it, so a naive ``datetime`` is local time
    (Arrow would read it as UTC).
    """
    arrow_schema = to_arrow_schema(schema)
    columns = list(zip(*rows)) if rows else [()] * len(schema.fields)
    arrays = []
    for values, field, arrow_type in zip(columns, schema.fields, arrow_schema.types):
        if isinstance(field.dataType, T.TimestampType):
            micros = [field.dataType.toInternal(v) for v in values]
            arrays.append(pa.array(micros, pa.int64()).cast(arrow_type))
        else:
            arrays.append(pa.array(values, type=arrow_type))
    return spark.createDataFrame(pa.Table.from_arrays(arrays, schema=arrow_schema), schema)
