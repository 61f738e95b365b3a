"""Sinks (SURVEY.md §2.2): partitioned parquet results, config snapshot,
console preview — with the reference's binary-payload projection drop.

The reference drops opaque-object columns at the sink by runtime type
scanning (P1, `catlas/filter_utils.py:349-391`); with explicit schemas
the same projection is a static ``drop`` of BinaryType columns.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame
from pyspark.sql import types as T


def binary_columns(df: DataFrame) -> list[str]:
    return [f.name for f in df.schema.fields if isinstance(f.dataType, T.BinaryType)]


def write_results(
    df: DataFrame,
    out_dir: str,
    partition_by: list[str] | None = None,
) -> None:
    """K1/K2 analog: partitioned parquet sink; opaque payloads dropped
    (static-schema version of the reference's runtime type scan)."""
    writer = df.drop(*binary_columns(df)).write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(os.path.join(out_dir, "results"))


def snapshot_config(config: dict, out_dir: str) -> None:
    """K3: dump the query config next to the outputs."""
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, "run_config.json"), "w") as f:
        json.dump(config, f, indent=2, default=str)


def console_preview(df: DataFrame, columns: list[str], n: int = 20) -> None:
    """K7: verbose console sink (catlas/prediction_steps.py:423-435)."""
    df.select(*columns).show(n, truncate=False)
