"""Scans for the driver-generated star schema (TESTDATA.md).

Analog of the reference's sources (SURVEY.md §2.1: S1 JSON bulk scan,
S2 pickle adsorbate scan — `catlas/load_bulk_structures.py:19-40`,
`catlas/load_adsorbate_structures.py:10-39`) re-expressed as lazy
columnar parquet scans: Catalyst pushes filters and prunes columns into
the scan for free, which the reference's eager driver-side loads cannot.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

STAR_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def load_table(spark: SparkSession, name: str, sf_dir: str = DEFAULT_SF_DIR) -> DataFrame:
    """Lazy parquet scan of one star-schema table."""
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def load_star(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> dict[str, DataFrame]:
    """All star tables as a dict of lazy DataFrames."""
    return {t: load_table(spark, t, sf_dir) for t in STAR_TABLES}


def load_pickled_dataframe(spark: SparkSession, path: str) -> DataFrame:
    """S7 pickled-pandas-DataFrame scan (reference
    `catlas/parity/parity_utils.py:281-287`, `bin/optimize_frame.py:56-58`:
    per-model validation DataFrames shipped as .pkl).

    Legacy-ingest path only: the pickle is read on the driver (these
    files are small, one per model id) and distributed via
    ``createDataFrame`` — new data should land as parquet so the scan
    stays lazy and distributed. For DIRECTORIES of frames use the
    Spark-4 Python Data Source (``sources/pydatasource.
    PickleDataFrameSource``): executor-side IO, one task per file."""
    import pandas as pd

    pdf = pd.read_pickle(path)
    # stable column order; object columns with None stay nullable strings
    return spark.createDataFrame(pdf)


def read_json_robust(
    spark: SparkSession,
    path: str,
    schema: str,
    mode: str = "PERMISSIVE",
    corrupt_col: str = "_corrupt_record",
) -> DataFrame:
    """Schema-enforced JSON-lines ingestion with explicit bad-record
    policy — at 100 TB some fraction of a raw crawl is ALWAYS malformed,
    and the failure policy must be a declared choice, not an accident:

    - PERMISSIVE (default): parse what parses; a malformed line lands
      whole in ``corrupt_col`` with every data field null, so bad input
      is quarantined by a `WHERE corrupt_col IS NOT NULL` filter and the
      pipeline keeps its throughput (the reference's bulk JSON ingest,
      catlas/load_bulk_structures.py:14-38, has no bad-record story —
      one broken line fails the partition).
    - DROPMALFORMED: silently discard bad lines (count them from the
      PERMISSIVE read if you drop them, or the loss is invisible).
    - FAILFAST: abort the job on first malformed line — for curated
      inputs where corruption means upstream breakage.

    An EXPLICIT schema is required: schema inference would scan the
    data twice and silently widen types to cover corrupt rows.
    """
    reader = (
        spark.read.schema(f"{schema}, {corrupt_col} STRING")
        .option("mode", mode)
        .option("columnNameOfCorruptRecord", corrupt_col)
    )
    return reader.json(path)
