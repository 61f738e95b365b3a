"""Persistent memo-table: incremental recompute across runs.

This is the Spark-first replacement for the reference's killer feature —
sharded-sqlite operator memoization (`sqlitedict_memoize`,
`catlas/cache_utils.py:137-218`; SURVEY.md §2.13/R4). Instead of a
per-call KV store wrapped around a Python function, expensive operator
results are keyed by a deterministic hash of explicit key columns + an
operator version string, stored in a parquet memo table, and reused via
a join:

    memoize(df) = (df ⋉ memo)  ∪  compute(df ⋲ memo) appended to memo

Key design points mapped from the reference:
- C3 func-identity hashing → explicit ``version`` string per operator
  implementation (bump to invalidate).
- C4 ignore-args → the key is an explicit column list, never the payload
  (hash content-describing columns, not pickled blobs).
- R11 idempotence → appends are deduplicated on read (max one row per
  key kept), so task retries / concurrent runs cannot poison results.

At scale the memo table is just another parquet dataset: the hit-join
is a shuffle (or broadcast when small). The reference's sqlite sharding
(`catlas/cache_utils.py:189-190`) has no counterpart: the table has one
flat layout.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

KEY_COL = "__memo_key"


# Internal key-DERIVATION schema tag, hashed into every key alongside the
# caller's version string. Bump it whenever the key construction itself
# changes (k2 = the round-6 null-indicator interleave): the tag makes the
# invalidation EXPLICIT — without it, a derivation change silently turns
# every pre-existing memo table into all-miss, full-recompute, and leaves
# permanently dead old-key rows.
# Deployments upgrading across a KEY_SCHEMA bump should DROP (or rebuild)
# their memo tables; the old rows are unreachable storage, not a
# correctness hazard.
KEY_SCHEMA = "k2"


def memo_key(key_cols: list[str], version: str) -> F.Column:
    """Deterministic 64-bit key: xxhash64 over key columns + the
    key-schema tag + the caller's version.

    Each column is preceded by its null indicator: xxhash64 SKIPS null
    inputs entirely, so without the marker the tuples (1, NULL) and
    (NULL, 1) hash identically and the memo would serve one row's
    cached result for a different key (verified collision). The
    boolean marker is never null, so null position always contributes.
    """
    cols: list[F.Column] = []
    for c in key_cols:
        cols += [F.col(c).isNull(), F.col(c)]
    return F.xxhash64(*cols, F.lit(f"{KEY_SCHEMA}:{version}"))


_SCHEMA_MARKER = "_key_schema"


def _check_schema_marker(path: str) -> None:
    """Persist/verify the key-schema tag alongside the table (ADVICE r7):
    a table written under an older KEY_SCHEMA is all-miss dead storage
    after an upgrade — detect it LOUDLY at lookup time instead of
    silently recomputing over it forever. The marker is written when the
    table is first touched under the current schema; a mismatch warns
    (the rows are unreachable, not wrong — dropping the table is the
    operator's documented upgrade step, not something a lookup should do
    destructively). Pre-marker tables can't be classified and stay
    silent."""
    marker = os.path.join(path, _SCHEMA_MARKER)
    if os.path.isfile(marker):
        with open(marker) as f:
            found = f.read().strip()
        if found != KEY_SCHEMA:
            import warnings

            warnings.warn(
                f"memo table {path} was written under key schema "
                f"{found!r} but this build derives keys under "
                f"{KEY_SCHEMA!r}: every lookup will miss and the old rows "
                "are unreclaimable dead storage — DROP or rebuild the "
                "table (see KEY_SCHEMA docs)",
                stacklevel=3,
            )
        return
    if os.path.isdir(path) and _memo_files(path):
        return  # pre-marker table: age unknown, cannot classify
    os.makedirs(path, exist_ok=True)
    with open(marker, "w") as f:
        f.write(KEY_SCHEMA)


def _memo_files(path: str) -> list[str]:
    """Pinned snapshot of the memo table: the explicit list of top-level
    part files currently on disk. Reading from this list (not the
    directory) freezes the scan — a later append to the same directory
    is invisible to any lazy plan built over this snapshot. This is the
    local-FS analog of a table-format snapshot id (Delta/Iceberg) on a
    real cluster. Files in subdirectories (a table an earlier build
    wrote hive-sharded) are not listed: such a table reads as all-miss,
    the same dead storage a KEY_SCHEMA bump leaves."""
    if not os.path.isdir(path):
        return []
    return sorted(
        os.path.join(path, f)
        for f in os.listdir(path)
        if f.endswith(".parquet") and not f.startswith((".", "_"))
    )


def _read_memo(spark: SparkSession, files: list[str]) -> DataFrame | None:
    if not files:
        return None
    memo = spark.read.parquet(*files)
    # idempotent reads: keep one row per key (appends may duplicate on
    # retry). Winner ordered by source FILE (r8 review): orderBy(KEY_COL)
    # — the partition key itself — was a no-op ordering, so concurrent
    # duplicate appends could serve DIFFERENT rows for the same key
    # across reads of the same snapshot (hit-join vs read-back). The
    # file list is pinned and sorted, so file-name order makes every
    # read of a snapshot deterministic (not first-write-wins — parquet
    # part names are not write-ordered — but stable, which is what the
    # "cannot poison results" claim needs).
    w = Window.partitionBy(KEY_COL).orderBy(F.input_file_name())
    return memo.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") == 1).drop(
        "__rn"
    )


def memoize(
    spark: SparkSession,
    df: DataFrame,
    key_cols: list[str],
    compute: Callable[[DataFrame], DataFrame],
    table_path: str,
    version: str = "v1",
    pin_input: bool = False,
) -> DataFrame:
    """Compute-once operator application.

    ``compute`` maps a keyed input DataFrame to the same rows + result
    columns. Rows whose key exists in the memo table are served from it;
    misses are computed, appended to the table, and unioned in.

    NOTE: materializes the miss partition (the append is an action) —
    this mirrors the reference, where the memo write happens inside the
    task itself (`catlas/cache_utils.py:155-166`).

    Snapshot consistency: both memo scans are pinned to explicit file
    lists. The hit/miss classification reads ONLY the part files that
    existed before the append, and the read-back of computed misses reads
    ONLY the files that exist after it. Without the pin, the lazy anti-join
    would re-list the directory at evaluation time — after the append —
    classify the just-computed misses as hits-in-memo, and return an
    inconsistent (miss-dropping) result.

    ``pin_input`` materializes the keyed input once (localCheckpoint /
    reliable checkpoint via ``caching.pin``): the keyed frame is
    otherwise re-evaluated by the compute append and both serving
    joins — up to 3 executions of ``df``'s lineage. Leave False when df
    is a plain scan (the common case, and an extra materialization would
    only add cost); set True when df is itself an expensive derived plan
    — the very input memoization targets.
    """
    _check_schema_marker(table_path)
    keyed = df.withColumn(KEY_COL, memo_key(key_cols, version))
    if pin_input:
        from .caching import pin

        keyed = pin(keyed)
    memo = _read_memo(spark, _memo_files(table_path))

    if memo is None:
        hits = None
        misses = keyed
    else:
        hits = keyed.join(memo, KEY_COL, "inner")
        misses = keyed.join(memo.select(KEY_COL), KEY_COL, "left_anti")

    # Write-then-read-back: the append below is the ONLY execution of the
    # compute plan. Misses are then served from the freshly persisted rows,
    # so the values returned are exactly the values persisted — a
    # nondeterministic `compute` cannot write one result and return another,
    # and the expensive plan never runs a second time at consumption.
    computed = compute(misses)
    result_cols = [c for c in computed.columns if c not in keyed.columns]
    computed.select(KEY_COL, *result_cols).write.mode("append").parquet(table_path)
    memo_after = _read_memo(spark, _memo_files(table_path))
    if memo_after is None:
        # a zero-row append writes no part files (empty input — e.g. an
        # empty micro-batch in the foreachBatch+memoize pattern) into a
        # table that has none yet: serve the (empty) computed frame
        miss_rows = computed.limit(0)
    else:
        miss_rows = misses.join(memo_after, KEY_COL, "inner")
    if hits is None:
        return miss_rows.drop(KEY_COL)
    return hits.drop(KEY_COL).unionByName(miss_rows.drop(KEY_COL))
