"""Structured Streaming surface over the events table.

New capability over the reference (it has no streaming data model —
SURVEY.md §1.2): watermarked tumbling-window aggregates and session
windows, written so the same transformations run on a readStream or a
batch DataFrame (the driver's events table doubles as the smoke source).

Scale notes: watermark bounds state; the window aggregate is a standard
partial-agg + state-store plan. At production scale the source is
Kafka/files and the sink is foreachBatch→parquet for exactly-once.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from catlas_spark.sources.events_io import normalize_ts, probe_ts_flavor, spark_ts_type


def events_schema(ts_type: T.DataType | None = None) -> T.StructType:
    """Events read schema; the ``ts`` field type is supplied per-file
    because the driver parquet's physical flavor changes between rounds
    (r1 NANOS, r3/r4 MICROS-NTZ — see sources/events_io.py)."""
    return T.StructType(
        [
            T.StructField("event_id", T.LongType(), True),
            T.StructField("ts", ts_type or T.TimestampNTZType(), True),
            T.StructField("user_id", T.LongType(), True),
            T.StructField("event_type", T.StringType(), True),
            T.StructField("value", T.DoubleType(), True),
            T.StructField("props", T.StringType(), True),
        ]
    )


# default-flavor schema kept for callers that build their own sources
EVENTS_SCHEMA = events_schema()


def read_event_stream(
    spark: SparkSession, dir_glob: str, flavor: str | None = None
) -> DataFrame:
    """File-source stream over events parquet. The footer is probed ONCE
    at stream construction (pyarrow, no data IO) and the schema + ``ts``
    normalization are derived from the file's actual logical type —
    NANOS, MICROS-NTZ, UTC-adjusted, and raw-int64 flavors all end as a
    session-TZ TimestampType column, so watermarks/windows see real
    event time (mirrors the batch _events).

    The stream reads under the session it is handed, whose confs it
    never writes. ``spark.sql.session.timeZone`` must be UTC there: an
    NTZ wall clock becomes an instant in the session time zone, and the
    oracle reads it as UTC. ``spark.sql.legacy.parquet.nanosAsLong`` is
    not needed: the explicit schema reads a NANOS file as bigint (only
    schema inference, as in the batch ``_events``, needs it). Every
    registry profile session (``queries._execution_profile``) sets both.

    The probe is construction-time ONLY: a source directory that starts
    EMPTY cannot be classified, and silently defaulting would read any
    later-arriving NANOS/int64 files against the wrong schema for the
    life of the query (r8 review) — so an empty source requires the
    caller to pass ``flavor`` explicitly (one of the events_io TS_*
    constants, the normal production bootstrap where the writer's
    flavor is known)."""
    if flavor is None:
        from ..sources.events_io import _first_parquet_file

        if _first_parquet_file(dir_glob) is None:
            raise ValueError(
                f"read_event_stream: no parquet file under {dir_glob!r} to "
                "probe the ts flavor from — pass flavor= explicitly when "
                "starting a stream on an empty source directory"
            )
        flavor = probe_ts_flavor(dir_glob)
    raw = spark.readStream.schema(events_schema(spark_ts_type(flavor))).parquet(dir_glob)
    return normalize_ts(raw, flavor)


def tumbling_counts(events: DataFrame, window: str = "1 hour", watermark: str = "2 hours") -> DataFrame:
    """Watermarked tumbling-window counts per event type. Works on both
    streaming and batch DataFrames (same plan shape)."""
    src = events.withWatermark("ts", watermark) if events.isStreaming else events
    return (
        src.groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 4).alias("total_value"))
        .select(
            F.col("w.start").alias("bucket_start"),
            "event_type",
            "n",
            "total_value",
        )
    )


def sessionized_stream(events: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """Session windows per user (native session_window — the streaming
    form of the batch lag+cumsum sessionization operator)."""
    src = events.withWatermark("ts", "2 hours") if events.isStreaming else events
    return (
        src.groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "user_id",
            "n_events",
        )
    )


def _smoke_checkpoint_dir(query_name: str) -> str | None:
    """Checkpoint root for the finite SMOKE runs (availableNow, memory
    sink): tmpfs when the host has it. The offset/commit WAL and state
    deltas are per-micro-batch file IO on the driver's checkpoint store
    — measured 0.15-0.2 s per short run on this host's ext4 /tmp vs
    /dev/shm. A finite smoke run's checkpoint is deleted on completion,
    so durability is irrelevant HERE; an unbounded production stream
    must checkpoint to durable shared storage (set explicitly by the
    caller), never to this path. Returns None when no tmpfs exists —
    the writeStream then uses Spark's default temp checkpoint."""
    import uuid

    root = os.environ.get("SPARK_GRAFT_STREAM_CKPT", "/dev/shm")
    if not os.path.isdir(root):
        return None
    return os.path.join(root, f"catlas_smoke_ckpt_{query_name}_{uuid.uuid4().hex[:8]}")


def run_batch_like_stream(
    stream_df: DataFrame,
    query_name: str,
    output_mode: str = "complete",
    state_partitions: int | None = None,
    no_data_batches: bool = True,
) -> DataFrame:
    """Drive a streaming query over the available files to completion
    (memory sink) and return the result as a batch DataFrame — the
    local smoke path for streaming operators. Aggregations use the
    default ``complete`` mode; stream-stream joins must pass ``append``
    (matches are emitted as they arrive; complete mode is unsupported).

    ``state_partitions`` overrides ``spark.sql.shuffle.partitions`` for
    THIS query (the stream pins it at start; restored after): the state
    store pays per-partition commit overhead every micro-batch, so a
    small finite source wants few state partitions (32 → 8 measured
    5.0 → 1.8 s on the interval join; 8 → 4 a further 2.3 → 1.8 s,
    flat below 4) while an unbounded production stream sizes it to
    expected state, not to this default.

    ``no_data_batches=False`` disables the trailing no-data micro-batch
    for THIS query (conf pinned at start; restored after). ONLY valid
    for queries whose output does not depend on watermark-triggered
    emission — an INNER stream-stream join emits matches as they
    arrive, so its trailing batch only evicts state that a finite
    availableNow run discards anyway (measured: identical output rows,
    one batch instead of two, ~0.65 s saved). Left-outer joins and
    append-mode aggregations MUST keep the default: their
    watermark-closed results flush in exactly that batch."""
    spark = stream_df.sparkSession
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    prev_nodata = spark.conf.get(
        "spark.sql.streaming.noDataMicroBatches.enabled", "true"
    )
    if state_partitions:
        spark.conf.set("spark.sql.shuffle.partitions", str(state_partitions))
    if not no_data_batches:
        spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    ckpt = _smoke_checkpoint_dir(query_name)
    try:
        writer = (
            stream_df.writeStream.outputMode(output_mode)
            .format("memory")
            .queryName(query_name)
            .trigger(availableNow=True)
        )
        if ckpt is not None:
            writer = writer.option("checkpointLocation", ckpt)
        q = writer.start()
        q.awaitTermination()
    finally:
        if state_partitions:
            spark.conf.set("spark.sql.shuffle.partitions", prev)
        if not no_data_batches:
            spark.conf.set(
                "spark.sql.streaming.noDataMicroBatches.enabled", prev_nodata
            )
        if ckpt is not None:
            import shutil

            shutil.rmtree(ckpt, ignore_errors=True)
    return spark.sql(f"SELECT * FROM {query_name}")


def dedup_stream(
    events: DataFrame,
    keys: list[str] | None = None,
    time_col: str = "ts",
    delay: str = "2 hours",
) -> DataFrame:
    """Streaming exact dedup with watermark-bounded state — the streaming
    form of the batch exact_dedup operator.

    Streaming uses ``dropDuplicatesWithinWatermark`` (r8, closing the
    review finding): plain ``dropDuplicates`` on a business key only
    evicts state when the event-time column is PART OF the dedup subset,
    so the old default keys=["event_id"] kept one state row per id
    forever — the opposite of this docstring's scale claim. The
    within-watermark form guarantees dedup of any duplicate arriving
    within ``delay`` of the first occurrence and evicts the key's state
    once the watermark passes it; a duplicate arriving later than that
    is indistinguishable from a new event under bounded state (any
    engine's exact streaming dedup makes the same trade). Batch frames
    keep the global dropDuplicates — no state to bound."""
    if events.isStreaming:
        return events.withWatermark(time_col, delay).dropDuplicatesWithinWatermark(
            keys or ["event_id"]
        )
    return events.dropDuplicates(keys or ["event_id"])


def click_purchase_join(events: DataFrame, horizon: str = "1 hour") -> DataFrame:
    """Stream-stream interval join: each purchase matched to the same
    user's clicks within the preceding ``horizon`` (state bounded by
    watermarks on BOTH sides — the canonical attribution join)."""
    clicks = events.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    )
    purchases = events.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
    )
    if events.isStreaming:
        clicks = clicks.withWatermark("click_ts", "2 hours")
        purchases = purchases.withWatermark("purchase_ts", "2 hours")
    cond = (
        (F.col("c_user") == F.col("p_user"))
        & (F.col("click_ts") <= F.col("purchase_ts"))
        & (F.col("click_ts") >= F.col("purchase_ts") - F.expr(f"INTERVAL {horizon}"))
    )
    return clicks.join(purchases, cond, "inner").select(
        "purchase_id", "click_id", F.col("p_user").alias("user_id")
    )


def hopping_counts(
    events: DataFrame, window: str = "2 hours", slide: str = "1 hour"
) -> DataFrame:
    """Watermarked HOPPING (sliding) window counts per event type — each
    event lands in window/slide overlapping windows (2 here), the shape
    behind moving-average dashboards. Works on both streaming and batch
    DataFrames (same plan; Spark expands the window assignment
    map-side, so state grows with windows retained, not with overlap)."""
    src = events.withWatermark("ts", "2 hours") if events.isStreaming else events
    return (
        src.groupBy(F.window("ts", window, slide).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
        .select(
            F.col("w.start").alias("bucket_start"),
            "event_type",
            "n",
            "total_value",
        )
    )
