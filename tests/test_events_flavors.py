"""The events ``ts`` column's physical parquet flavor changes between
driver rounds (r1 NANOS, r3/r4 MICROS-NTZ). Both the batch scan
(queries._events) and the streaming source (read_event_stream) must
normalize EVERY flavor to the same UTC instants — these tests write one
file per flavor and drive both paths over each."""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from catlas_spark.sources import events_io

# one canonical set of instants (UTC), expressed as epoch micros
EPOCH_US = [1_704_067_200_000_000, 1_704_070_800_000_000, 1_704_074_400_000_000]
EXPECTED = {"2024-01-01 00:00:00", "2024-01-01 01:00:00", "2024-01-01 02:00:00"}

FLAVORS = {
    "ntz_micros": (pa.timestamp("us"), [u for u in EPOCH_US], events_io.TS_NTZ_MICROS),
    "tz_micros": (
        pa.timestamp("us", tz="UTC"),
        [u for u in EPOCH_US],
        events_io.TS_TZ_MICROS,
    ),
    "nanos": (pa.timestamp("ns"), [u * 1000 for u in EPOCH_US], events_io.TS_NANOS),
    "int64_micros": (pa.int64(), [u for u in EPOCH_US], events_io.TS_INT64_MICROS),
    "int64_nanos": (pa.int64(), [u * 1000 for u in EPOCH_US], events_io.TS_INT64_NANOS),
}


def _write_events(path: str, ts_type, ts_vals) -> None:
    n = len(ts_vals)
    table = pa.table(
        {
            "event_id": pa.array(range(n), pa.int64()),
            "ts": pa.array(ts_vals, ts_type),
            "user_id": pa.array([7] * n, pa.int64()),
            "event_type": pa.array(["click"] * n),
            "value": pa.array([1.0] * n, pa.float64()),
            "props": pa.array(["{}"] * n),
        }
    )
    # version 2.6 preserves TIMESTAMP(NANOS) instead of coercing to micros
    pq.write_table(table, path, version="2.6")


@pytest.mark.parametrize("name", sorted(FLAVORS))
def test_probe_classifies_flavor(tmp_path, name):
    ts_type, vals, want = FLAVORS[name]
    f = str(tmp_path / "events.parquet")
    _write_events(f, ts_type, vals)
    assert events_io.probe_ts_flavor(f) == want


@pytest.mark.parametrize("name", sorted(FLAVORS))
def test_batch_normalization_per_flavor(event_confs, tmp_path, name):
    from pyspark.sql import functions as F

    spark = event_confs
    ts_type, vals, _ = FLAVORS[name]
    f = str(tmp_path / "events.parquet")
    _write_events(f, ts_type, vals)
    df = events_io.normalize_ts(spark.read.parquet(f), events_io.probe_ts_flavor(f))
    assert dict(df.dtypes)["ts"] == "timestamp"
    got = {
        r.s
        for r in df.select(F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("s")).collect()
    }
    assert got == EXPECTED


@pytest.mark.parametrize("name", sorted(FLAVORS))
def test_stream_normalization_per_flavor(event_confs, tmp_path, name):
    from catlas_spark.streaming.events import read_event_stream, run_batch_like_stream, tumbling_counts

    spark = event_confs
    ts_type, vals, _ = FLAVORS[name]
    f = str(tmp_path / "events.parquet")
    _write_events(f, ts_type, vals)
    stream = read_event_stream(spark, str(tmp_path / "events*.parquet"))
    got = run_batch_like_stream(tumbling_counts(stream), f"flavor_{name}")
    rows = {(str(r.bucket_start), r.n) for r in got.collect()}
    assert rows == {(s, 1) for s in EXPECTED}


def test_read_event_stream_leaves_session_confs_untouched(spark, sf_dir):
    """The stream reads under the caller's session without writing it: a
    session in America/New_York with nanosAsLong off reads back both
    values after one read_event_stream call."""
    from catlas_spark.streaming.events import read_event_stream

    caller = {
        "spark.sql.session.timeZone": "America/New_York",
        "spark.sql.legacy.parquet.nanosAsLong": "false",
    }
    session = spark.newSession()
    for k, v in caller.items():
        session.conf.set(k, v)
    read_event_stream(session, f"{sf_dir}/events*.parquet")
    assert {k: session.conf.get(k) for k in caller} == caller


def test_int64_unit_decided_per_file_not_per_row(tmp_path):
    """A nanos file containing a pre-1973 instant (below the 1e17
    magnitude cutoff) must STILL be read as nanos — the unit comes from
    the file's max statistic, applied uniformly to every row."""
    f = str(tmp_path / "events.parquet")
    early_ns = 50_000_000_000_000_000  # 1971-08 in nanos; 1973-magnitude trap
    _write_events(f, pa.int64(), [early_ns] + [u * 1000 for u in EPOCH_US])
    assert events_io.probe_ts_flavor(f) == events_io.TS_INT64_NANOS


def test_nanos_to_micros_conversion_is_integer_exact(spark, tmp_path):
    """Float division corrupts modern ns epochs: a double's ULP at
    ~1.7e18 is 256 ns, so (ts / 1000).cast('long') lands on the wrong
    microsecond for ~12% of values. The conversion must use integer
    division and match v // 1000 for EVERY value."""
    from pyspark.sql import functions as F

    base = 1_700_000_000_000_816_816  # odd-microsecond modern ns epoch
    vals = [base + i * 1_001 for i in range(3000)]
    # pre-epoch values with nonzero ns remainders (r8 review): `div`
    # truncates toward zero, so -1500 div 1000 = -1 where the instant
    # floors to -2 µs — every pre-1970 value with a remainder read one
    # microsecond late. Python's // IS floor, so the same oracle covers it.
    vals += [-1_500, -1, -999_999_999_501] + [-base - i * 1_001 for i in range(50)]
    f = str(tmp_path / "ns_exact.parquet")
    _write_events(f, pa.int64(), vals)
    df = events_io.normalize_ts(
        spark.read.parquet(f), events_io.TS_INT64_NANOS
    )
    got = {
        r["event_id"]: r["us"]
        for r in df.select("event_id", F.unix_micros("ts").alias("us")).collect()
    }
    want = {i: v // 1000 for i, v in enumerate(vals)}
    assert got == want


def test_int64_stats_fallback_tolerates_all_null_first_group(spark, tmp_path):
    """A stats-free int64 ts file whose first row group is entirely NULL
    must still classify (max over the empty non-null subset used to
    raise ValueError); with no values at all it falls through to the
    micros default."""
    f = str(tmp_path / "nullfirst.parquet")
    n = 3
    table = pa.table(
        {
            "event_id": pa.array(range(n), pa.int64()),
            "ts": pa.array([None] * n, pa.int64()),
            "user_id": pa.array([7] * n, pa.int64()),
            "event_type": pa.array(["click"] * n),
            "value": pa.array([1.0] * n, pa.float64()),
            "props": pa.array(["{}"] * n),
        }
    )
    pq.write_table(table, f, version="2.6", write_statistics=False)
    assert events_io.probe_ts_flavor(f) == events_io.TS_INT64_MICROS

    # all-null FIRST group but nanos in a later one (r8 review): sampling
    # only group 0 classified this file as micros — every timestamp then
    # ~1000x too large. The fallback must scan until a value appears.
    f2 = str(tmp_path / "nullfirst_nanos.parquet")
    ns = 1_700_000_000_000_000_000
    table2 = pa.table(
        {
            "event_id": pa.array(range(4), pa.int64()),
            "ts": pa.array([None, None, ns, ns + 1000], pa.int64()),
            "user_id": pa.array([7] * 4, pa.int64()),
            "event_type": pa.array(["click"] * 4),
            "value": pa.array([1.0] * 4, pa.float64()),
            "props": pa.array(["{}"] * 4),
        }
    )
    pq.write_table(
        table2, f2, version="2.6", write_statistics=False, row_group_size=2
    )
    assert events_io.probe_ts_flavor(f2) == events_io.TS_INT64_NANOS
