"""Pinned-schema regression tests for the events.ts encoding drift.

The driver regenerates testdata between rounds and has shipped events.ts
as TIMESTAMP(NANOS) (read as INT64 under nanosAsLong — round 1) and as
TIMESTAMP(MICROS) (round 3+). That switch silently errored 12 in-window
queries in round 2. catalog.normalize_event_time now absorbs both
encodings type-adaptively; these tests synthesize BOTH parquet encodings
from the same logical values and assert identical normalized output, so
the next regeneration cannot burn a round again. Reference behavior:
DuckDB reads both encodings to the same naive timestamps.
"""

from __future__ import annotations

import datetime as dt

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from batch_processing_iac_aws_spark.catalog import normalize_event_time

_TS = [
    dt.datetime(2024, 1, 1, 0, 0, 0, 123456),
    dt.datetime(2024, 6, 15, 12, 30, 45, 999999),
    dt.datetime(2025, 12, 31, 23, 59, 59, 1),
    None,
]


def _write(tmpdir: str, name: str, arrow_type) -> str:
    path = f"{tmpdir}/{name}.parquet"
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array(range(len(_TS)), pa.int64()),
                "ts": pa.array(_TS, arrow_type),
            }
        ),
        path,
        # the driver's generator does not write int96 or coerce; nanos
        # survive as TIMESTAMP(NANOS), micros as TIMESTAMP(MICROS)
        coerce_timestamps=None,
        store_schema=False,
    )
    return path


def _normalized(spark, path):
    df = normalize_event_time(spark.read.parquet(path), "ts")
    assert dict(df.dtypes)["ts"] == "timestamp_ntz"
    return sorted(
        ((r["event_id"], r["ts"]) for r in df.collect()),
        key=lambda t: t[0],
    )


def test_nanos_and_micros_encodings_normalize_identically(spark, tmp_path):
    """TIMESTAMP(NANOS) (-> LongType under nanosAsLong) and
    TIMESTAMP(MICROS) of the same instants must produce byte-identical
    normalized columns — the invariant the round-2 failures violated."""
    nanos = _write(str(tmp_path), "ev_nanos", pa.timestamp("ns"))
    micros = _write(str(tmp_path), "ev_micros", pa.timestamp("us"))
    # isAdjustedToUTC=true variant — Spark reads this one as TimestampType
    # (the third normalize path), session TZ pinned UTC
    micros_utc = _write(
        str(tmp_path), "ev_micros_utc", pa.timestamp("us", tz="UTC")
    )

    # precondition: the three files really exercise all three read paths
    assert dict(spark.read.parquet(nanos).dtypes)["ts"] == "bigint"
    assert dict(spark.read.parquet(micros).dtypes)["ts"] == "timestamp_ntz"
    assert dict(spark.read.parquet(micros_utc).dtypes)["ts"] == "timestamp"

    assert (
        _normalized(spark, nanos)
        == _normalized(spark, micros)
        == _normalized(spark, micros_utc)
    )


def test_expected_values_survive_both_paths(spark, tmp_path):
    """Not just equal to each other — equal to the source instants
    (micro precision; the ns path truncates, matching DuckDB)."""
    micros = _write(str(tmp_path), "ev", pa.timestamp("us"))
    got = _normalized(spark, micros)
    assert got == sorted(
        ((i, t) for i, t in enumerate(_TS)), key=lambda x: x[0]
    )


def test_raw_int64_micros_fails_loudly_not_silently(spark, tmp_path):
    """A future regen shipping raw INT64 micros (NOT via nanosAsLong)
    must raise, not divide by 1000 and be silently wrong by 1e3."""
    path = f"{tmp_path}/ev_raw.parquet"
    raw_us = [
        int(t.replace(tzinfo=dt.timezone.utc).timestamp() * 1_000_000)
        for t in _TS
        if t is not None
    ]
    pq.write_table(
        pa.table({"event_id": pa.array([0, 1, 2], pa.int64()),
                  "ts": pa.array(raw_us, pa.int64())}),
        path,
    )
    df = normalize_event_time(spark.read.parquet(path), "ts")
    with pytest.raises(Exception, match="near-epoch band"):
        df.collect()


def test_historical_nanos_accepted_including_pre_epoch(spark, tmp_path):
    """The magnitude guard must accept legitimate historical TIMESTAMP(NANOS)
    data — 1970-05+ (the old >= 1e17 floor wrongly rejected 1970–1973) and
    pre-1970 negatives — while still rejecting the ambiguous near-epoch
    band."""
    instants = [
        dt.datetime(1962, 7, 10, 12, 0, 0),   # negative ns epoch
        dt.datetime(1971, 8, 15, 0, 0, 0),    # 1e16 < ns < 1e17
        dt.datetime(2023, 3, 1, 9, 30, 0),
    ]
    path = f"{tmp_path}/ev_hist.parquet"
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array(range(len(instants)), pa.int64()),
                "ts": pa.array(instants, pa.timestamp("ns")),
            }
        ),
        path,
    )
    assert dict(spark.read.parquet(path).dtypes)["ts"] == "bigint"
    got = _normalized(spark, path)
    assert [t for _, t in got] == instants


def test_nanos_column_with_backtick_in_name(spark):
    df = spark.range(1).selectExpr(
        "1700000000000000000L AS `event ``ts`", "id"
    )
    out = normalize_event_time(df, "event `ts")
    assert out.first()["event `ts"] == dt.datetime(2023, 11, 14, 22, 13, 20)
