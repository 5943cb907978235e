"""Property tests for the flagship interval expansion (SURVEY.md §5.2),
including the FIXTURES.md edge-case rows and compat-mode bug reproduction."""

from __future__ import annotations

import datetime as dt

import pyspark.sql.functions as F
import pytest
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    StructField,
    StructType,
    TimestampType,
)

from batch_processing_iac_aws_spark.operators.timeseries import (
    expand_intervals,
    intervals_from_events,
)

SCHEMA = StructType(
    [
        StructField("start_time", TimestampType()),
        StructField("end_time", TimestampType()),
        StructField("samples", IntegerType()),
        StructField("temperature", DoubleType()),
    ]
)


def ts(s: str) -> dt.datetime:
    return dt.datetime.fromisoformat(s)


@pytest.fixture(scope="module")
def fixture_df(spark):
    rows = [
        (ts("2023-07-03 00:00:00"), ts("2023-07-03 00:01:00"), 4, 21.5),
        (ts("2023-07-03 00:01:00"), ts("2023-07-03 00:02:40"), 3, 21.7),
        (ts("2023-07-03 00:02:40"), ts("2023-07-03 00:02:40"), 1, 21.7),
        (ts("2023-07-03 00:03:00"), ts("2023-07-03 00:04:00"), 0, 21.9),
        (ts("2023-07-03 00:04:00"), ts("2023-07-03 00:05:00"), None, 22.0),
        (ts("2023-07-03 00:05:00"), ts("2023-07-03 01:05:00"), 3600, 22.1),
    ]
    return spark.createDataFrame(rows, SCHEMA)


def test_strict_row_count_is_sum_of_samples(fixture_df):
    out = expand_intervals(fixture_df, mode="strict")
    expected = 4 + 3 + 1 + 3600  # samples>=1 only
    assert out.count() == expected


def test_strict_first_start_and_last_end_match_input(fixture_df):
    out = expand_intervals(fixture_df, mode="strict").orderBy(
        "temperature", "sample_idx"
    )
    rows = [r.asDict() for r in out.collect()]
    by_temp: dict[float, list[dict]] = {}
    for r in rows:
        by_temp.setdefault(r["temperature"], []).append(r)
    # happy path: delta = 15s exact
    g = by_temp[21.5]
    assert g[0]["start_time"] == ts("2023-07-03 00:00:00")
    assert g[-1]["end_time"] == ts("2023-07-03 00:01:00")
    assert [r["start_time"].second for r in g] == [0, 15, 30, 45]
    # non-divisible delta: 100s / 3 — last end within 1us of input end
    # (21.7 appears in two fixture intervals; pick the 3-sample one)
    g = [r for r in by_temp[21.7] if r["samples"] == 3]
    assert g[0]["start_time"] == ts("2023-07-03 00:01:00")
    assert abs(g[-1]["end_time"] - ts("2023-07-03 00:02:40")) <= dt.timedelta(
        microseconds=1
    )
    # large expansion
    assert len(by_temp[22.1]) == 3600


def test_strict_evenly_spaced(fixture_df):
    out = expand_intervals(fixture_df.filter("temperature = 22.1"), mode="strict")
    rows = sorted(
        (r["sample_idx"], r["start_time"]) for r in out.collect()
    )
    deltas = {
        (b[1] - a[1]).total_seconds() for a, b in zip(rows, rows[1:])
    }
    assert deltas == {1.0}  # 3600s / 3600 samples


def test_strict_drops_null_and_zero_samples(fixture_df):
    out = expand_intervals(fixture_df, mode="strict")
    temps = {r["temperature"] for r in out.collect()}
    assert 21.9 not in temps  # samples=0
    assert 22.0 not in temps  # samples=NULL


def test_compat_reproduces_reference_bugs(fixture_df):
    """samples=0 emits the spurious [0,-1] pair; NULL samples dropped;
    output timestamps are strings (from_unixtime)."""
    small = fixture_df.filter("temperature IN (21.9, 22.0, 21.5)")
    out = expand_intervals(small, mode="compat")
    rows = [r.asDict() for r in out.collect()]
    zero = [r for r in rows if r["temperature"] == 21.9]
    assert sorted(r["sample_idx"] for r in zero) == [0, 1]
    # reference sequence(0,-1) = [0,-1]: both rows collapse to start_time
    assert {r["start_time"] for r in zero} == {"2023-07-03 00:03:00"}
    assert not [r for r in rows if r["temperature"] == 22.0]
    assert isinstance(rows[0]["start_time"], str)
    assert len([r for r in rows if r["temperature"] == 21.5]) == 4


def test_value_column_constant_within_group(fixture_df):
    out = expand_intervals(fixture_df, mode="strict")
    n = (
        out.groupBy("temperature")
        .agg(F.countDistinct("temperature").alias("n"))
        .agg(F.max("n"))
        .collect()[0][0]
    )
    assert n == 1


def test_intervals_from_events(spark):
    events = spark.createDataFrame(
        [(1, ts("2024-01-01 00:00:00"), 1.0), (1, ts("2024-01-01 01:00:00"), 3.0)],
        "user_id long, ts timestamp, value double",
    )
    iv = intervals_from_events(events).collect()[0]
    assert iv["samples"] == 2
    assert iv["reading"] == 2.0
    assert iv["start_time"] == ts("2024-01-01 00:00:00")


def test_keep_interval_cols_retains_original_bounds(fixture_df):
    out = expand_intervals(fixture_df, keep_interval_cols=True)
    assert "interval_start" in out.columns and "interval_end" in out.columns
    first = out.filter(
        (F.col("samples") == 4) & (F.col("sample_idx") == 3)
    ).first()
    # last sample's per-sample end == original interval end; original
    # bounds survive untouched alongside the overwritten start/end
    assert first["interval_start"] == ts("2023-07-03 00:00:00")
    assert first["interval_end"] == ts("2023-07-03 00:01:00")
    assert first["start_time"] != first["interval_start"]


def test_intervals_exact_cents_mean_at_decimal_tie(spark):
    """value_cents_exact: the 4dp mean is computed with integer cents and
    half-up rounding, so a TRUE decimal tie (3147.69 / 56 = 56.20875 —
    the sf0.1 user-51 case that flipped between engines under
    round(avg(double), 4)) lands deterministically on .5-up, and off-tie
    means match the double path exactly."""
    import datetime

    import pyspark.sql.functions as F

    base = datetime.datetime(2024, 1, 1)
    # 56 values on the 2dp grid summing to exactly 3147.69
    vals = [56.21] * 55 + [56.14]
    assert round(sum(int(round(v * 100)) for v in vals)) == 314769
    rows = [
        (51, base + datetime.timedelta(minutes=i), v)
        for i, v in enumerate(vals)
    ] + [(7, base, 10.01), (7, base + datetime.timedelta(minutes=1), 10.02)]
    events = spark.createDataFrame(
        rows, "user_id long, ts timestamp, value double"
    )
    got = {
        r["user_id"]: r["reading"]
        for r in intervals_from_events(
            events, value_cents_exact=True
        ).collect()
    }
    assert got[51] == 56.2088  # exact tie 56.20875 -> half-up
    assert got[7] == 10.015    # off-tie: equals the double-avg path
    # double path on the tie is summation-order dependent — the reason
    # the exact form exists
    assert abs(
        {
            r["user_id"]: r["reading"]
            for r in intervals_from_events(events).collect()
        }[51]
        - 56.20875
    ) < 1e-9


@pytest.mark.parametrize(
    "mode,keep", [("strict", False), ("compat", False), ("strict", True)]
)
def test_names_with_space_and_backtick(fixture_df, mode, keep):
    # every name the builder splices into SQL, plus a pass-through column
    odd = {
        "start_time": "start `t",
        "end_time": "end t`",
        "samples": "n `samples`",
        "temperature": "temp `c",
    }
    idx = "idx `i"
    got = expand_intervals(
        fixture_df.withColumnsRenamed(odd),
        start=odd["start_time"],
        end=odd["end_time"],
        samples=odd["samples"],
        idx_col=idx,
        mode=mode,
        keep_interval_cols=keep,
    ).withColumnsRenamed(
        {v: k for k, v in odd.items()} | {idx: "sample_idx"}
    )
    want = expand_intervals(fixture_df, mode=mode, keep_interval_cols=keep)
    assert got.columns == want.columns
    assert got.schema == want.schema
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0
