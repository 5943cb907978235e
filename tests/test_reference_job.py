"""End-to-end reference-pipeline parity: discover latest CSV -> expand ->
idempotent partitioned write, plus the pipeline runner semantics."""

from __future__ import annotations

import logging
import random
from datetime import datetime, timedelta

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from batch_processing_iac_aws_spark.reference_job import (
    run_pipeline,
    run_reference_job,
)

CSV_OLD = (
    "start_time,end_time,samples,temperature\n"
    "2023-06-03 00:00:00,2023-06-03 00:01:00,2,20.0\n"
)
CSV_NEW = (
    "start_time,end_time,samples,temperature\n"
    "2023-07-03 00:00:00,2023-07-03 00:01:00,4,21.5\n"
    "2023-07-03 00:01:00,2023-07-03 00:02:40,3,21.7\n"
)


@pytest.fixture()
def dataset(tmp_path):
    d = tmp_path / "src"
    d.mkdir()
    (d / "20230603_measurement_data.csv").write_text(CSV_OLD)
    (d / "20230703_measurement_data.csv").write_text(CSV_NEW)
    return d


def test_job_processes_only_latest_file(spark, dataset, tmp_path):
    out = str(tmp_path / "out")
    run_reference_job(spark, str(dataset), out)
    got = spark.read.parquet(out)
    # 4 + 3 samples from the July file only; June file ignored
    assert got.count() == 7
    # partition-column values are type-inferred on read (DATE here)
    assert {
        str(r["ingest_date"]) for r in got.select("ingest_date").collect()
    } == {"2023-07-03"}


def test_job_rerun_is_idempotent(spark, dataset, tmp_path):
    out = str(tmp_path / "out")
    run_reference_job(spark, str(dataset), out)
    run_reference_job(spark, str(dataset), out)  # re-run: same partition
    assert spark.read.parquet(out).count() == 7


def test_job_fails_hard_on_empty_source(spark, tmp_path):
    empty = tmp_path / "none"
    empty.mkdir()
    with pytest.raises(FileNotFoundError):
        run_reference_job(spark, str(empty), str(tmp_path / "o"))


def test_compat_mode_emits_reference_strings(spark, dataset, tmp_path):
    out = str(tmp_path / "out_compat")
    run_reference_job(spark, str(dataset), out, compat=True)
    written = spark.read.parquet(out)
    row = written.first()
    assert isinstance(row["start_time"], str)  # from_unixtime string output
    # column-set parity: the reference drops samples / timedelta_per_sample /
    # the posexplode index before writing (pyspark_script.py:118-124)
    assert "samples" not in written.columns
    assert "sample_idx" not in written.columns
    assert "timedelta_per_sample" not in written.columns


@pytest.mark.parametrize("compat", [False, True])
def test_written_timestamp_encoding(spark, dataset, tmp_path, compat):
    out = tmp_path / "out"
    expanded = run_reference_job(spark, str(dataset), str(out), compat=compat)
    # strict: INT64 microseconds, not Spark's default INT96; compat: the
    # reference's from_unixtime strings
    want = (
        ("BYTE_ARRAY", pa.string())
        if compat
        else ("INT64", pa.timestamp("us", tz="UTC"))
    )
    parts = sorted((out / "ingest_date=2023-07-03").glob("part-*"))
    assert parts
    for p in parts:
        meta = pq.ParquetFile(p)
        for col in ("start_time", "end_time"):
            i = meta.schema_arrow.get_field_index(col)
            got = (
                meta.schema.column(i).physical_type,
                meta.schema_arrow.field(col).type,
            )
            assert got == want
    # ingest_date is a string literal in the plan and a DATE partition
    # value when read back
    written = spark.read.parquet(str(out)).drop("ingest_date")
    expected = expanded.drop("ingest_date")
    assert written.exceptAll(expected).count() == 0
    assert expected.exceptAll(written).count() == 0


@pytest.mark.parametrize("compat", [False, True])
def test_job_fans_out_and_keeps_global_order(spark, tmp_path, compat):
    # ~400 back-to-back intervals with distinct starts, written to the CSV
    # in shuffled order so only the job's sort can put them back in line
    rng = random.Random(17)
    t = datetime(2023, 7, 3)
    rows = []
    for _ in range(400):
        end = t + timedelta(seconds=rng.randint(10, 120))
        rows.append((t, end, rng.randint(1, 5)))
        t = end
    rng.shuffle(rows)
    fmt = "%Y-%m-%d %H:%M:%S"
    src = tmp_path / "src"
    src.mkdir()
    (src / "20230603_measurement_data.csv").write_text(CSV_OLD)
    (src / "20230703_measurement_data.csv").write_text(
        "start_time,end_time,samples,temperature\n"
        + "".join(
            f"{a.strftime(fmt)},{b.strftime(fmt)},{n},20.5\n"
            for a, b, n in rows
        )
    )
    out = tmp_path / "out"
    run_reference_job(spark, str(src), str(out), compat=compat)

    parts = sorted(
        p for p in (out / "ingest_date=2023-07-03").iterdir()
        if p.name.startswith("part-")
    )
    starts = [
        v
        for p in parts
        for v in pq.read_table(p, columns=["start_time"])
        .column("start_time")
        .to_pylist()
    ]
    # compat writes 'yyyy-MM-dd HH:mm:ss' strings, which sort by time
    assert isinstance(starts[0], str if compat else datetime)
    assert len(starts) == sum(n for _, _, n in rows)
    assert starts == sorted(starts)
    # one file per range partition: the expansion and the write fan out
    # over the cores instead of running as one task
    assert 1 < len(parts) <= spark.sparkContext.defaultParallelism


def test_run_pipeline_sequences_and_stops_on_failure():
    calls = []

    def ok():
        calls.append("ok")
        return 1

    def boom():
        calls.append("boom")
        raise RuntimeError("x")

    res = run_pipeline([("a", ok), ("b", ok)])
    assert res == {"a": 1, "b": 1}

    calls.clear()
    with pytest.raises(RuntimeError):
        run_pipeline([("a", ok), ("b", boom), ("c", ok)])
    assert calls == ["ok", "boom"]  # c never ran


def test_run_pipeline_retries():
    attempts = []

    def flaky():
        attempts.append(1)
        if len(attempts) < 3:
            raise RuntimeError("transient")
        return "done"

    res = run_pipeline([("j", flaky)], max_retries=3)
    assert res == {"j": "done"} and len(attempts) == 3


def test_run_pipeline_logs_each_retried_failure(caplog):
    attempts = []

    def flaky():
        attempts.append(1)
        if len(attempts) < 3:
            raise RuntimeError(f"transient {len(attempts)}")
        return "done"

    with caplog.at_level(logging.WARNING):
        assert run_pipeline([("load", flaky)], max_retries=2) == {
            "load": "done"
        }
    warned = [r for r in caplog.records if r.levelno == logging.WARNING]
    assert [r.getMessage() for r in warned] == [
        "job load failed on attempt 1 of 3; retrying",
        "job load failed on attempt 2 of 3; retrying",
    ]
    assert [str(r.exc_info[1]) for r in warned] == [
        "transient 1",
        "transient 2",
    ]
