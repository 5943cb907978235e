"""io.read_parquet: the schema-reusing Parquet reader. A re-read of an
unchanged file set passes the schema Spark inferred the first time, so it
starts no Spark job; a change to the files or to the confs that steer
inference infers again."""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from batch_processing_iac_aws_spark import io
from batch_processing_iac_aws_spark.catalog import TABLES, load_table
from batch_processing_iac_aws_spark.session import apply_runtime_conf

SF = "/root/testdata/sf0.01"


def test_second_load_of_unchanged_file_starts_no_job(
    spark, jobs_started
):
    io._schemas.clear()
    _, first = jobs_started(lambda: load_table(spark, SF, "lineitem"))
    df, second = jobs_started(lambda: load_table(spark, SF, "lineitem"))
    assert first == 1
    assert second == 0
    assert df.count() == spark.read.parquet(f"{SF}/lineitem.parquet").count()


@pytest.mark.parametrize("name", TABLES)
def test_cached_schema_equals_inference(spark, name, jobs_started):
    apply_runtime_conf(spark)
    path = f"{SF}/{name}.parquet"
    io.read_parquet(spark, path)
    hit, jobs = jobs_started(lambda: io.read_parquet(spark, path))
    assert jobs == 0
    assert hit.schema == spark.read.parquet(path).schema


def test_file_rewritten_in_place_is_inferred_again(
    spark, tmp_path, jobs_started
):
    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"a": [1, 2, 3]}), path)
    assert io.read_parquet(spark, path).columns == ["a"]
    pq.write_table(pa.table({"a": ["x", "y"], "b": [0.5, 1.5]}), path)
    df, jobs = jobs_started(lambda: io.read_parquet(spark, path))
    assert jobs == 1
    assert df.schema == spark.read.parquet(path).schema
    assert sorted(tuple(r) for r in df.collect()) == [("x", 0.5), ("y", 1.5)]


def test_nanos_as_long_toggle_infers_events_again(spark, jobs_started):
    apply_runtime_conf(spark)
    key = "spark.sql.legacy.parquet.nanosAsLong"
    path = f"{SF}/events.parquet"
    io.read_parquet(spark, path)
    before = spark.conf.get(key)
    spark.conf.set(key, "false" if before == "true" else "true")
    try:
        df, jobs = jobs_started(lambda: io.read_parquet(spark, path))
        assert jobs == 1
        assert df.schema == spark.read.parquet(path).schema
    finally:
        spark.conf.set(key, before)
    _, jobs = jobs_started(lambda: io.read_parquet(spark, path))
    assert jobs == 0


def test_path_it_cannot_stat_is_inferred_every_time(
    spark, tmp_path, jobs_started
):
    pq.write_table(pa.table({"a": [1]}), str(tmp_path / "x.parquet"))
    glob = str(tmp_path / "*.parquet")
    io.read_parquet(spark, glob)
    df, jobs = jobs_started(lambda: io.read_parquet(spark, glob))
    assert jobs == 1
    assert df.columns == ["a"]
