"""The reference's entire production pipeline as one function, plus the
driver-side runner that replaces its orchestration layer.

Reference shape (pyspark_skript/pyspark_script.py:20-130): discover CSVs in
the source bucket, pick the latest by filename date, read with inferSchema,
sort, expand intervals, append parquet. Orchestration around it
(batch_processing_IaC.py:329-352, :382-433): a Step Functions state machine
sequencing exactly one Glue job, triggered monthly, with MaxRetries=0.

Spark-native rebuild:

* :func:`run_reference_job` — the same discover -> read -> expand -> write
  flow with the documented fixes: hard failure on empty input (the
  reference printed and continued on a stale frame, :62-63), explicit
  schema support, strict-mode expansion (TIMESTAMP end-to-end), and an
  idempotent partitioned write keyed by the file date instead of blind
  append. ``compat=True`` reproduces the reference's output byte-for-byte
  (string timestamps, seconds truncation, the sequence(0,-1) artifact).
* :func:`run_pipeline` — the Step-Functions replacement: run callables in
  order, stop on first failure (the machine's single-path semantics), with
  per-job retries (the reference sets MaxRetries=0; the parameter exists
  because the state machine's stated purpose was retry handling,
  README.md:11).
"""

from __future__ import annotations

import logging
import time
from collections.abc import Callable, Sequence
from typing import Any

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from .io import read_csv, write_parquet
from .operators.timeseries import expand_intervals
from .sources.files import latest_dated_file, parse_file_date

log = logging.getLogger(__name__)


def run_reference_job(
    spark: SparkSession,
    source_dir: str,
    target_dir: str,
    *,
    schema: StructType | None = None,
    compat: bool = False,
) -> DataFrame:
    """Run the reference ETL over a dataset directory and write it to
    ``target_dir``; returns the expanded frame's lazy plan.

    Evaluating the returned frame runs its plan again, CSV scans and range
    sample included; read the written output with
    ``spark.read.parquet(target_dir)``. The write makes one file per range
    partition, so at most one per core of the job."""
    latest = latest_dated_file(source_dir)
    if latest is None:
        # reference behavior was print-and-continue on a stale frame
        # (pyspark_script.py:62-63); fail loudly instead
        raise FileNotFoundError(
            f"no dated CSV (YYYYMMDD_*.csv) found in {source_dir}"
        )
    df = read_csv(spark, str(latest), schema=schema, infer=schema is None)
    # The reference's global sort (:67), kept as a total order over part
    # files in name order. Not a plain global sort: AQE sizes that sort's
    # partitions by the shuffled bytes of the pre-expansion intervals,
    # which fit in one partition, so the ~30x expansion and the whole
    # Parquet encode would run as one task. An explicit partition count is
    # never coalesced, so here each core expands and writes its own range.
    by_start = F.col("start_time").asc()
    df = df.repartitionByRange(
        spark.sparkContext.defaultParallelism, by_start
    ).sortWithinPartitions(by_start)
    expanded = expand_intervals(df, mode="compat" if compat else "strict")
    if compat:
        # the reference drops samples, timedelta_per_sample and the
        # posexplode index before writing (pyspark_script.py:118-124);
        # match its written column set exactly
        expanded = expanded.drop("samples", "sample_idx")
    file_date = parse_file_date(latest.name)
    expanded = expanded.withColumn(
        "ingest_date", F.lit(file_date.strftime("%Y-%m-%d"))
    )
    write_parquet(expanded, target_dir, partition_by=["ingest_date"])
    return expanded


def run_pipeline(
    jobs: Sequence[tuple[str, Callable[[], Any]]],
    *,
    max_retries: int = 0,
    retry_wait_s: float = 0.0,
) -> dict[str, Any]:
    """Sequence jobs like the reference's state machine: linear order,
    blocking, stop on first (post-retry) failure. Returns per-job results
    keyed by name; raises the failing job's exception. Each failure that
    is retried is logged as a warning with its traceback."""
    results: dict[str, Any] = {}
    for name, job in jobs:
        attempt = 0
        while True:
            try:
                results[name] = job()
                break
            except Exception:
                attempt += 1
                if attempt > max_retries:
                    raise
                log.warning(
                    "job %s failed on attempt %d of %d; retrying",
                    name, attempt, max_retries + 1, exc_info=True,
                )
                if retry_wait_s:
                    time.sleep(retry_wait_s)
    return results
