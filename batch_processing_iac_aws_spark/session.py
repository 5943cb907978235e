"""SparkSession factory with scale-oriented defaults.

The reference builds its session with nothing but an appName
(reference: pyspark_skript/pyspark_script.py:12-14) and delegates every
physical decision to the engine. We keep that spirit — declare, let
Catalyst/AQE decide — but pin the handful of knobs that matter at scale:
AQE (runtime re-planning, skew-join splitting, partition coalescing),
a deterministic session timezone, and Arrow for any pandas interchange.

Two entry points:

* :func:`get_spark` — build a local session (tests, bench).
* :func:`apply_runtime_conf` — apply the runtime-settable subset to an
  EXISTING session (the verification driver owns its own session; every
  loader in :mod:`.catalog` calls this so behavior is identical).
"""

from __future__ import annotations

import logging
import os

from pyspark.errors import AnalysisException
from pyspark.sql import SparkSession

log = logging.getLogger(__name__)

#: Conf that is safe to set on a live session (spark.conf.set).
RUNTIME_CONF: dict[str, str] = {
    # Adaptive query execution: runtime shuffle-partition coalescing,
    # skew-join splitting, and dynamic broadcast selection. At 100 TB this
    # is the difference between a fixed shuffle width and one sized to the
    # actual post-filter data.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Deterministic timestamp rendering regardless of host TZ — required for
    # differential testing against DuckDB (naive timestamps).
    "spark.sql.session.timeZone": "UTC",
    # The driver-generated events.parquet stores TIMESTAMP(NANOS), which
    # Spark's parquet reader rejects; read it as raw INT64 nanos and convert
    # in catalog.load_table (ns -> us truncation, matching DuckDB).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Arrow-accelerated toPandas / pandas UDF transfer.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Write TIMESTAMP columns as Parquet INT64 microseconds, not Spark's
    # default 12-byte INT96, which the Parquet format deprecates. Spark's
    # timestamps are microseconds, so nothing is lost; Spark, DuckDB and
    # pyarrow read the INT64 values as the same instants (pyarrow as
    # tz=UTC). Only a session conf sets it: Spark takes no per-write option.
    "spark.sql.parquet.outputTimestampType": "TIMESTAMP_MICROS",
}

#: Conf that must be set before the JVM/session starts.
BUILD_CONF: dict[str, str] = {
    # At local[N] test scale one shuffle partition per core is plenty; on a
    # real cluster AQE coalescing makes the initial number a ceiling, so a
    # production deploy would raise it (e.g. 2-3x total cores).
    "spark.sql.shuffle.partitions": "32",
    # Small-dim broadcast: region/nation/supplier/part style tables should
    # never shuffle (SURVEY.md section 2B joins). 64m is conservative for
    # 128 GiB executors.
    "spark.sql.autoBroadcastJoinThreshold": "64m",
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
    "spark.ui.enabled": "false",
}


def cluster_conf(
    *,
    executors: int = 1000,
    cores_per_executor: int = 4,
    executor_mem_gib: int = 32,
) -> dict[str, str]:
    """Concrete conf profile for the 100 TB deployment target (a cluster
    this repo is designed for but cannot run locally — the local tests
    exercise the same plans at small SF).

    Sizing logic, stated so reviewers can re-derive it:

    * shuffle width: ~3x total cores as the AQE *ceiling* — AQE coalesces
      down per-stage, so over-provisioning costs nothing, while a low
      ceiling forces multi-GiB partitions that spill;
    * target shuffle-partition bytes ~128 MiB keeps post-shuffle
      partitions comfortably in executor memory (32 GiB / 4 cores =
      8 GiB per task slot, >>128 MiB working set);
    * input split 256 MiB halves task-scheduling overhead on 100k+ file
      datasets vs the 128 MiB default while staying well under slot
      memory;
    * broadcast threshold stays modest (64 MiB): with 4000 slots a
      broadcast is replicated per executor — 1000 x 64 MiB = 64 GB of
      aggregate copy is the acceptable ceiling, dims beyond that should
      shuffle or be bucket-joined;
    * no dynamic allocation here: steady batch jobs on a dedicated fleet
      re-negotiate executors only to lose shuffle locality.
    """
    total_cores = executors * cores_per_executor
    return {
        **RUNTIME_CONF,
        "spark.executor.instances": str(executors),
        "spark.executor.cores": str(cores_per_executor),
        "spark.executor.memory": f"{executor_mem_gib}g",
        "spark.sql.shuffle.partitions": str(3 * total_cores),
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "128m",
        "spark.sql.files.maxPartitionBytes": "256m",
        "spark.sql.autoBroadcastJoinThreshold": "64m",
        # large shuffles: fewer, bigger fetches + off-heap transport
        "spark.reducer.maxSizeInFlight": "96m",
        "spark.shuffle.file.buffer": "1m",
        # runtime bloom-filter join pruning: inject a bloom of the small
        # side's join keys into the fact scan when a selective dim filter
        # exists — row-group skipping Catalyst can't get from static
        # pushdown (the dynamic cousin of the manual semi-join pushdown
        # in q2/q17/q20)
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtimeFilter.semiJoinReduction.enabled": "true",
        # parquet writers: bound files per task via maxRecordsPerFile at
        # the write call (io.write_parquet), not globally
        "spark.speculation": "true",
    }


def apply_runtime_conf(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable defaults to an existing session (idempotent).

    A key this build refuses to modify (``AnalysisException``, e.g.
    ``CANNOT_MODIFY_CONFIG``) is skipped with a warning; any other error
    propagates."""
    for key, value in RUNTIME_CONF.items():
        try:
            spark.conf.set(key, value)
        except AnalysisException as exc:
            log.warning("runtime conf %s not applied: %s", key, exc)
    return spark


def get_spark(
    app_name: str = "batch-processing-iac-aws-spark",
    *,
    cpus: int | str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a local SparkSession with engine defaults applied."""
    cpus = cpus or os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = SparkSession.builder.appName(app_name).master(f"local[{cpus}]")
    conf = dict(BUILD_CONF)
    if shuffle_partitions is not None:
        conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    conf.update(RUNTIME_CONF)
    conf.update(extra_conf or {})
    for key, value in conf.items():
        builder = builder.config(key, value)
    spark = apply_runtime_conf(builder.getOrCreate())
    if shuffle_partitions is not None:
        # getOrCreate DISCARDS builder configs when a session already
        # exists; shuffle partitions are runtime-settable, so honor the
        # explicit request on the fetched session instead of silently
        # keeping the old value
        spark.conf.set(
            "spark.sql.shuffle.partitions", str(shuffle_partitions)
        )
    return spark


def local_frame(spark: SparkSession, rows, ddl: str):
    """DataFrame from SMALL driver-side rows via the Arrow/pandas path.

    ``spark.createDataFrame(list_of_tuples)`` parallelizes PICKLED rows:
    every job that reads the frame spins up Python workers just to
    deserialize them — measured ~4s per tiny write/collect at local[32]
    (vs ~0.2s through Arrow), a hidden fixed cost this repo was paying in
    every global-ranking offsets table and persisted-index centroid
    write. The Arrow path converts once on the driver and the data is
    JVM-local afterwards.

    ``ddl`` is a comma-separated ``name type`` list; the split is
    bracket-aware, so parameterized and nested types — decimal(20,0),
    array<double>, map<string,int>, struct<a:int,b:string> — parse
    correctly."""
    import pandas as pd

    fields, depth, start = [], 0, 0
    for i, ch in enumerate(ddl):
        if ch in "<(":
            depth += 1
        elif ch in ">)":
            depth -= 1
        elif ch == "," and depth == 0:
            fields.append(ddl[start:i])
            start = i + 1
    fields.append(ddl[start:])
    names = [f.strip().split()[0] for f in fields]
    if not rows:
        return spark.createDataFrame([], ddl)
    return spark.createDataFrame(
        pd.DataFrame(list(rows), columns=names), schema=ddl
    )


_PYFILES_SHIPPED: "set[int]" = set()


def ensure_worker_imports(spark: SparkSession) -> None:
    """Make this package importable on EXECUTOR Python workers regardless
    of where the driver process was launched: cloudpickled UDF closures
    that reference module-level helpers pickle those helpers BY
    REFERENCE, so the worker must import the package — which only works
    by accident when the driver's cwd is the repo root (found driving a
    vanilla session from /tmp: ModuleNotFoundError inside mapInPandas).
    Zip the package once per session and ship it via ``addPyFile`` —
    workers prepend fetched files to sys.path, fixing every current and
    future by-reference closure in one place. When the zip cannot be
    built (``OSError``, e.g. a read-only tmp) it logs a warning and ships
    nothing; any other error, ``addPyFile``'s included, propagates. A
    per-SparkContext memo keeps it one-shot."""
    import os
    import tempfile
    import zipfile

    sc = spark.sparkContext
    key = id(sc)
    if key in _PYFILES_SHIPPED:
        return
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    root = os.path.dirname(pkg_dir)
    try:
        # mkstemp, not a predictable /tmp name: a pre-existing file at a
        # guessable path would be shipped VERBATIM to executor workers and
        # imported — the /tmp-squat hazard the scratch_dir docstring calls
        # out, except with code execution on the other end. A fresh random
        # name per session also means no stale zip from a previous run can
        # mask edits to the package. atexit reclaims the file (addPyFile
        # copies it into Spark's own file server immediately).
        import atexit

        fd, zpath = tempfile.mkstemp(prefix="spark_graft_pkg_", suffix=".zip")
        os.close(fd)
        atexit.register(lambda p=zpath: os.path.exists(p) and os.unlink(p))
        with zipfile.ZipFile(zpath, "w") as z:
            for dirpath, _dirs, files in os.walk(pkg_dir):
                for f in files:
                    if not f.endswith(".py"):
                        continue
                    full = os.path.join(dirpath, f)
                    z.write(full, os.path.relpath(full, root))
    except OSError as exc:
        # a driver launched from the repo root never needs the zip, and
        # failing a query over a packaging nicety is worse
        log.warning("package zip for executor workers not built: %s", exc)
    else:
        sc.addPyFile(zpath)
    _PYFILES_SHIPPED.add(key)
