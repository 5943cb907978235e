"""Explicit-schema readers and idempotent partitioned writers.

The reference reads CSV with ``inferSchema=True`` (an extra eager scan,
reference: pyspark_skript/pyspark_script.py:30,:56-61) and appends parquet
(``mode='append'``, :127-130), which duplicates output on re-run. Here:

* CSV and JSON reads take an explicit ``StructType`` (one scan,
  deterministic types), with inference kept only as an opt-in convenience;
* Parquet reads go through :func:`read_parquet`, which infers a file set's
  schema once per process: inferring it starts one Spark job to read a
  footer, so a re-read of unchanged files reuses the inferred schema and
  starts none;
* writes are idempotent via dynamic partition overwrite — re-running a
  partition replaces exactly that partition, the Spark-native equivalent of
  the reference's Glue-bookmark idempotency claim (README.md:15).
"""

from __future__ import annotations

import os
import threading

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def read_csv(
    spark: SparkSession,
    path: str,
    schema: StructType | None = None,
    *,
    header: bool = True,
    infer: bool = False,
) -> DataFrame:
    """CSV scan. Prefer an explicit schema; ``infer=True`` costs a scan."""
    reader = spark.read.option("header", str(header).lower())
    if schema is not None:
        reader = reader.schema(schema)
    elif infer:
        reader = reader.option("inferSchema", "true")
    return reader.csv(path)


def read_json(
    spark: SparkSession, path: str, schema: StructType | None = None
) -> DataFrame:
    """JSON-lines scan with optional explicit schema."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


#: Session confs that change the schema Spark infers from Parquet footers
#: and partition directories. Their values are part of the cache key.
_INFERENCE_CONFS: tuple[str, ...] = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.sources.partitionColumnTypeInference.enabled",
    "spark.sql.caseSensitive",
    "spark.sql.session.timeZone",
)
#: Inferred schemas kept per process, oldest evicted first.
_SCHEMA_CACHE_SIZE = 256
_schemas: dict[tuple, StructType] = {}
_schemas_lock = threading.Lock()


def _file_set(path: str) -> "tuple | None":
    """(absolute path, every file under it as (relative name, size,
    mtime_ns)), or None for a path this process cannot stat: another
    scheme than ``file:``, a glob, or a missing path."""
    if path.startswith("file://"):
        path = path[len("file://"):]
    elif path.startswith("file:"):
        path = path[len("file:"):]
    if "://" in path or any(c in path for c in "*?[{"):
        return None
    try:
        st = os.stat(path)
        if not os.path.isdir(path):
            return os.path.abspath(path), ((".", st.st_size, st.st_mtime_ns),)
        files = []
        for root, dirs, names in os.walk(path, followlinks=True):
            dirs.sort()
            for name in sorted(names):
                full = os.path.join(root, name)
                st = os.stat(full)
                files.append(
                    (os.path.relpath(full, path), st.st_size, st.st_mtime_ns)
                )
    except OSError:  # missing, or a file vanished mid-walk
        return None
    return os.path.abspath(path), tuple(files)


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """Parquet scan that infers each file set's schema once per process.

    ``spark.read.parquet(path)`` without a schema starts one Spark job to
    read a footer (0.09-0.18 s per read at ``local[4]`` on a 4-vCPU VM);
    with a schema it starts none. The schema Spark inferred is kept under
    a key of every file under ``path`` (relative name, size, mtime_ns,
    from ``os.stat``) and the session confs that change inference
    (:data:`_INFERENCE_CONFS`, read one by one: ``spark.conf.getAll``
    costs tens of ms). A later read with the same key passes the kept
    schema; any change to the files or those confs infers again.
    Partition columns keep the type partition discovery gave them. A
    path that cannot be stat'ed (another scheme than ``file:``, a glob)
    is inferred on every read. The key cannot see a file rewritten
    within one mtime tick at the same size.
    """
    files = _file_set(path)
    if files is None:
        return spark.read.parquet(path)
    key = (files, tuple(spark.conf.get(k) for k in _INFERENCE_CONFS))
    schema = _schemas.get(key)
    if schema is not None:
        return spark.read.schema(schema).parquet(path)
    df = spark.read.parquet(path)
    # keep the schema only if the files did not change under the read
    if _file_set(path) == files:
        schema = df.schema
        with _schemas_lock:
            if len(_schemas) >= _SCHEMA_CACHE_SIZE:
                del _schemas[next(iter(_schemas))]
            _schemas[key] = schema
    return df


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """ORC scan — same columnar pushdown/pruning guarantees as parquet
    (both are native vectorized Spark formats)."""
    return spark.read.orc(path)


def write_orc(
    df: DataFrame,
    path: str,
    *,
    partition_by: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """ORC sink with the same dynamic-partition-overwrite idempotency as
    :func:`write_parquet` (for warehouses standardized on ORC/Hive)."""
    writer = df.write.mode(mode)
    if partition_by:
        # per-write option, NOT session conf: mutating the shared session's
        # partitionOverwriteMode would silently change the overwrite
        # semantics of unrelated later writes
        writer = writer.option("partitionOverwriteMode", "dynamic")
        writer = writer.partitionBy(*partition_by)
    writer.orc(path)


def write_clustered_parquet(
    df: DataFrame,
    path: str,
    *,
    cluster_by: list[str],
    num_files: int | None = None,
    mode: str = "overwrite",
) -> None:
    """Range-clustered parquet layout: repartitionByRange on the cluster
    columns + sortWithinPartitions before writing, so each output file owns
    a DISJOINT value range. Parquet footers then carry tight min/max stats
    per file/row-group, and any reader filtering on the cluster columns
    skips whole files without a scan — the poor-man's Z-order, and the
    single biggest scan-cost lever for a 100 TB time- or key-range-queried
    table (the range exchange is paid once at write time, by the writer).
    """
    parted = (
        df.repartitionByRange(num_files, *cluster_by)
        if num_files
        else df.repartitionByRange(*cluster_by)
    )
    parted.sortWithinPartitions(*cluster_by).write.mode(mode).parquet(path)


def write_zorder_parquet(
    df: DataFrame,
    path: str,
    *,
    zorder_by: list[str],
    bits: int = 8,
    num_files: int | None = None,
    mode: str = "overwrite",
) -> None:
    """Z-order (Morton-curve) clustered parquet layout for MULTI-column
    data skipping. ``write_clustered_parquet`` gives perfect skipping on its
    leading column and none on the others; interleaving the bits of each
    column's scaled rank instead gives every z-ordered column useful
    (≈2^-bits-granular) file-level min/max locality, so point/range filters
    on ANY of the columns prune most files from the footer stats alone —
    Delta/Iceberg's OPTIMIZE ZORDER, as a plain write-time transform.

    All numeric: per-column min/max (one tiny agg, collected once at write
    time) scale each value into ``bits`` buckets; the z-value is a codegen'd
    bit-interleave expression; layout is one range exchange on z + an
    in-partition sort. Skipping effectiveness on both columns is asserted in
    tests/test_zorder.py.
    """
    if not 1 <= bits <= 16:
        raise ValueError("bits must be in [1, 16]")
    if num_files and bits * len(zorder_by) > 20:
        raise ValueError(
            f"write_zorder_parquet: bits*len(zorder_by) = "
            f"{bits * len(zorder_by)} exceeds the 2^20 deterministic-"
            "histogram budget; lower bits or drop a z-column. (Silently "
            "falling back to sampled repartitionByRange would "
            "reintroduce the nondeterministic, mid-block file cuts this "
            "writer exists to avoid.)"
        )
    stats = df.agg(
        *[F.min(c).cast("double").alias(f"mn_{c}") for c in zorder_by],
        *[F.max(c).cast("double").alias(f"mx_{c}") for c in zorder_by],
    ).first()
    if any(stats[f"mn_{c}"] is None for c in zorder_by):
        # empty input (or an all-null clustering column): no z-domain to
        # lay out — write the frame as-is; the histogram path below would
        # IndexError on hist[-1] and the bucket math on None min/max
        df.write.mode(mode).parquet(path)
        return
    top = (1 << bits) - 1
    z = F.lit(0).cast("long")
    for j, c in enumerate(zorder_by):
        mn, mx = stats[f"mn_{c}"], stats[f"mx_{c}"]
        span = (mx - mn) or 1.0
        bucket = F.least(
            F.lit(top),
            F.floor((F.col(c).cast("double") - F.lit(mn)) / F.lit(span) * top),
        ).cast("long")
        # interleave: bit i of column j lands at z-bit i*len + j
        for i in range(bits):
            z = z.bitwiseOR(
                F.shiftleft(
                    F.shiftright(bucket, i).bitwiseAND(F.lit(1)),
                    i * len(zorder_by) + j,
                )
            )
    tagged = df.withColumn("__z", z)
    if num_files:
        # DETERMINISTIC, BLOCK-ALIGNED file boundaries. Two problems with
        # plain repartitionByRange("__z"):
        #   1. its per-run random sample moves file boundaries between
        #      identical writes (unreproducible layouts, flaky skipping);
        #   2. quantile cuts land mid-way through a Morton block, so one
        #      file straddles two z-cubes and its min/max rectangle widens
        #      — measurably worse pruning (a 5% single-column probe
        #      overlapped 9/16 files vs 5/16 aligned).
        # The z-domain is small (<= 2^(bits*k) distinct values, <= 1M under
        # this gate), so exact quantile cuts come from one bounded
        # map-side-combined histogram, then snap to the NEAREST 2^shift
        # Morton-block edge (Delta OPTIMIZE ZORDER's z-cube alignment) —
        # every file then covers whole z-cubes and its footer stats
        # describe a tight rectangle. Snapping can merge adjacent cuts or
        # push the last cut past the data (both deduped/clamped below), so
        # heavy skew may yield fewer than num_files files — deterministic,
        # never wrong. At 100 TB the collect stays <= 2^20 longs —
        # cheaper than the sample pass it replaces.
        # the histogram and the final write both evaluate `tagged`; for a
        # derived input plan (joins/filters upstream) persist once so the
        # upstream runs once, not twice (the min/max stats agg above is a
        # third, unavoidable evaluation — it must run BEFORE `tagged`
        # can be constructed)
        tagged = tagged.persist()
        hist = sorted(
            (r["__z"], r["n"])
            for r in tagged.groupBy("__z")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        )
        total = sum(n for _, n in hist)
        shift = max(bits * len(zorder_by) - max(num_files - 1, 1).bit_length(), 0)
        block = 1 << shift
        z_max = hist[-1][0]
        cuts, cum, next_cut = [], 0, 1
        for zval, n in hist:
            cum += n
            while next_cut < num_files and cum >= next_cut * total / num_files:
                # snap to the NEAREST block edge (file ends at edge - 1);
                # clamp cuts at/past the data's max z — they would only
                # create empty trailing partitions
                aligned = round((zval + 1) / block) * block - 1
                if (
                    0 <= aligned < z_max
                    and (not cuts or aligned > cuts[-1])
                ):
                    cuts.append(aligned)
                next_cut += 1
        pid = F.lit(0)
        for c in cuts:
            pid = pid + F.when(F.col("__z") > F.lit(c), 1).otherwise(0)
        n_parts = len(cuts) + 1
        # hash-slot remap: repartition(n, key) routes rows by
        # pmod(murmur3(key), n); pick one representative key per slot (a
        # tiny deterministic spark.range probe) so each pid owns exactly
        # one output partition — no sampling anywhere in the layout.
        # coupon collector needs ~n ln n draws; 64n gives astronomical
        # slot-coverage margin while keeping the collect O(num_files)
        probe = (
            df.sparkSession.range(0, 64 * n_parts)
            .select(
                F.col("id"),
                F.pmod(F.hash(F.col("id")), F.lit(n_parts)).alias("slot"),
            )
            .collect()
        )
        slot_key: dict[int, int] = {}
        for r in probe:
            slot_key.setdefault(r["slot"], r["id"])
            if len(slot_key) == n_parts:
                break
        if len(slot_key) == n_parts:
            # literals must be LONG: murmur3(int) != murmur3(long), and the
            # probe hashed spark.range's bigint ids
            key = F.lit(int(slot_key[0])).cast("long")
            for p in range(1, n_parts):
                key = F.when(
                    pid == p, F.lit(int(slot_key[p])).cast("long")
                ).otherwise(key)
            parted = (
                tagged.withColumn("__slot", key)
                .repartition(n_parts, F.col("__slot"))
                .drop("__slot")
            )
        else:  # pragma: no cover — probe covers all slots w.h.p.
            parted = tagged.withColumn("__pid", pid).repartitionByRange(
                n_parts, "__pid"
            ).drop("__pid")
    else:
        parted = (
            tagged.repartitionByRange(num_files, "__z")
            if num_files
            else tagged.repartitionByRange("__z")
        )
    try:
        parted.sortWithinPartitions("__z").drop("__z").write.mode(
            mode
        ).parquet(path)
    finally:
        tagged.unpersist()


def compact_parquet(
    spark: SparkSession,
    path: str,
    *,
    target_file_rows: int,
    partition_by: list[str] | None = None,
) -> None:
    """Small-file compaction: rewrite a parquet dataset with bounded file
    sizes. Streaming appends and fine-grained partition overwrites both
    accrete small files; at 100 TB the file count itself becomes the scan
    bottleneck (driver listing + one task per tiny file). Rewrites
    IN PLACE via an adjacent temp dir + renames, since overwriting the
    path being read is undefined. The rename order is crash-safe: the old
    data moves ASIDE before the new data moves in, so no instant exists
    where the only copy of the dataset sits under a temp name with the
    real path gone — a crash leaves either the old data (recoverable from
    the __old name) or the new data in place, never neither. Local-
    filesystem paths only (shutil semantics); on object stores run the
    same two-step through the store's rename/copy API."""
    import shutil
    import uuid

    tag = uuid.uuid4().hex[:8]
    tmp = f"{path.rstrip('/')}__compact_{tag}"
    old = f"{path.rstrip('/')}__old_{tag}"
    df = read_parquet(spark, path)
    write_parquet(
        df, tmp, partition_by=partition_by, target_file_rows=target_file_rows
    )
    shutil.move(path, old)
    try:
        shutil.move(tmp, path)
    except BaseException:
        shutil.move(old, path)  # roll back: restore the original dataset
        raise
    shutil.rmtree(old)


def write_parquet(
    df: DataFrame,
    path: str,
    *,
    partition_by: list[str] | None = None,
    mode: str = "overwrite",
    target_file_rows: int | None = None,
) -> None:
    """Parquet sink with idempotent re-run semantics.

    With ``partition_by``, uses dynamic partition overwrite: only the
    partitions present in ``df`` are replaced, so re-processing one ingest
    date is idempotent (unlike the reference's blind append,
    pyspark_skript/pyspark_script.py:127-130).

    ``target_file_rows`` optionally repartitions before the write to control
    output file count/size — at 100 TB, small-file explosions and single-file
    monoliths are both failure modes.

    TIMESTAMP columns are written as INT64 microseconds under the session's
    ``spark.sql.parquet.outputTimestampType`` (``session.RUNTIME_CONF``),
    not the deprecated INT96; Spark has no per-write option for it.
    """
    writer = df.write.mode(mode)
    if target_file_rows:
        # file-size targeting without an extra shuffle or a driver-side
        # count: the writer splits any task output at this row count
        writer = writer.option("maxRecordsPerFile", target_file_rows)
    if partition_by:
        # per-write option, NOT session conf (see write_orc)
        writer = writer.option("partitionOverwriteMode", "dynamic")
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)
