"""Table loading and temp-view bootstrap for the test datasets.

The reference provisions its "catalog" (S3 buckets + a Glue job pointing at
them) with idempotent exists-check-then-create calls
(reference: batch_processing_IaC.py:45-567). The Spark-native analogue is an
idempotent :func:`ensure_views` that registers every dataset as a temp view
so both the DataFrame and ``spark.sql`` entry points work over the same data.

``events.ts`` has shipped in two physical encodings across testdata
generations: TIMESTAMP(NANOS) (which Spark only reads via
``spark.sql.legacy.parquet.nanosAsLong`` as raw INT64 nanoseconds) and plain
TIMESTAMP(MICROS). :func:`load_table` inspects the type actually read and
normalizes both to TIMESTAMP_NTZ in microseconds, so every downstream query
and every DuckDB oracle sees one stable logical schema. Nanos are truncated
(not rounded) to micros — matching DuckDB's ns->us behavior, which the
correctness oracle relies on.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import LongType, TimestampNTZType, TimestampType

from .functions import _quote_ident
from .io import read_parquet
from .session import apply_runtime_conf

#: All driver-generated tables (TESTDATA.md).
TABLES: tuple[str, ...] = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

#: Event-time columns normalized to TIMESTAMP_NTZ regardless of how the
#: parquet writer encoded them (INT64 nanos under nanosAsLong, us/ms
#: TIMESTAMP, or TIMESTAMP_NTZ).
_EVENT_TIME_COLS: dict[str, tuple[str, ...]] = {"events": ("ts",)}


def normalize_event_time(df: DataFrame, col: str) -> DataFrame:
    """Cast one event-time column to TIMESTAMP_NTZ(us), whatever was stored.

    Type-adaptive on purpose: the driver regenerates testdata between rounds
    and has switched ``events.ts`` between TIMESTAMP(NANOS)-as-INT64 and
    TIMESTAMP(MICROS). Matching on the *read* type keeps every query and
    oracle stable across both encodings.
    """
    dt = df.schema[col].dataType
    quoted = _quote_ident(col)
    c = F.col(quoted)
    if isinstance(dt, LongType):
        # nanosAsLong path: integer div (not double math — precision at 1e18).
        # A LongType event-time column is only reachable through the
        # spark.sql.legacy.parquet.nanosAsLong read of TIMESTAMP(NANOS)
        # (session.py RUNTIME_CONF) — raw INT64 millis/micros columns would
        # be silently wrong here by 1e3/1e6, so guard on MAGNITUDE:
        # |ns epoch| >= 1e16 covers all history except ±116 days around
        # 1970-01-01 (including pre-1970 negatives — a plain >= 1e17 floor
        # wrongly rejected all historical data before 1973-03), while
        # micros/millis epochs stay < 1e16 until year 2286. Values inside
        # the ambiguous ±116-day band are indistinguishable from micros
        # and fail loudly rather than divide a micros column by 1000.
        converted = F.timestamp_micros(F.expr(f"{quoted} div 1000")).cast(
            "timestamp_ntz"
        )
        guarded = (
            F.when(c.isNull(), F.lit(None).cast("timestamp_ntz"))
            .when(F.abs(c) >= F.lit(10_000_000_000_000_000), converted)
            .otherwise(
                F.raise_error(
                    F.concat(
                        F.lit(
                            f"normalize_event_time({col}): LongType value "
                            "inside the ambiguous near-epoch band (|v| < "
                            "1e16) — raw INT64 micros/millis encoding? "
                        ),
                        c.cast("string"),
                    )
                ).cast("timestamp_ntz")
            )
        )
        return df.withColumn(col, guarded)
    if isinstance(dt, TimestampNTZType):
        return df
    if isinstance(dt, TimestampType):
        # session TZ is pinned to UTC, so this relabel is value-preserving
        return df.withColumn(col, c.cast("timestamp_ntz"))
    return df

#: Small dimension tables that should always be broadcast in joins.
BROADCAST_TABLES: frozenset[str] = frozenset(
    {"region", "nation", "supplier", "part", "customer"}
)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one test table with normalized types.

    - event-time columns -> TIMESTAMP_NTZ in micros via
      :func:`normalize_event_time` (adaptive to the stored encoding)
    - everything else as stored

    The read goes through :func:`io.read_parquet`, so a second load of
    an unchanged file starts no Spark job.
    """
    apply_runtime_conf(spark)
    df = read_parquet(spark, f"{sf_dir.rstrip('/')}/{name}.parquet")
    for col in _EVENT_TIME_COLS.get(name, ()):
        if col in df.columns:
            df = normalize_event_time(df, col)
    return df


def fanout_scan(df: DataFrame) -> DataFrame:
    """Conditional round-robin fan-out for pathologically under-split
    inputs (optimization guide §2.5, "input skew": one unsplittable
    file -> repartition immediately after the read). A parquet file is
    readable only at row-group granularity, so a single-row-group file
    scans as ONE task no matter how many cores the session has — and a
    map-only pipeline downstream (the Python-codec multimodal rows)
    then runs entirely on one core. When the scan yields fewer
    partitions than the session's default parallelism, repartition the
    (pruned, payload-free) input up to it: one exchange of the 2-column
    text frame buys N-way codec parallelism (measured at sf0.1/local[32]:
    multimodal_avi_frames 3.3 -> 1.3 s, g711 2.0 -> 1.2 s, wav_envelope
    1.6 -> 0.8 s, gif_frames 1.5 -> 1.0 s warm). At production scale the
    input arrives in many files/row groups, the condition is false, and
    the plan keeps its zero-Exchange map-only shape — the guard is what
    makes the fan-out scale-adaptive rather than a local[32] tuning.
    Apply it only where the downstream per-row work dwarfs a tiny
    exchange; rows that feed joins/broadcasts measured neutral-to-worse
    under a blanket fan-out.

    Known probe limitations (r15, ADVICE item): the guard counts the
    scan's BYTE-RANGE splits, not row distribution — a large
    single-row-group file that Spark byte-splits into >= parallelism
    partitions still delivers every row to one partition while the
    guard no-ops (parquet reads whole row groups; the other splits come
    up empty). Acceptable here because the repo's pathological inputs
    are small single-row-group files, which the guard does catch, and a
    false no-op only loses the optimization, never correctness. The
    ``df.rdd`` probe also re-analyzes the plan per call (~tens of ms) —
    fine per query construction; do NOT call this per micro-batch (the
    streaming batchers deliberately don't)."""
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)


def ensure_views(spark: SparkSession, sf_dir: str) -> None:
    """Idempotently register every test table as a temp view.

    Spark-native replacement for the reference's provisioning script
    (batch_processing_IaC.py:571-715): re-running converges, nothing is
    duplicated, and downstream code can use ``spark.sql`` freely.
    """
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
