"""Interval-encoded time series expansion — the reference's entire analytics
surface, rebuilt Spark-first.

The reference pipeline (pyspark_skript/pyspark_script.py:56-130) takes rows
``(start_time, end_time, samples, <value cols>)`` — each row a run of
identical sensor readings — and emits ``samples`` evenly-spaced per-reading
rows. Its implementation builds an ``idx_array = sequence(0, samples-1)``
(:80-83), maps it to an array<struct> with ``transform`` (:86-96), then
``posexplode``s (:105) and extracts struct fields (:108-114).

The Spark-first rebuild collapses that to a single generator: posexplode the
sequence directly and compute the per-sample timestamps from the position —
one ``Generate`` + one ``Project`` in the physical plan, no intermediate
array-of-struct materialization (half the per-row memory during expansion,
which matters when one row fans out to 3600).

The plan is built from SQL expression strings, one ``where``/``selectExpr``
per step, not from Column objects: every Column node is a py4j round trip
from the Python driver to the JVM (1-2.5 ms each on a 4-vCPU host), so the
~30-node Column form took 0.13 s of driver time per call where the four
SQL steps take 0.05 s. Column names are spliced in backtick-quoted with
embedded backticks doubled, so any name, spaces and backticks included, is
safe in the SQL.

Two semantic modes (SURVEY.md §2A edge cases):

* ``strict`` (default): rows with ``samples`` NULL or < 1 are dropped by an
  explicit filter (pushed down to the scan); timestamps stay TIMESTAMP, with
  microsecond arithmetic (no sub-second loss).
* ``compat``: byte-faithful to the reference, including its bugs — epoch
  *seconds* truncation (``unix_timestamp``, :73), string-typed output
  timestamps (``from_unixtime``, :91-92), and the spurious ``[0, -1]`` pair
  emitted for ``samples = 0`` (``sequence(0, -1)`` = [0, -1], :82), with NULL
  ``samples`` rows silently dropped by the non-outer posexplode (:105).

Scale posture: the expansion is embarrassingly parallel (no shuffle); output
row count is sum(samples), so the only 100 TB concern is output partition
sizing — pair with io.write_parquet's file-size targeting. Per-row expansion
is order-independent, so the reference's global orderBy (:67) lives with the
job, not here: ``reference_job.run_reference_job`` keeps the total order with
a range partition of one partition per core, sorted within each. A plain
orderBy would let AQE size that stage by the shuffled bytes of the
pre-expansion intervals — small enough to coalesce into a single task, which
would then do the whole ~30x fan-out and write alone.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from ..functions import _quote_ident


def expand_intervals(
    df: DataFrame,
    *,
    start: str = "start_time",
    end: str = "end_time",
    samples: str = "samples",
    mode: str = "strict",
    idx_col: str = "sample_idx",
    keep_interval_cols: bool = False,
) -> DataFrame:
    """Expand each interval row into ``samples`` evenly-spaced sample rows.

    strict mode output: all pass-through columns, plus ``idx_col`` (0-based
    position) and ``start``/``end`` overwritten with the per-sample interval
    ``[start + i*delta, start + (i+1)*delta]`` in TIMESTAMP at microsecond
    resolution.

    compat mode reproduces the reference's output exactly (string timestamps,
    second truncation, [0,-1] artifact for samples=0).

    ``keep_interval_cols=True`` additionally retains the ORIGINAL interval
    bounds as ``interval_start`` / ``interval_end`` (the per-sample values
    overwrite ``start``/``end``), so downstream code can recover which run
    a sample came from without a join back.
    """
    if mode not in ("strict", "compat"):
        raise ValueError(f"mode must be 'strict' or 'compat', got {mode!r}")

    s, e, n, i = (_quote_ident(c) for c in (start, end, samples, idx_col))

    if mode == "strict":
        # microsecond-exact arithmetic on BIGINT epochs; delta as double of
        # micros, floored per-sample so first sample == start exactly.
        out = df.where(f"{n} IS NOT NULL AND {n} >= 1").selectExpr(
            "*",
            f"unix_micros(CAST({s} AS TIMESTAMP)) AS __start_us",
            f"(unix_micros(CAST({e} AS TIMESTAMP))"
            f" - unix_micros(CAST({s} AS TIMESTAMP)))"
            f" / CAST({n} AS DOUBLE) AS __delta_us",
        )
        last = f"CAST({n} AS INT) - 1"
        per_sample = {
            start: f"timestamp_micros(__start_us + floor({i} * __delta_us))",
            end: f"timestamp_micros(__start_us"
            f" + floor(({i} + 1) * __delta_us))",
        }
    else:
        # compat: faithful reproduction of pyspark_skript/pyspark_script.py
        # :70-124, sequence(0, -1) artifact for samples=0 included
        out = df.selectExpr(
            "*",
            f"CASE WHEN {n} IS NOT NULL AND {n} != 0"
            f" THEN (unix_timestamp({e}) - unix_timestamp({s})) / {n}"
            " ELSE 0 END AS __delta_s",
        )
        last = f"{n} - 1"
        per_sample = {
            start: f"from_unixtime(unix_timestamp({s}) + {i} * __delta_s)",
            end: f"from_unixtime(unix_timestamp({s})"
            f" + ({i} + 1) * __delta_s)",
        }
    out = out.selectExpr(
        "*", f"posexplode(sequence(0, {last})) AS ({i}, __i)"
    )
    if keep_interval_cols:
        per_sample.update(interval_start=s, interval_end=e)
    # one projection in the input's column order: per-sample values replace
    # their input column in place, new columns follow, the index comes last
    cols = [
        f"{per_sample.pop(c)} AS {_quote_ident(c)}"
        if c in per_sample
        else _quote_ident(c)
        for c in df.columns
    ]
    cols += [f"{x} AS {_quote_ident(c)}" for c, x in per_sample.items()]
    return out.selectExpr(*cols, i)


def intervals_from_events(
    events: DataFrame,
    *,
    key: str = "user_id",
    ts: str = "ts",
    value: str = "value",
    value_cents_exact: bool = False,
) -> DataFrame:
    """Derive an interval-encoded frame from an event stream: one interval
    per key spanning [min(ts), max(ts)] with count(*) samples and the mean
    reading — the SURVEY.md §7 stage-0 source frame for the flagship query.

    ``value_cents_exact=True`` computes the mean ROUNDED TO 4dp exactly
    for values on a 2-decimal grid: sum integer cents, half-up-round the
    rational (cents*100)/n with integer arithmetic ((2a + n) DIV 2n for
    a, n >= 0), one final /1e4 landing on a 4dp grid every engine
    represents identically. The plain double avg is one summation-order
    ulp from the decimal boundary whenever the exact mean IS a 4dp tie —
    round(avg, 4) then flips between engines (seen at sf0.1, user 51:
    exact mean 56.20875). Requires nonnegative grid values and
    sum(cents)*200 < 2^63 per key."""
    if value_cents_exact:
        cents = F.round(F.col(value) * 100).cast("long")
        return (
            events.groupBy(key)
            .agg(
                F.min(ts).alias("start_time"),
                F.max(ts).alias("end_time"),
                F.count(F.lit(1)).alias("samples"),
                F.sum(cents).alias("__cents"),
            )
            .withColumn(
                "reading",
                F.expr(
                    "(2 * __cents * 100 + samples) DIV (2 * samples)"
                )
                / F.lit(10000.0),
            )
            .drop("__cents")
        )
    return events.groupBy(key).agg(
        F.min(ts).alias("start_time"),
        F.max(ts).alias("end_time"),
        # bigint, not int: at fact scale a key can exceed 2^31-1 events,
        # and a wrapped negative count would be silently DROPPED by
        # expand_intervals' n >= 1 filter; the sequence cast happens there
        F.count(F.lit(1)).alias("samples"),
        F.avg(value).alias("reading"),
    )

