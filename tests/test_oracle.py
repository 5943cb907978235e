"""Differential correctness: every registered query with a DuckDB oracle is
executed both ways at sf0.01 and compared exactly — row count, column names,
and order-insensitive values — mirroring the driver's t2 gate."""

from __future__ import annotations

import math

import pandas as pd
import pytest

from batch_processing_iac_aws_spark.plans import ORACLES, QUERIES

from .conftest import SF_CORRECT


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    """Sort columns by name, canonicalize cell values, sort rows."""
    df = df.reindex(sorted(df.columns), axis=1)

    def cell(v):
        import datetime as dt

        if isinstance(v, float):
            if math.isnan(v):
                return None
            return v
        if isinstance(v, dt.date) and not isinstance(v, dt.datetime):
            return dt.datetime(v.year, v.month, v.day)
        if isinstance(v, (list, tuple)):
            return tuple(cell(x) for x in v)
        try:
            import numpy as np

            if isinstance(v, np.ndarray):
                return tuple(cell(x) for x in v.tolist())
            if isinstance(v, np.generic):
                return cell(v.item())
        except ImportError:
            pass
        if isinstance(v, pd.Timestamp):
            return v.to_pydatetime()
        if v is pd.NaT:
            return None
        return v

    records = [tuple(cell(v) for v in row) for row in df.itertuples(index=False)]
    records.sort(key=lambda r: tuple((x is None, str(x)) for x in r))
    return pd.DataFrame(records, columns=df.columns)


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_oracle_match(name, spark, duck):
    sdf = QUERIES[name](spark, SF_CORRECT).toPandas()
    odf = duck.execute(ORACLES[name]).df()

    assert len(sdf) == len(odf), f"{name}: row count {len(sdf)} != {len(odf)}"
    assert sorted(map(str.lower, sdf.columns)) == sorted(
        map(str.lower, odf.columns)
    ), f"{name}: columns {sorted(sdf.columns)} != {sorted(odf.columns)}"

    sdf.columns = [c.lower() for c in sdf.columns]
    odf.columns = [c.lower() for c in odf.columns]

    # Dtype twin of test_output_columns_are_hashable (round-4 red
    # `docs_token_budget`): the driver hashes canonicalized cell reprs, so a
    # DuckDB HUGEINT/DOUBLE widening (`0.0`) against a Spark int64 (`0`)
    # mismatches even when every value is numerically equal. Catch the bug
    # class here: an integer-typed column on either side must not arrive as
    # float/object on the other. (Null-bearing integer columns degrade to
    # float64 with NaN on BOTH sides, so they still agree and pass.)
    for col in sdf.columns:
        sk, ok = sdf[col].dtype.kind, odf[col].dtype.kind
        assert not (sk in "iu" and ok in "fO"), (
            f"{name}.{col}: Spark integer arrives as {odf[col].dtype} from "
            "DuckDB — CAST the oracle expression AS BIGINT"
        )
        assert not (ok in "iu" and sk in "fO"), (
            f"{name}.{col}: oracle integer vs Spark {sdf[col].dtype} — "
            "cast the Spark column or the oracle to the same family"
        )

    a, b = _canon(sdf), _canon(odf)
    mismatches = []
    for col in a.columns:
        if not a[col].equals(b[col]):
            for i, (x, y) in enumerate(zip(a[col], b[col])):
                if x != y and not (x is None and y is None):
                    mismatches.append((col, i, x, y))
                if len(mismatches) > 5:
                    break
    assert not mismatches, f"{name}: value mismatches {mismatches[:5]}"


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_output_columns_are_hashable(name, spark):
    """The driver canonicalizes results via pandas sort_values + hashing;
    ArrayType/MapType cells arrive as numpy arrays / dicts and crash it
    (round-2 `array_funcs` failure, round-3 `agg_freq_items` failure — a
    rows-only query, which is why this guard now covers ALL of QUERIES,
    not just ORACLES: rows-only results still flow through the driver's
    pandas canonicalizer). Every query must project scalars only —
    serialize lists with array_join or unpack to columns."""
    from pyspark.sql.types import ArrayType, MapType

    df = QUERIES[name](spark, SF_CORRECT)
    offenders = [
        f.name
        for f in df.schema.fields
        if isinstance(f.dataType, (ArrayType, MapType))
    ]
    assert not offenders, f"{name}: unhashable output columns {offenders}"


# (the rows-only runner that used to live here is gone: since round 10
# every registered query carries a DuckDB oracle — set(QUERIES) ==
# set(ORACLES), enforced by tests/test_registry.py — so the empty
# parametrize only produced a phantom SKIPPED entry)


def test_entry_smoke(spark):
    import __spark_entry__ as mod

    df = mod.entry(spark)
    assert df.count() > 0


@pytest.mark.parametrize(
    "sf_dir",
    ["/root/testdata/sf0.001", "/root/testdata/sf0.01", "/root/testdata/sf0.1"],
)
def test_udf_grouped_zscore_fixture_has_no_rounding_ties(sf_dir):
    """Tie-detection guard for the one remaining float-rounded oracle
    with no integer-exact form: udf_grouped_zscore rounds a
    stddev-derived double to 4dp on both engines. The r8 bug class
    (interval_expand, commit a8215d4) was a value landing EXACTLY on a
    decimal rounding tie, where Spark's HALF_UP and the engines'
    different summation orders pick different sides. stddev has no
    integer-lattice rewrite, so instead this guard FAILS LOUDLY if any
    z-score in any fixture SF sits within 1e-9 of a .00005 boundary —
    regenerate-data drift lands here as a named failure, not a silent
    driver hash mismatch. (Cross-engine z differences are ~1e-12; a
    1e-9 margin means both engines provably round identically.)"""
    import duckdb

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM '{sf_dir}/events.parquet'"
    )
    dist = con.execute(
        """
        SELECT min(abs(abs(z * 10000 - floor(z * 10000)) - 0.5)) FROM (
            SELECT (value - avg(value) OVER w) / stddev_samp(value) OVER w
                       AS z
            FROM events WINDOW w AS (PARTITION BY user_id)
        ) WHERE z IS NOT NULL
        """
    ).fetchone()[0]
    con.close()
    assert dist is not None and dist > 1e-9, (
        f"z-score within {dist} of a 4dp rounding tie at {sf_dir} — "
        "the a8215d4 bug class; widen the oracle rounding or re-fixture"
    )
