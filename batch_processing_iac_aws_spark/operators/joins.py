"""Join operators Spark lacks as built-ins: as-of (point-in-time) joins and
interval-overlap joins, expressed as compositions of existing DataFrame ops
(SURVEY.md §2B) — no custom Catalyst work, one shuffle each.

The as-of join uses the union+window pattern: instead of a non-equi join
(which Spark would execute as a broadcast-nested-loop at scale), both sides
are unioned on the key, sorted by time within key, and the right side's
attributes are forward-filled with ``last(..., ignorenulls=True)``. Cost: a
single shuffle on the key — the same partitioning a downstream keyed agg
would reuse. This is the standard scalable formulation of point-in-time
joins on Spark.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Window


def asof_join(
    left: DataFrame,
    right: DataFrame,
    *,
    on: str,
    left_ts: str,
    right_ts: str,
    suffix: str = "_right",
    direction: str = "backward",
    tolerance: Column | None = None,
) -> DataFrame:
    """For each left row, attach the right row with the greatest
    ``right_ts <= left_ts`` (direction='backward') or the least
    ``right_ts >= left_ts`` ('forward') within the same ``on`` key.

    Right columns (except the key) come back suffixed; all left columns pass
    through unchanged. Left rows with no match keep NULL right columns
    (left-outer as-of semantics, matching DuckDB's ASOF LEFT JOIN).

    ``tolerance`` (pandas merge_asof semantics): maximum allowed distance
    between the two timestamps — a match farther away than this reverts to
    NULL right columns. Pass an interval for timestamp keys
    (``F.expr("INTERVAL 5 MINUTES")``) or a number for numeric keys; the
    check is ``abs-distance <= tolerance`` computed in the time domain, so
    it adds no extra shuffle.
    """
    if direction not in ("backward", "forward"):
        raise ValueError(f"direction must be backward/forward, got {direction!r}")

    left_cols = left.columns
    right_cols = [c for c in right.columns if c != on]
    out_right = [f"{c}{suffix}" for c in right_cols]

    r = right.select(
        F.col(on),
        F.col(right_ts).alias("__t"),
        F.lit(0).alias("__side"),
        *[
            F.lit(None).cast(left.schema[c].dataType).alias(c)
            for c in left_cols
            if c != on
        ],
        *[F.col(c).alias(f"{c}{suffix}") for c in right_cols],
    )
    l = left.select(
        F.col(on),
        F.col(left_ts).alias("__t"),
        F.lit(1).alias("__side"),
        *[F.col(c) for c in left_cols if c != on],
        *[
            F.lit(None).cast(right.schema[c].dataType).alias(f"{c}{suffix}")
            for c in right_cols
        ],
    )
    unioned = r.unionByName(l)

    # Right rows sort before left rows at equal ts, so right_ts == left_ts
    # counts as "at or before" (ASOF >= semantics), both directions.
    order = (
        [F.col("__t").asc(), F.col("__side").asc()]
        if direction == "backward"
        else [F.col("__t").desc(), F.col("__side").asc()]
    )
    w = (
        Window.partitionBy(on)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )

    # forward-fill the matched right row as ONE struct, not per-column:
    # independent last(ignorenulls) per column would skip a NULL attribute
    # in the truly-matched row and pull that attribute from an OLDER right
    # row — mixing attributes across rows and defeating the tolerance
    # check (merge_asof fills whole rows). Right rows always produce a
    # non-null struct (even when every attribute is NULL), left rows NULL.
    right_row = F.when(
        F.col("__side") == 0,
        F.struct(*[F.col(f"{c}{suffix}").alias(c) for c in right_cols]),
    )
    filled = unioned.select(
        "*", F.last(right_row, ignorenulls=True).over(w).alias("__fr")
    )
    keep = None
    if tolerance is not None:
        matched_t = F.col("__fr").getField(right_ts)
        dist = (
            (F.col("__t") - matched_t)
            if direction == "backward"
            else (matched_t - F.col("__t"))
        )
        keep = dist <= tolerance

    def _right_out(c: str) -> Column:
        col = F.col("__fr").getField(c)
        if keep is None:
            return col.alias(f"{c}{suffix}")
        return F.when(keep, col).alias(f"{c}{suffix}")

    return filled.filter(F.col("__side") == 1).select(
        *[F.col(c) for c in left_cols],
        *[_right_out(c) for c in right_cols],
    )


def fuzzy_join(
    left: DataFrame,
    right: DataFrame,
    *,
    text_col: str,
    block_cols: "list[str]",
    left_id: str,
    right_id: str,
    max_dist_frac: float = 0.3,
    keep: str = "best",
    suffix: str = "_right",
) -> DataFrame:
    """Record linkage (entity resolution) as blocking + verify + select:
    join two tables on a DIRTY text key. Candidate pairs must share
    ``block_cols`` — an equi-join that shuffles on the blocking key,
    never a cross join (the dedup_edit_distance discipline applied
    cross-table; at 100 TB candidate volume is the sum of
    |left-block| * |right-block|, tuned by the caller's bucket width) —
    then exact ``levenshtein`` verifies each candidate against the
    length-relative threshold ``max_dist_frac``, and ``keep`` selects:

    - ``"best"``: the single lowest-distance right match per left row
      (ties break on the right id ascending — deterministic), via a
      per-left-id window over the CANDIDATE set, which is
      blocking-bounded, never table-sized;
    - ``"all"``: every verified match pair.

    Returns ``(left_id, right_id, dist)`` with ``text_col`` from both
    sides (right one suffixed). Rows with no verified match are absent —
    compose with a left anti-join for the unmatched remainder.
    Boundary-straddling matches are the documented blocking recall
    trade; MinHash banding (dedup.py) is the recall-robust alternative
    when the key is long text rather than a short dirty string."""
    if keep not in ("best", "all"):
        raise ValueError(f"fuzzy_join: keep must be 'best'/'all', not {keep!r}")
    if not block_cols:
        raise ValueError(
            "fuzzy_join: block_cols must be non-empty — an unblocked "
            "fuzzy join is a cross join (|L| x |R| levenshtein calls), "
            "the exact shape blocking exists to prevent"
        )
    # identical id names (or an empty suffix collapsing the two text
    # columns) would surface as a cryptic AMBIGUOUS_REFERENCE deep in
    # the plan — refuse here with the function's own error instead
    if left_id == right_id:
        raise ValueError(
            f"fuzzy_join: left_id and right_id must differ (both "
            f"{left_id!r}) — alias one side before joining"
        )
    if not suffix:
        raise ValueError("fuzzy_join: suffix must be non-empty")
    from fractions import Fraction

    # integer-exact threshold: dist/maxlen <= frac cross-multiplies to
    # dist * denom <= num * maxlen — float casts are an engine trap
    # (Spark's double->int cast truncates, DuckDB's rounds, so the same
    # SQL-looking predicate admits different pairs near the boundary)
    from ..catalog import fanout_scan

    frac = Fraction(max_dist_frac).limit_denominator(1000)
    lt, rt = f"{text_col}", f"{text_col}{suffix}"
    # fan pathologically under-split scans out before the verify (r14,
    # guide §2.5): with single-row-group inputs the probe side of the
    # blocked broadcast join — and therefore EVERY levenshtein — ran as
    # one task (profiled: one 1-task 3.4 s job was the whole query).
    # Guarded no-op when the scans are already split, so the at-scale
    # plan is unchanged. BOTH sides are fanned INTENTIONALLY (r15,
    # ADVICE item): only the non-broadcast side's parallelism matters,
    # but which side broadcasts is an optimizer size ESTIMATE that can
    # flip with scale/filters — fanning both is robust to the flip, and
    # the broadcast side's extra exchange measured within noise
    # (in-session A/B at sf0.1: 0.73 s single-side vs 0.79 s both).
    a = fanout_scan(left.select(
        F.col(left_id), F.col(text_col).alias(lt), *block_cols
    ))
    b = fanout_scan(right.select(
        F.col(right_id), F.col(text_col).alias(rt), *block_cols
    ))
    # BOUNDED verify (r14 optimization, guide §1.2 "per-task work"):
    # levenshtein's 3-arg banded form early-exits once the distance
    # provably exceeds the per-pair threshold k = (num*maxlen) div denom
    # — O(k·len) instead of O(len²) per candidate, and far-apart decoy
    # pairs (most of the blocked candidate volume) exit almost
    # immediately. Integer dist <= the cross-multiplied threshold iff
    # dist <= k, so the bounded form returns every admitted pair's
    # distance EXACTLY; beyond-k pairs return -1 and are dropped by the
    # dist >= 0 guard (without the guard -1 would trivially pass the
    # cross-multiplied predicate). Verified bit-identical to the
    # unbounded form against the DuckDB oracle at sf0.001/0.01/0.1.
    dist = F.expr(
        f"levenshtein(`{lt}`, `{rt}`, ({frac.numerator}L * "
        f"greatest(length(`{lt}`), length(`{rt}`))) div "
        f"{frac.denominator}L)"
    )
    cand = (
        a.join(b, block_cols)
        .withColumn("dist", dist.cast("long"))
        .filter(
            (F.col("dist") >= 0)
            & (
                F.col("dist") * F.lit(frac.denominator)
                <= F.lit(frac.numerator)
                * F.greatest(F.length(lt), F.length(rt))
            )
        )
    )
    if keep == "all":
        return cand.select(left_id, right_id, "dist", lt, rt)
    w = Window.partitionBy(left_id).orderBy(
        F.col("dist").asc(), F.col(right_id).asc()
    )
    return (
        cand.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
        .select(left_id, right_id, "dist", lt, rt)
    )
