"""Deterministic, engine-portable aggregate expressions.

Floating-point SUM/AVG are order-dependent (parallel reduction order varies
run to run) and ROUND(double) differs between engines on .5 ties — these
helpers route money/quantity aggregation through exact decimal/integer
arithmetic so results are bit-identical across engines and partitionings.
"""

from __future__ import annotations

from pyspark.sql import functions as F

#: decimal scale (places kept) and precision of ``dsum``'s exact sum
DSUM_SCALE = 2
DSUM_PREC = 18
#: ``group_concat_distinct`` separator (MySQL's default)
GROUP_CONCAT_SEP = ","


def dsum(col):
    """Exact decimal sum -> double, rounded to ``DSUM_SCALE`` places
    (order-independent)."""
    return F.round(
        F.sum(col.cast(f"decimal({DSUM_PREC},{DSUM_SCALE})")).cast("double"),
        DSUM_SCALE,
    )


def davg(col):
    """Average truncated to 6 decimals via exact integer floor-division.

    ``ROUND(sum::double / count, 6)`` is NOT engine-portable: when the exact
    quotient lands on a .5 tie, engines disagree. Instead compute
    ``(sum_in_micro_units DIV count) / 1e6`` — exact decimal/integer
    arithmetic end to end (the decimal division keeps the quotient exact
    past 2^53), so both engines produce the identical double.
    Positive-domain only (floor-division conventions differ for negatives).
    """
    num = (F.sum(col.cast("decimal(24,2)")) * 1000000).cast("long")
    cnt = F.count(col)
    # IntegralDivide: the whole quotient stays in LONG space (exact for any
    # sum that fits a long, i.e. well past 2^53 — where a double-division
    # detour would silently round). Matches DuckDB's BIGINT `//` exactly.
    exact_quot = F.call_function("div", num, cnt)
    return F.when(cnt > 0, exact_quot / F.lit(1000000.0)).otherwise(
        F.lit(None).cast("double")
    )


def group_concat_distinct(col):
    """MySQL GROUP_CONCAT(DISTINCT x) with deterministic ordering:
    sort_array canonicalizes what MySQL leaves unspecified
    (reference models/marts/core/dim_games.sql:9-12; SURVEY §4)."""
    return F.concat_ws(GROUP_CONCAT_SEP, F.sort_array(F.collect_set(col)))
