"""Aggregation operators (SURVEY.md §2.4 A1-A11) and profile helpers.

Everything here is a single ``agg`` pass — the reference's quality profiling
scans its data once per metric (``tests/data_quality/test_insurance_data_quality.py:294-335``);
we fold completeness + uniqueness + validity into one job (map-side partial
aggregation, one shuffle).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def exact_money(col: Column | str) -> Column:
    """Exact DECIMAL(18,2) view of a money column for deterministic sums.

    Double-precision sums are order-dependent; decimal sums are exact and
    hash-stable against a SQL oracle (SURVEY.md §7 pitfalls).
    """
    c = F.col(col) if isinstance(col, str) else col
    return c.cast("decimal(18,2)")


def money_sum(col: Column | str, alias: str) -> Column:
    """SUM over exact decimals, returned as double (engine-portable type)."""
    return F.sum(exact_money(col)).cast("double").alias(alias)


def money_avg(col: Column | str, alias: str) -> Column:
    """Deterministic average: exact decimal sum / count, double division."""
    c = F.col(col) if isinstance(col, str) else col
    return (F.sum(exact_money(c)).cast("double") / F.count(c)).alias(alias)


def completeness_profile(df: DataFrame, cols: Sequence[str] | None = None) -> DataFrame:
    """A8: per-column non-null ratio, one row, one pass.

    Ratio = count(col)/count(*) — computed as double division of exact
    longs so it hash-matches ``count(c)::double / count(*)`` in any SQL
    dialect.
    """
    cols = cols or df.columns
    total = F.count(F.lit(1))
    return df.agg(
        total.alias("row_count"),
        *[
            F.try_divide(F.count(F.col(c)).cast("double"), total).alias(f"{c}_completeness")
            for c in cols
        ],
    )


def duplicate_stats(df: DataFrame, keys: Sequence[str]) -> DataFrame:
    """A9: duplicate count + ratio on a business key, one pass."""
    total = F.count(F.lit(1))
    distinct = F.count_distinct(*[F.col(k) for k in keys])
    return df.agg(
        total.alias("row_count"),
        distinct.alias("distinct_count"),
        (total - distinct).alias("duplicate_count"),
        F.try_divide((total - distinct).cast("double"), total).alias("duplicate_ratio"),
    )
