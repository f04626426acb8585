"""Window-function operators (SURVEY.md §2.5 W1-W5, §2.6 R3).

All are thin, deterministic compositions of ``pyspark.sql.Window`` — no
shuffling beyond the one hash-partition per window key that Spark already
requires, and every ordering carries an explicit unique tiebreaker so the
same query hash-matches a SQL oracle row-for-row (SURVEY.md §7).

Scale notes: a window over ``partitionBy(k)`` is one shuffle on ``k``;
un-partitioned windows (global running totals) serialize onto a single
task and are flagged in docstrings — at 100 TB use a partitioned variant.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _ordering(order_by: Sequence[Column | str], descending: bool) -> list[Column]:
    cols = [F.col(c) if isinstance(c, str) else c for c in order_by]
    return [c.desc() for c in cols] if descending else [c.asc() for c in cols]


def dedup_rank(
    df: DataFrame,
    keys: Sequence[str],
    order_by: Sequence[Column | str],
    descending: bool = True,
) -> DataFrame:
    """W1: deterministic one-row-per-key dedup.

    The reference deduplicates with ``dropDuplicates`` which keeps an
    *arbitrary* row (``scripts/ingestion.py:87``); this keeps the first row
    by an explicit ordering (e.g. latest ``updated_at``) so results are
    reproducible. ``order_by`` must be a total order within each key group
    (append a unique id as final tiebreaker).

    One shuffle on ``keys``; at scale this is the canonical "latest record
    per entity" pattern and AQE handles skewed keys.
    """
    w = Window.partitionBy(*keys).orderBy(*_ordering(order_by, descending))
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def top_k_per_group(
    df: DataFrame,
    keys: Sequence[str],
    order_by: Sequence[Column | str],
    k: int,
    descending: bool = True,
    rank_col: str = "rnk",
) -> DataFrame:
    """W4/R3: top-k rows per group with explicit tiebreak ordering.

    ``row_number`` (not ``rank``) so k is exact; callers that want
    ties-included semantics pass ``use_rank=True`` via :func:`ranked`.
    """
    w = Window.partitionBy(*keys).orderBy(*_ordering(order_by, descending))
    return (
        df.withColumn(rank_col, F.row_number().over(w))
        .filter(F.col(rank_col) <= k)
    )


def running_total(
    df: DataFrame,
    keys: Sequence[str],
    order_by: Sequence[Column | str],
    value: Column,
    alias: str = "running_total",
) -> DataFrame:
    """W5: cumulative aggregate per key ordered by ``order_by``.

    rowsBetween(unboundedPreceding, currentRow) — ``order_by`` must be
    unique within a key or the frame is nondeterministic vs. a SQL oracle
    (SQL RANGE vs Spark ROWS differ on ties; unique ordering makes them
    agree).
    """
    w = (
        Window.partitionBy(*keys)
        .orderBy(*_ordering(order_by, False))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return df.withColumn(alias, F.sum(value).over(w))


def rolling_agg(
    df: DataFrame,
    keys: Sequence[str],
    order_by: Sequence[Column | str],
    value: Column,
    preceding: int,
    agg: str = "avg",
    alias: str = "rolling_value",
) -> DataFrame:
    """W2: rolling frame aggregate (pandas ``rolling(window=n)`` parity).

    Mirrors the reference's rolling premium-trend check
    (``tests/data_quality/test_insurance_data_quality.py:279-289``).
    Frame = [current - preceding, current] in ROWS.
    """
    w = (
        Window.partitionBy(*keys)
        .orderBy(*_ordering(order_by, False))
        .rowsBetween(-preceding, Window.currentRow)
    )
    fn = getattr(F, agg)
    return df.withColumn(alias, fn(value).over(w))


def lag_compare(
    df: DataFrame,
    keys: Sequence[str],
    order_by: Sequence[Column | str],
    value: Column,
    alias: str = "prev_value",
) -> DataFrame:
    """W3: attach the previous row's value (trend comparisons)."""
    w = Window.partitionBy(*keys).orderBy(*_ordering(order_by, False))
    return df.withColumn(alias, F.lag(value).over(w))


def top_fraction_per_group(
    df: DataFrame,
    keys: Sequence[str],
    order_by: Sequence[Column | str],
    fraction: float,
    descending: bool = True,
    rank_col: str = "rnk",
) -> DataFrame:
    """Top ``fraction`` of each group's rows under an explicit tiebroken
    ordering — the per-domain quality-percentile gate of a curation
    pipeline ("keep the best 30% of every source by classifier score":
    an absolute threshold would empty low-quality domains entirely and
    keep boilerplate from high-quality ones).

    Keeps ``row_number <= ceil(fraction * group_size)`` — every non-empty
    group keeps at least one row, and the boundary is deterministic
    because callers must tiebreak ``order_by`` (same row_number contract
    as :func:`top_k_per_group`). One window shuffle; the count rides the
    same window, no second pass.
    """
    if not 0.0 < fraction <= 1.0:
        raise ValueError(f"fraction must be in (0, 1], got {fraction}")
    w = Window.partitionBy(*keys).orderBy(*_ordering(order_by, descending))
    wc = Window.partitionBy(*keys)
    return (
        df.withColumn(rank_col, F.row_number().over(w))
        .withColumn("__n", F.count(F.lit(1)).over(wc))
        .filter(F.col(rank_col) <= F.ceil(F.col("__n") * F.lit(float(fraction))))
        .drop("__n")
    )
