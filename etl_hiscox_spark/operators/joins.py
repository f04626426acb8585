"""Join operators (SURVEY.md §2.3 J1-J7).

J1-J5 are plain DataFrame joins (Catalyst picks broadcast vs shuffle; we add
explicit ``F.broadcast`` hints for known-small dimensions). J6 (range/interval
join) and J7 (as-of join) are the two the reference's gold layer needs that
Spark has no single operator for — both are expressed as compositions that
keep the heavy lifting in one equi-shuffle plus a window, never a cartesian
product.

Scale notes:
- ``range_join``: equality keys first (equi-shuffle), range predicate as a
  post-join filter — Catalyst evaluates it inside the SortMergeJoin, so no
  blow-up beyond the key match.
- ``asof_join``: union + window instead of the naive inequality join
  (which would be O(n*m) per key). One shuffle on the key, one sort —
  the same trick Flink/QuestDB use for ASOF.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def broadcast_join(
    fact: DataFrame,
    dim: DataFrame,
    on: str | Sequence[str],
    how: str = "inner",
    *,
    fixed_size: bool = False,
) -> DataFrame:
    """J3: fact-to-dimension join with a scale-safe broadcast policy.

    Hint policy (VERDICT r5 item 3): ``F.broadcast`` is a FORCE, not a
    suggestion — it overrides ``autoBroadcastJoinThreshold`` and builds the
    dim on every executor regardless of its actual size. That is only safe
    for dims whose cardinality does not grow with data volume (the
    reference's agents/adjusters lookups, 4 rows each,
    ``data/raw/sample_policies.csv``; TPC-H nation=25 / region=5). Dims
    that scale with the fact data (customer/part/supplier grow linearly
    with SF — customer is ~10⁹ rows at the 100 TB design point) must NOT
    carry the hint: pass ``fixed_size=False`` (default) and let CBO + AQE
    decide — stats are collected via ANALYZE, so Catalyst still picks
    BroadcastHashJoin whenever the dim genuinely fits under the threshold,
    and falls back to a shuffle join instead of an executor OOM when it
    doesn't.
    """
    return fact.join(F.broadcast(dim) if fixed_size else dim, on=on, how=how)


def range_join(
    left: DataFrame,
    right: DataFrame,
    keys: Sequence[str],
    range_cond: Column,
    how: str = "inner",
) -> DataFrame:
    """J6: equi-key join with an additional range/interval predicate.

    The reference shape: claim joined to its policy where ``claim_date``
    within ``[start_date, end_date]`` (policy-validity join,
    ``tests/data_quality/test_insurance_data_quality.py:173-178``). Keeping
    the equality keys in ``on`` ensures a hash/sort-merge join; the range
    condition is applied as part of the join condition (no cartesian).
    """
    cond = None
    for k in keys:
        c = left[k] == right[k]
        cond = c if cond is None else cond & c
    cond = range_cond if cond is None else cond & range_cond
    return left.join(right, on=cond, how=how)


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    right_values: Sequence[str],
    suffix: str = "_asof",
    right_tiebreakers: Sequence[str] = (),
) -> DataFrame:
    """J7: as-of join — for each left row, the latest right row with
    ``right_ts <= left_ts`` on the same key.

    Implementation: tag and union both sides, sort within key by (ts,
    side) with a window carrying ``last(right_value, ignorenulls)`` —
    one shuffle on ``key``, one sort, no inequality join. This is the
    SCD-2 "policy version in force at claim time" lookup
    (``dbt/dbt_project.yml:49-53`` snapshot strategy).

    Rows from ``left`` are all preserved (left outer semantics); right
    columns are null when no prior right row exists.

    ``right_tiebreakers``: columns of ``right`` that make (key, ts,
    tiebreakers) a total order. When two right rows share (key, ts), the
    one sorting LAST by the tiebreakers wins. Omit only when (key, ts) is
    already unique on the right — otherwise the carried value is
    partitioning-dependent.
    """
    lcols = left.columns
    tagged_left = left.select(
        F.col(key).alias("__k"),
        F.col(left_ts).alias("__ts"),
        F.lit(1).alias("__side"),
        *[F.lit(None).cast(right.schema[t].dataType).alias(f"__tb_{t}") for t in right_tiebreakers],
        *[F.col(c) for c in lcols],
        *[F.lit(None).cast(right.schema[v].dataType).alias(f"__v_{v}") for v in right_values],
    )
    tagged_right = right.select(
        F.col(key).alias("__k"),
        F.col(right_ts).alias("__ts"),
        F.lit(0).alias("__side"),
        *[F.col(t).alias(f"__tb_{t}") for t in right_tiebreakers],
        *[F.lit(None).cast(left.schema[c].dataType).alias(c) for c in lcols],
        *[F.col(v).alias(f"__v_{v}") for v in right_values],
    )
    unioned = tagged_left.unionByName(tagged_right)
    # Right rows sort before left rows at equal ts (side 0 < 1) => ties are
    # inclusive: a right row at exactly left_ts is visible to that left row.
    # Among right rows at equal (key, ts), tiebreakers asc => last() picks
    # the highest tiebreaker (NULLs from the left side sort first in asc,
    # keeping left rows after all right rows at the same ts regardless).
    w = (
        Window.partitionBy("__k")
        .orderBy(
            F.col("__ts").asc(),
            F.col("__side").asc(),
            *[F.col(f"__tb_{t}").asc_nulls_last() for t in right_tiebreakers],
        )
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = unioned.select(
        "*",
        *[
            F.last(F.col(f"__v_{v}"), ignorenulls=True).over(w).alias(f"{v}{suffix}")
            for v in right_values
        ],
    )
    return filled.filter(F.col("__side") == 1).select(
        *lcols, *[f"{v}{suffix}" for v in right_values]
    )
