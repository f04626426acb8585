"""Snapshot diff — change-data-capture between two table versions.

The batch complement of the SCD-2 writer (``sources/writers.scd2_snapshot``)
and the foreachBatch upsert (X7): given two snapshots of the same logical
table, emit one row per changed key labeled ``I`` (insert: key only in
new), ``D`` (delete: key only in old), or ``U`` (update: key in both,
any compared column differs null-safely). Unchanged keys are dropped.

Plan shape: one full-outer sort-merge join on the key columns — both
sides shuffle once on the same key, so at 100 TB this is two scans + one
co-partitioned join; with both snapshots bucketed by key at write time
the Exchange disappears entirely (the same layout rule as fact⋈fact in
SCALING.md). The change-column compare is a codegen'd projection.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    keys: Sequence[str],
    compare_cols: Sequence[str] | None = None,
) -> DataFrame:
    """(keys..., op, changed_cols) for every inserted/deleted/updated key.

    ``compare_cols`` defaults to every shared non-key column. ``changed_cols``
    is a sorted comma-joined list of differing columns (empty for I/D) —
    scalar, not an array, so results stay hashable by any harness.
    Comparison is null-safe (NULL == NULL is *unchanged*, NULL vs value is
    a change), which is the MERGE semantics Delta/Iceberg users expect.
    """
    keys = list(keys)
    if compare_cols is None:
        shared = [c for c in old.columns if c in set(new.columns)]
        compare_cols = [c for c in shared if c not in keys]
    # Null-safe key equality + constant presence markers: a key that is
    # NULL in both snapshots matches itself (one row, compared normally)
    # instead of being misread as a simultaneous insert+delete, and
    # presence is judged from the marker — never from key nullability.
    o = old.select(keys + list(compare_cols)).withColumn("__in_old", F.lit(True)).alias("o")
    n = new.select(keys + list(compare_cols)).withColumn("__in_new", F.lit(True)).alias("n")
    cond = None
    for k in keys:
        eq = F.col(f"o.{k}").eqNullSafe(F.col(f"n.{k}"))
        cond = eq if cond is None else cond & eq
    joined = o.join(n, cond, "full_outer")
    in_old = F.col("o.__in_old").isNotNull()
    in_new = F.col("n.__in_new").isNotNull()

    def _differs(c: str) -> Column:
        return ~F.col(f"o.{c}").eqNullSafe(F.col(f"n.{c}"))

    changed_list = F.array_join(
        F.array_compact(
            F.array(
                *[F.when(_differs(c), F.lit(c)) for c in sorted(compare_cols)]
            )
        ),
        ",",
    )
    op = (
        F.when(~in_old, F.lit("I"))
        .when(~in_new, F.lit("D"))
        .when(changed_list != "", F.lit("U"))
    )
    key_cols = [
        F.coalesce(F.col(f"n.{k}"), F.col(f"o.{k}")).alias(k) for k in keys
    ]
    return (
        joined.select(
            *key_cols,
            op.alias("op"),
            F.when(in_old & in_new, changed_list).otherwise(F.lit("")).alias("changed_cols"),
        )
        .filter(F.col("op").isNotNull())
    )
