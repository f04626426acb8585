"""Mergeable sketch aggregations — the 100 TB pre-aggregation pattern.

At scale you never re-scan the fact table to answer "distinct customers
this month / this quarter / all time". You build a small MERGEABLE summary
per fine-grained partition (day, shard) once, then answer every coarser
rollup by merging summaries — megabytes of sketch instead of terabytes of
scan. Spark 3.5+ ships Apache DataSketches HLL natively
(``hll_sketch_agg`` / ``hll_union_agg`` / ``hll_sketch_estimate``), so the
whole pattern stays JVM-side and codegen'd.

The reference's dbt layer recomputes gold aggregates with full-table
``COUNT(DISTINCT ...)`` scans per run (``dbt/models/marts/claims_summary.sql``)
— correct at 15 rows, a rescan-per-question at 100 TB. This module is the
scale replacement: build partials once, merge per question.

Error: HLL with lgK=12 gives ~1.6% relative standard error — the driver's
exact-equality oracle can't check estimates, so estimate queries are
declared rows-only and the exact twin is oracle-checked; tests pin the
estimate within tolerance of the exact value.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

DEFAULT_LGK = 12  # 2^12 registers ≈ 1.6% RSE, 4 KB per sketch


def hll_partials(
    df: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
    lgk: int = DEFAULT_LGK,
    sketch_col: str = "sketch",
) -> DataFrame:
    """One HLL sketch (binary) per group — the write-once summary table.

    This is the DataFrame you'd materialize partitioned by the finest
    rollup grain (e.g. day): map-side partial aggregation means each
    input partition contributes one 4 KB sketch to the shuffle, so shuffle
    volume is |groups| × 4 KB regardless of fact-table size.
    """
    return df.groupBy(*group_cols).agg(
        F.hll_sketch_agg(F.col(value_col), F.lit(lgk)).alias(sketch_col)
    )


def hll_estimate(sketch: Column | str, alias: str = "approx_distinct") -> Column:
    """Point estimate of a (possibly merged) sketch column."""
    c = F.col(sketch) if isinstance(sketch, str) else sketch
    return F.hll_sketch_estimate(c).alias(alias)


def hll_rollup(
    partials: DataFrame,
    group_cols: Sequence[str],
    sketch_col: str = "sketch",
    alias: str = "approx_distinct",
) -> DataFrame:
    """Merge fine-grained sketches up to ``group_cols`` and estimate.

    Input is the ``hll_partials`` table, NOT the fact table — answering a
    month/region/all-time question costs a scan of |fine groups| sketches.
    Pass ``group_cols=()`` for the global estimate.
    """
    merged = F.hll_union_agg(F.col(sketch_col))
    if group_cols:
        return partials.groupBy(*group_cols).agg(hll_estimate(merged, alias))
    return partials.agg(hll_estimate(merged, alias))
