"""Shuffle-planning diagnostics — measure key skew BEFORE shipping a join.

At the 100 TB design point the difference between a balanced shuffle and a
straggler is one heavy key (VERDICT r3-r6 arc: broadcast policy, AQE
skew-join, salting). The profile here is the decision input: if the top
key's share of rows is ~1/parallelism the hash shuffle balances; a key
with share >> 1/parallelism is the AQE skew-join candidate, and a
handful of keys owning most rows says "broadcast the other side" (when
bounded).

(Reference repo has no equivalent — it never joins at scale; EXT tier.)

Plan shape: one map-side-combined count aggregate (shuffle = |distinct
keys| fixed-width rows), a 1-row total broadcast onto it, and a top-k
TakeOrderedAndProject. Nothing touches the driver but the final k rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from etl_hiscox_spark.operators.caching import attach_owned_caches


def key_skew_profile(df: DataFrame, key_col: str, top_k: int = 10) -> DataFrame:
    """Top-k heaviest keys with their share of rows and multiple-of-mean
    key load.

    Output: (key string, n_rows, share, x_mean) ordered by n_rows desc
    with key as the deterministic tiebreak (NULL first among ties).
    ``share`` = n_rows / total; ``x_mean`` = n_rows / (total /
    distinct_keys) — how many times an average key's load this key
    carries. NULL keys profile as their own bucket with key NULL in the
    output: at scale NULL is routinely THE heavy hitter (failed parses,
    absent foreign keys), and a string sentinel would collide with a
    genuine 'NULL' key value.
    """
    counts = (
        df.select(F.col(key_col).cast("string").alias("key"))
        .groupBy("key")
        .agg(F.count(F.lit(1)).alias("n_rows"))
        # counts feeds two branches (the totals reduce and the top-k);
        # without the lazy persist each branch re-scans and re-aggregates
        # the full input — a double corpus scan at the design point
        # (ReuseExchange does not dedupe the identical subtrees here).
        # Same precedent as dedup.jaccard_pairs' shingle stem; same
        # lifecycle: the cache rides the returned frame, freed by
        # ``caching.release_caches(result)`` once materialized.
        .persist()
    )
    totals = counts.agg(
        F.sum("n_rows").alias("_total"), F.count(F.lit(1)).alias("_distinct")
    )
    out = (
        counts.crossJoin(F.broadcast(totals))
        .select(
            "key",
            "n_rows",
            (F.col("n_rows") / F.col("_total")).alias("share"),
            (
                F.col("n_rows")
                / (F.col("_total") / F.col("_distinct"))
            ).alias("x_mean"),
        )
        .orderBy(F.col("n_rows").desc(), F.col("key").asc_nulls_first())
        .limit(top_k)
    )
    return attach_owned_caches(out, [counts])
