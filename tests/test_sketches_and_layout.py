"""Tests for mergeable sketches (operators/sketches.py) and the
scale-layout sinks (dynamic partition overwrite, compaction, ORC)."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from etl_hiscox_spark.operators.sketches import hll_partials, hll_rollup
from etl_hiscox_spark.registry import load_table
from etl_hiscox_spark.sources.readers import read_orc
from etl_hiscox_spark.sources.writers import (
    compact_parquet_to_dir,
    overwrite_partitions_dynamic,
)


def _parquet_files(path: str) -> list[str]:
    return [
        os.path.join(root, f)
        for root, _, files in os.walk(path)
        for f in files
        if f.endswith(".parquet")
    ]


# ---------------------------------------------------------------- sketches


def test_hll_rollup_within_tolerance_of_exact(spark, sf_dir):
    orders = load_table(spark, "orders", sf_dir)
    daily = hll_partials(
        orders.withColumn("d", F.date_trunc("day", "o_orderdate")), ["d"], "o_custkey"
    )
    est = hll_rollup(
        daily.withColumn("m", F.date_trunc("month", "d")), ["m"], alias="est"
    )
    exact = orders.groupBy(F.date_trunc("month", "o_orderdate").alias("m")).agg(
        F.countDistinct("o_custkey").alias("exact")
    )
    joined = est.join(exact, "m").collect()
    assert joined, "no months produced"
    for row in joined:
        # lgK=12 → ~1.6% RSE; 5% is > 3 sigma
        assert abs(row.est - row.exact) <= max(2, 0.05 * row.exact), row


def test_hll_merge_equals_direct_sketch(spark, sf_dir):
    # Merging per-day sketches must estimate the same cardinality as one
    # sketch built over the whole table (mergeability — the property that
    # makes the partials table reusable for every coarser rollup).
    orders = load_table(spark, "orders", sf_dir)
    daily = hll_partials(
        orders.withColumn("d", F.date_trunc("day", "o_orderdate")), ["d"], "o_custkey"
    )
    merged = hll_rollup(daily, (), alias="est").collect()[0].est
    direct = (
        orders.agg(
            F.hll_sketch_estimate(F.hll_sketch_agg("o_custkey", F.lit(12))).alias("e")
        )
        .collect()[0]
        .e
    )
    assert merged == direct


# ------------------------------------------------------------ layout sinks


def test_dynamic_partition_overwrite_leaves_other_partitions(spark, tmp_path):
    path = str(tmp_path / "t")
    full = spark.createDataFrame(
        [("2024-01-01", 1, "a"), ("2024-01-01", 2, "b"), ("2024-01-02", 3, "c")],
        ["ds", "id", "v"],
    )
    overwrite_partitions_dynamic(full, path, ("ds",))
    # Reprocess ONLY day 1 with corrected values.
    day1 = spark.createDataFrame([("2024-01-01", 1, "A")], ["ds", "id", "v"])
    overwrite_partitions_dynamic(day1, path, ("ds",))
    # Partition-dir values come back type-inferred (date) — normalize.
    back = spark.read.parquet(path).withColumn("ds", F.col("ds").cast("string"))
    out = {(r.ds, r.id, r.v) for r in back.collect()}
    assert out == {("2024-01-01", 1, "A"), ("2024-01-02", 3, "c")}


def test_compact_small_files_preserves_data(spark, tmp_path):
    path, out = str(tmp_path / "frag"), str(tmp_path / "compact")
    df = spark.range(10000).withColumn("v", F.col("id") * 2)
    df.repartition(32).write.parquet(path)
    assert len(_parquet_files(path)) >= 32
    n_out = compact_parquet_to_dir(spark.read.parquet(path), [path], out, target_file_mb=256)
    assert n_out < 32
    assert len(_parquet_files(out)) == n_out
    back = spark.read.parquet(out)
    assert back.count() == 10000
    assert back.agg(F.sum("v")).collect()[0][0] == 9999 * 10000  # sum 2i, i<10000


def test_compact_sorted_layout_clusters_key(spark, tmp_path):
    path, out = str(tmp_path / "frag"), str(tmp_path / "sorted")
    spark.range(5000).select(
        (F.xxhash64("id") % 1000).alias("k"), F.col("id").alias("v")
    ).repartition(16).write.parquet(path)
    compact_parquet_to_dir(
        spark.read.parquet(path), [path], out, target_file_mb=1, sort_by=("k",)
    )
    # Range-partitioned + sorted: each file owns a disjoint k-range, so
    # parquet min/max stats prune point lookups to one file.
    stats = []
    for f in _parquet_files(out):
        one = spark.read.parquet(f).agg(F.min("k"), F.max("k")).collect()[0]
        if one[0] is not None:
            stats.append((one[0], one[1]))
    stats.sort()
    for (lo_a, hi_a), (lo_b, hi_b) in zip(stats, stats[1:]):
        assert hi_a <= lo_b, f"overlapping file ranges {stats}"


def test_orc_roundtrip(spark, sf_dir, tmp_path):
    nation = load_table(spark, "nation", sf_dir)
    path = str(tmp_path / "nation_orc")
    nation.write.mode("overwrite").orc(path)
    back = read_orc(spark, path)
    assert {tuple(r) for r in back.collect()} == {tuple(r) for r in nation.collect()}
