"""SQL models, observability, catalog stats, IVF ANN, salted joins."""

from __future__ import annotations

import json

import numpy as np
from pyspark.sql import functions as F

from etl_hiscox_spark.observability import write_with_metrics
from etl_hiscox_spark.operators.joins import salted_join
from etl_hiscox_spark.operators.similarity import cosine_topk, ivf_topk
from etl_hiscox_spark.plans.pipeline import Model, Pipeline, sql_model
from etl_hiscox_spark.registry import analyze_table, save_as_catalog_table, table_stats


def test_sql_model_pipeline(spark):
    # dbt-style: python bronze model feeding a SQL gold model via temp views
    def bronze(s, _):
        return s.createDataFrame(
            [("AUTO", 100.0), ("AUTO", 200.0), ("HOME", 50.0)], "t string, amt double"
        )

    p = Pipeline(spark)
    p.add(Model(name="bronze.claims", fn=bronze))
    p.add(
        sql_model(
            "gold.summary",
            "SELECT t, COUNT(*) AS n, SUM(amt) AS total FROM claims GROUP BY t",
            deps=("bronze.claims",),
        )
    )
    report = p.run()
    assert report.success
    # re-run through the runner to fetch output
    out = {r["t"]: (r["n"], r["total"]) for r in p.models["gold.summary"].fn(
        spark, {"bronze.claims": bronze(spark, {})}
    ).collect()}
    assert out == {"AUTO": (2, 300.0), "HOME": (1, 50.0)}


def test_write_with_metrics_single_pass(spark, tmp_path):
    df = spark.range(100).withColumn("v", F.col("id") % 10)
    m = write_with_metrics(
        df, str(tmp_path / "t"), step="bronze_claims", valid_predicate=F.col("v") < 8
    )
    assert m.records_processed == 100
    assert m.records_valid == 80
    assert m.records_invalid == 20
    assert 0 < m.quality_rate == 0.8
    line = json.loads(m.to_log_line())
    assert line["total_records"] == 100 and line["quality_rate"] == 0.8
    assert spark.read.parquet(str(tmp_path / "t")).count() == 100


def test_catalog_stats_roundtrip(spark):
    df = spark.range(1000).withColumn("k", F.col("id") % 7)
    save_as_catalog_table(df, "stats_demo")
    analyze_table(spark, "stats_demo", columns=["k"])
    stats = table_stats(spark, "stats_demo")
    assert "statistics" in stats and "1000 rows" in stats["statistics"]
    spark.sql("DROP TABLE stats_demo")


def test_bucketed_tables_join_without_shuffle(spark):
    a = spark.range(0, 1000).withColumn("v", F.col("id") * 2)
    b = spark.range(0, 1000).withColumn("w", F.col("id") * 3)
    save_as_catalog_table(a, "bt_a", bucket_by=(4, ("id",)))
    save_as_catalog_table(b, "bt_b", bucket_by=(4, ("id",)))
    # Force the sort-merge path (tiny test tables would broadcast, which
    # sidesteps bucketing) — at fact⋈fact scale SMJ is what actually runs.
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = spark.table("bt_a").join(spark.table("bt_b"), "id")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        # co-located buckets: a shuffle (Exchange hashpartitioning) must NOT
        # appear on either side of the SortMergeJoin
        assert "SortMergeJoin" in plan
        assert "Exchange hashpartitioning" not in plan
        assert joined.count() == 1000
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    spark.sql("DROP TABLE bt_a")
    spark.sql("DROP TABLE bt_b")


def test_ivf_topk_matches_exact_on_probed_all(spark):
    rng = np.random.default_rng(3)
    vecs = rng.standard_normal((120, 8)).astype(np.float32)
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(120)],
        "vec_id long, embedding array<float>",
    )
    q = [float(x) for x in vecs[5]]
    exact = [r["vec_id"] for r in cosine_topk(df, "embedding", "vec_id", q, k=5).collect()]
    # probing every cluster must reproduce exact search
    full = [
        r["vec_id"]
        for r in ivf_topk(df, "embedding", "vec_id", q, k=5, n_clusters=6, n_probe=6).collect()
    ]
    assert full == exact
    # probing a subset still finds the query vector itself
    approx = [
        r["vec_id"]
        for r in ivf_topk(df, "embedding", "vec_id", q, k=5, n_clusters=6, n_probe=2).collect()
    ]
    assert 5 in approx
    # sample-trained centroids (the 100 TB path): every row is still
    # assigned, and probing every cluster still reproduces exact search —
    # centroid placement affects recall at partial probe, never coverage.
    sampled = [
        r["vec_id"]
        for r in ivf_topk(
            df, "embedding", "vec_id", q, k=5, n_clusters=6, n_probe=6, train_fraction=0.5
        ).collect()
    ]
    assert sampled == exact


def test_approx_count_distinct_tolerance(spark, sf_dir):
    # A5 scale variant: HLL approx distinct within its rsd bound — the
    # 100 TB substitute for exact countDistinct on high-cardinality keys.
    from etl_hiscox_spark.registry import load_table

    li = load_table(spark, "lineitem", sf_dir)
    row = li.agg(
        F.countDistinct("l_orderkey").alias("exact"),
        F.approx_count_distinct("l_orderkey", rsd=0.02).alias("approx"),
    ).first()
    assert abs(row["approx"] - row["exact"]) / row["exact"] < 0.05


def test_salted_join_equals_plain_join(spark):
    # heavily skewed left side: 90% of rows share one key
    left = spark.range(1000).withColumn(
        "k", F.when(F.col("id") < 900, F.lit(1)).otherwise(F.col("id"))
    )
    right = spark.createDataFrame([(1, "hot"), (950, "cold")], "k long, label string")
    plain = left.join(right, "k").groupBy("label").count().collect()
    salted = salted_join(left, right, on="k", n_salts=4).groupBy("label").count().collect()
    assert sorted(map(tuple, plain)) == sorted(map(tuple, salted))


def test_ivf_written_index_partition_pruned_probe(spark, tmp_path):
    """The written IVF index probes via PARTITION PRUNING: full-probe
    results equal exact search, and the probe plan carries a __cluster
    partition filter (unprobed cluster directories never open)."""
    from etl_hiscox_spark.operators.similarity import (
        ivf_probe_topk,
        write_ivf_index,
    )

    rng = np.random.default_rng(11)
    vecs = rng.standard_normal((150, 8)).astype(np.float32)
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(150)],
        "vec_id long, embedding array<float>",
    )
    path = str(tmp_path / "ivf")
    centroids = write_ivf_index(df, path, "embedding", "vec_id", n_clusters=5, seed=1)
    assert centroids.shape == (5, 8)

    q = [float(x) for x in vecs[7]]
    exact = [r["vec_id"] for r in cosine_topk(df, "embedding", "vec_id", q, k=5).collect()]
    full = ivf_probe_topk(spark, path, centroids, "embedding", "vec_id", q, k=5, n_probe=5)
    assert [r["vec_id"] for r in full.collect()] == exact

    probe = ivf_probe_topk(spark, path, centroids, "embedding", "vec_id", q, k=5, n_probe=2)
    assert 7 in [r["vec_id"] for r in probe.collect()]  # query's own cluster probed
    plan = probe._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "__cluster" in plan.split("PartitionFilters")[1][:120]
