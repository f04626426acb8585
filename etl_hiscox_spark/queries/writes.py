"""Write-path queries (SURVEY.md §2.1 S1/S3/S6/S8/S9/S10, §2.4 A11).

Each query exercises a real sink/reader round-trip — write to a scratch
directory, read back through the declared reader, and return a DataFrame
whose content is a pure function of the source parquet tables, so a DuckDB
oracle over those tables checks the whole write→read→compute path
(VERDICT r2 item 5: convert the S-tier's pytest-only rows into hard driver
passes).

Determinism: scratch paths are wiped at the start of every invocation, so
repeated runs (driver retries, bench loops) are idempotent. Money stays
exact through round-trips (doubles serialize losslessly in CSV/JSON via
shortest-round-trip repr; aggregates go through DECIMAL per SURVEY.md §7).
"""

from __future__ import annotations

import hashlib
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from etl_hiscox_spark.concurrency import run_overlapped
from etl_hiscox_spark.queries import register
from etl_hiscox_spark.registry import load_table
from etl_hiscox_spark.smalldf import local_rows_df


def _scratch(name: str, sf_dir: str) -> str:
    """Per-(query, sf) scratch dir, wiped on entry for idempotent reruns."""
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    path = os.path.join(tempfile.gettempdir(), "etl_hiscox_spark_writes", f"{name}_{tag}")
    if os.path.exists(path):
        shutil.rmtree(path)
    os.makedirs(path)
    return path


# ---------------------------------------------------------------------------
# S1: CSV scan — write a projection to CSV, read it back with an explicit
# schema (F14 cast/dtype policy: explicit StructType, no inference for
# registered shapes), aggregate. Reference parity: ingestion.py:71-74 reads
# CSV with header; here the oracle proves type fidelity through the text
# format (long/int/double/date all survive).
# ---------------------------------------------------------------------------

_S1_SCHEMA = T.StructType(
    [
        T.StructField("l_orderkey", T.LongType()),
        T.StructField("l_linenumber", T.IntegerType()),
        T.StructField("l_returnflag", T.StringType()),
        T.StructField("l_quantity", T.DoubleType()),
        T.StructField("l_shipdate", T.DateType()),
    ]
)


@register(
    "s1_csv_roundtrip",
    oracle="""
    SELECT l_returnflag,
           COUNT(*) AS n_rows,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
           MIN(CAST(l_shipdate AS DATE)) AS first_ship,
           MAX(CAST(l_shipdate AS DATE)) AS last_ship
    FROM lineitem GROUP BY l_returnflag
    """,
)
def s1_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_hiscox_spark.sources.readers import read_csv

    path = os.path.join(_scratch("s1_csv", sf_dir), "lineitem_csv")
    li = load_table(spark, "lineitem", sf_dir).select(
        "l_orderkey",
        "l_linenumber",
        "l_returnflag",
        "l_quantity",
        F.col("l_shipdate").cast("date").alias("l_shipdate"),
    )
    li.write.mode("overwrite").option("header", "true").csv(path)
    back = read_csv(spark, path, schema=_S1_SCHEMA)
    return back.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double").alias("sum_qty"),
        F.min("l_shipdate").alias("first_ship"),
        F.max("l_shipdate").alias("last_ship"),
    )


# ---------------------------------------------------------------------------
# S12: ORC scan — round-trip through the other mainstream columnar format
# (Hive/Trino warehouses a 100-TB deployment ingests from). Same proof
# shape as S1/S6, plus a pushed-down filter so the ORC scan's predicate
# pushdown / column pruning path executes, not just the happy full scan.
# ---------------------------------------------------------------------------


@register(
    "s12_orc_roundtrip",
    oracle="""
    SELECT l_returnflag,
           COUNT(*) AS n_rows,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
    FROM lineitem
    WHERE l_quantity >= 25.0
    GROUP BY l_returnflag
    """,
)
def s12_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_hiscox_spark.sources.readers import read_orc

    path = os.path.join(_scratch("s12_orc", sf_dir), "lineitem_orc")
    li = load_table(spark, "lineitem", sf_dir).select(
        "l_orderkey", "l_linenumber", "l_returnflag", "l_quantity"
    )
    li.write.mode("overwrite").orc(path)
    back = read_orc(spark, path).filter(F.col("l_quantity") >= 25.0)
    return back.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double").alias("sum_qty"),
    )


# ---------------------------------------------------------------------------
# S13: fixed-width flat-file scan — the mainframe/insurance feed format
# (policy extracts, bordereaux) that predates delimiters. Same round-trip
# proof shape as S1: render a lineitem projection as fixed-width lines,
# re-parse with substring/trim/cast expressions, aggregate.
# ---------------------------------------------------------------------------


@register(
    "s13_fixed_width_roundtrip",
    oracle="""
    SELECT l_returnflag,
           COUNT(*) AS n_rows,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
           MIN(CAST(l_shipdate AS DATE)) AS first_ship
    FROM lineitem GROUP BY l_returnflag
    """,
)
def s13_fixed_width_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_hiscox_spark.sources.readers import read_fixed_width, write_fixed_width

    path = os.path.join(_scratch("s13_fw", sf_dir), "lineitem_fw")
    li = load_table(spark, "lineitem", sf_dir).select(
        "l_orderkey",
        "l_linenumber",
        "l_returnflag",
        # decimal render pins the string form ("25.00") on both legs
        F.col("l_quantity").cast("decimal(12,2)").alias("l_quantity"),
        F.col("l_shipdate").cast("date").alias("l_shipdate"),
    )
    layout = [("l_orderkey", 12), ("l_linenumber", 4), ("l_returnflag", 2),
              ("l_quantity", 10), ("l_shipdate", 10)]
    write_fixed_width(li, path, layout)
    back = read_fixed_width(
        spark,
        path,
        [
            ("l_orderkey", 12, "bigint"),
            ("l_linenumber", 4, "int"),
            ("l_returnflag", 2, "string"),
            ("l_quantity", 10, "decimal(12,2)"),
            ("l_shipdate", 10, "date"),
        ],
    )
    return back.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double").alias("sum_qty"),
        F.min("l_shipdate").alias("first_ship"),
    )


# ---------------------------------------------------------------------------
# S6: JSON scan — same round-trip proof for the JSON reader (README.md:9
# 'Raw Insurance Data CSV/JSON').
# ---------------------------------------------------------------------------

_S6_SCHEMA = T.StructType(
    [
        T.StructField("o_orderkey", T.LongType()),
        T.StructField("o_orderstatus", T.StringType()),
        T.StructField("o_totalprice", T.DoubleType()),
        T.StructField("o_orderdate", T.DateType()),
    ]
)


@register(
    "s6_json_roundtrip",
    oracle="""
    SELECT o_orderstatus,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price,
           MIN(CAST(o_orderdate AS DATE)) AS first_order,
           MAX(CAST(o_orderdate AS DATE)) AS last_order
    FROM orders GROUP BY o_orderstatus
    """,
)
def s6_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_hiscox_spark.sources.readers import read_json

    path = os.path.join(_scratch("s6_json", sf_dir), "orders_json")
    orders = load_table(spark, "orders", sf_dir).select(
        "o_orderkey",
        "o_orderstatus",
        "o_totalprice",
        F.col("o_orderdate").cast("date").alias("o_orderdate"),
    )
    orders.write.mode("overwrite").json(path)
    back = read_json(spark, path, schema=_S6_SCHEMA)
    return back.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias("total_price"),
        F.min("o_orderdate").alias("first_order"),
        F.max("o_orderdate").alias("last_order"),
    )


# ---------------------------------------------------------------------------
# S3: append + schema evolution — two appends with different column sets
# (the second adds a column), mergeSchema-parity read-back
# (ingestion.py:94-98 Delta mergeSchema, parquet emulation per SURVEY §2.1).
# min/max over the evolved column are order-independent, so the oracle is
# exact without decimal plumbing.
# ---------------------------------------------------------------------------


@register(
    "s3_append_schema_merge",
    oracle="""
    SELECT o_orderstatus,
           COUNT(*) AS n_rows,
           COUNT(CASE WHEN o_orderkey % 2 = 1 THEN 1 END) AS n_priced,
           MIN(CASE WHEN o_orderkey % 2 = 1 THEN o_totalprice END) AS min_price,
           MAX(CASE WHEN o_orderkey % 2 = 1 THEN o_totalprice END) AS max_price
    FROM orders GROUP BY o_orderstatus
    """,
)
def s3_append_schema_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_hiscox_spark.sources.writers import append_with_schema_merge

    path = os.path.join(_scratch("s3_append", sf_dir), "orders_evolved")
    orders = load_table(spark, "orders", sf_dir)
    batch1 = orders.filter(F.col("o_orderkey") % 2 == 0).select("o_orderkey", "o_orderstatus")
    batch2 = orders.filter(F.col("o_orderkey") % 2 == 1).select(
        "o_orderkey", "o_orderstatus", F.col("o_totalprice").alias("price")
    )
    append_with_schema_merge(spark, batch1, path)
    append_with_schema_merge(spark, batch2, path)
    back = spark.read.parquet(path)
    return back.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("price").alias("n_priced"),
        F.min("price").alias("min_price"),
        F.max("price").alias("max_price"),
    )


# ---------------------------------------------------------------------------
# S8: CTAS materialization — build a gold summary, materialize it sorted
# (range-repartition + in-partition sort → parquet row-group stats prune
# the sort key at scale), read it back (bronze_claims.sql full-refresh
# parity).
# ---------------------------------------------------------------------------


@register(
    "s8_ctas_roundtrip",
    oracle="""
    SELECT o.o_orderpriority,
           COUNT(*) AS n_items,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                    * CAST(1 - l.l_discount AS DECIMAL(12,6))) AS DOUBLE) AS revenue
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderpriority
    """,
)
def s8_ctas_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_hiscox_spark.sources.writers import materialize

    path = os.path.join(_scratch("s8_ctas", sf_dir), "gold_priority_revenue")
    li = load_table(spark, "lineitem", sf_dir)
    orders = load_table(spark, "orders", sf_dir)
    summary = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum(
                F.col("l_extendedprice").cast("decimal(18,2)")
                * (F.lit(1) - F.col("l_discount")).cast("decimal(12,6)")
            )
            .cast("double")
            .alias("revenue"),
        )
    )
    materialize(summary, path, sort_by=("o_orderpriority",))
    return spark.read.parquet(path)


# ---------------------------------------------------------------------------
# S9: SCD-2 snapshot — two sequential runs (initial load, then an update
# batch that advances updated_at for 10% of keys); the snapshot must close
# the superseded version (valid_to = new valid_from) and keep the rest open
# (dbt timestamp-strategy snapshots, dbt_project.yml:49-53).
# ---------------------------------------------------------------------------

_TS1 = "1995-01-01 00:00:00"
_TS2 = "1995-06-01 00:00:00"


@register(
    "s9_scd2_snapshot",
    oracle=f"""
    SELECT c_custkey,
           CAST(c_acctbal AS DOUBLE) AS acctbal,
           TIMESTAMP '{_TS1}' AS valid_from,
           CASE WHEN c_custkey % 10 = 0 THEN TIMESTAMP '{_TS2}' END AS valid_to
    FROM customer
    UNION ALL
    SELECT c_custkey,
           CAST(c_acctbal AS DOUBLE) + 100.0 AS acctbal,
           TIMESTAMP '{_TS2}' AS valid_from,
           CAST(NULL AS TIMESTAMP) AS valid_to
    FROM customer WHERE c_custkey % 10 = 0
    """,
)
def s9_scd2_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_hiscox_spark.sources.writers import scd2_snapshot

    path = os.path.join(_scratch("s9_scd2", sf_dir), "customer_snapshot")
    cust = load_table(spark, "customer", sf_dir)
    v1 = cust.select(
        "c_custkey",
        F.col("c_acctbal").cast("double").alias("acctbal"),
        F.lit(_TS1).cast("timestamp").alias("updated_at"),
    )
    v2 = cust.filter(F.col("c_custkey") % 10 == 0).select(
        "c_custkey",
        (F.col("c_acctbal").cast("double") + F.lit(100.0)).alias("acctbal"),
        F.lit(_TS2).cast("timestamp").alias("updated_at"),
    )
    scd2_snapshot(spark, v1, path, key="c_custkey", updated_at="updated_at")
    snap = scd2_snapshot(spark, v2, path, key="c_custkey", updated_at="updated_at")
    return snap.select(
        "c_custkey",
        "acctbal",
        F.col("__valid_from").alias("valid_from"),
        F.col("__valid_to").alias("valid_to"),
    )


# ---------------------------------------------------------------------------
# S10: seed load — small CSV → managed table (dbt seed,
# dbt_project.yml:56-58). The region dim round-trips through an inferred
# CSV read then a parquet materialization.
# ---------------------------------------------------------------------------


@register(
    "s10_seed_load",
    oracle="SELECT r_regionkey, r_name FROM region",
)
def s10_seed_load(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_hiscox_spark.sources.writers import seed_load

    root = _scratch("s10_seed", sf_dir)
    csv_path = os.path.join(root, "region_seed_csv")
    target = os.path.join(root, "region_table")
    region = load_table(spark, "region", sf_dir).select("r_regionkey", "r_name")
    region.coalesce(1).write.mode("overwrite").option("header", "true").csv(csv_path)
    seed_load(spark, csv_path, target)
    return spark.read.parquet(target)


# ---------------------------------------------------------------------------
# A11: ANALYZE TABLE — materialize a catalog table, compute statistics, and
# surface the recorded rowCount (dbt on-run-end ANALYZE hook,
# dbt_project.yml:95-97). Stats feed the CBO's broadcast/join-reorder
# decisions at scale; rowCount is the oracle-checkable part (column NDVs
# are HLL-approximate by design).
# ---------------------------------------------------------------------------


@register(
    "a11_table_stats",
    oracle="SELECT COUNT(*) AS row_count FROM lineitem",
)
def a11_table_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    import re

    from etl_hiscox_spark.registry import analyze_table, save_as_catalog_table, table_stats

    li = load_table(spark, "lineitem", sf_dir).select("l_orderkey", "l_quantity")
    save_as_catalog_table(li, "a11_stats_tbl")
    analyze_table(spark, "a11_stats_tbl", columns=["l_orderkey"])
    stats = table_stats(spark, "a11_stats_tbl").get("statistics", "")
    m = re.search(r"(\d+)\s+rows", stats)
    if not m:
        raise RuntimeError(f"ANALYZE produced no rowCount: {stats!r}")
    return local_rows_df(spark, [(int(m.group(1)),)], "row_count bigint")


# ---------------------------------------------------------------------------
# S7: object-store listing — Hadoop FS API over the sf_dir (works for any
# deployed scheme: file://, s3a://, abfss://). Rows-only: file sizes and
# layout are environment facts DuckDB's table views cannot see.
# ---------------------------------------------------------------------------


@register("s7_object_listing")  # rows-only: filesystem metadata has no SQL twin
def s7_object_listing(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_hiscox_spark.sources.readers import list_objects

    blobs = list_objects(spark, sf_dir, suffix=".parquet")
    rows = [(os.path.basename(b.path), b.size > 0) for b in sorted(blobs, key=lambda b: b.path)]
    return local_rows_df(spark, rows, "object_name string, has_bytes boolean")


# ---------------------------------------------------------------------------
# S5: Excel scan — write a deterministic projection to a real .xlsx (stdlib
# SpreadsheetML writer), read it back through the declared Excel reader
# (pandas/openpyxl when present, xlsx_lite otherwise), aggregate. Converts
# the one remaining real-path source with no driver signal (VERDICT r3
# item 5; reference tests/unit/test_ingestion.py:118-129 reads .xlsx into
# bronze). Excel is driver-side small by design — nation (25 rows) is the
# honest shape for the format.
# ---------------------------------------------------------------------------


@register(
    "s5_xlsx_roundtrip",
    oracle="""
    SELECT n_regionkey,
           COUNT(*) AS n_nations,
           MIN(n_name) AS first_nation,
           MAX(n_name) AS last_nation,
           CAST(SUM(n_nationkey) AS BIGINT) AS key_sum
    FROM nation GROUP BY n_regionkey
    """,
)
def s5_xlsx_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_hiscox_spark.sources.readers import read_excel
    from etl_hiscox_spark.sources.xlsx_lite import write_xlsx

    path = os.path.join(_scratch("s5_xlsx", sf_dir), "nation.xlsx")
    nation = load_table(spark, "nation", sf_dir).select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    rows = [
        [r["n_nationkey"], r["n_name"], r["n_regionkey"]]
        for r in sorted(nation.collect(), key=lambda r: r["n_nationkey"])
    ]
    write_xlsx(path, ["n_nationkey", "n_name", "n_regionkey"], rows)
    back = read_excel(spark, path)
    return back.groupBy("n_regionkey").agg(
        F.count(F.lit(1)).alias("n_nations"),
        F.min("n_name").alias("first_nation"),
        F.max("n_name").alias("last_nation"),
        F.sum("n_nationkey").alias("key_sum"),
    )


# ---------------------------------------------------------------------------
# F14: explicit-schema cast policy — write part to CSV (everything becomes
# text), read back with an explicit StructType (long / string / int /
# decimal(12,2)), and emit a dtype-sensitive aggregate: the int column sums
# as BIGINT (not a string concat, not a double), the decimal column sums
# exactly then casts to DOUBLE. Proves the reader applies declared types
# instead of inferring (reference
# tests/integration/test_pipeline_integration.py:373-375 dtype assertions).
# ---------------------------------------------------------------------------

_F14_SCHEMA = T.StructType(
    [
        T.StructField("p_partkey", T.LongType()),
        T.StructField("p_brand", T.StringType()),
        T.StructField("p_size", T.IntegerType()),
        T.StructField("p_retailprice", T.DecimalType(12, 2)),
    ]
)


@register(
    "f14_explicit_schema_cast",
    oracle="""
    SELECT p_brand,
           COUNT(*) AS n_parts,
           CAST(SUM(p_size) AS BIGINT) AS size_sum,
           MIN(p_size) AS min_size,
           CAST(SUM(CAST(p_retailprice AS DECIMAL(12,2))) AS DOUBLE) AS retail_sum
    FROM part GROUP BY p_brand
    """,
)
def f14_explicit_schema_cast(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_hiscox_spark.sources.readers import read_csv

    path = os.path.join(_scratch("f14_cast", sf_dir), "part_csv")
    part = load_table(spark, "part", sf_dir).select(
        "p_partkey", "p_brand", "p_size", "p_retailprice"
    )
    part.write.mode("overwrite").option("header", "true").csv(path)
    back = read_csv(spark, path, schema=_F14_SCHEMA)
    # Declared-dtype proof: sum(int) -> long, sum(decimal(12,2)) -> exact
    # decimal then DOUBLE. If the reader ignored the schema (all-string
    # inference), both aggregates would fail analysis or hash-mismatch.
    return back.groupBy("p_brand").agg(
        F.count(F.lit(1)).alias("n_parts"),
        F.sum("p_size").alias("size_sum"),
        F.min("p_size").alias("min_size"),
        F.sum("p_retailprice").cast("double").alias("retail_sum"),
    )


# ---------------------------------------------------------------------------
# S11: snapshot diff (CDC) — two deterministic snapshots of orders diffed
# into I/D/U change rows; the DuckDB twin is the textbook FULL OUTER JOIN
# formulation, so the operator's null-safe compare and op labeling are
# hash-checked end to end.
# ---------------------------------------------------------------------------


@register(
    "s11_snapshot_diff",
    oracle="""
    WITH old AS (
      SELECT o_orderkey, o_orderstatus, o_totalprice
      FROM orders WHERE o_orderkey % 5 <> 0
    ), new AS (
      SELECT o_orderkey, o_orderstatus,
             CASE WHEN o_orderkey % 3 = 0 THEN o_totalprice + 1.0
                  ELSE o_totalprice END AS o_totalprice
      FROM orders WHERE o_orderkey % 7 <> 0
    )
    SELECT COALESCE(n.o_orderkey, o.o_orderkey) AS o_orderkey,
           CASE WHEN o.o_orderkey IS NULL THEN 'I'
                WHEN n.o_orderkey IS NULL THEN 'D'
                ELSE 'U' END AS op,
           CASE WHEN o.o_orderkey IS NULL OR n.o_orderkey IS NULL THEN ''
                ELSE 'o_totalprice' END AS changed_cols
    FROM old o FULL OUTER JOIN new n ON o.o_orderkey = n.o_orderkey
    WHERE o.o_orderkey IS NULL OR n.o_orderkey IS NULL
       OR o.o_totalprice IS DISTINCT FROM n.o_totalprice
       OR o.o_orderstatus IS DISTINCT FROM n.o_orderstatus
    """,
)
def s11_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    # S11: CDC between snapshots. old = orders minus keys ≡0 (mod 5);
    # new = orders minus keys ≡0 (mod 7), with price bumped for keys ≡0
    # (mod 3). So keys ≡0 (mod 5, not 7) surface as I, ≡0 (mod 7, not 5)
    # as D, ≡0 (mod 3, in both) as U — all pure functions of o_orderkey.
    # (Status never changes here, so changed_cols is exactly
    # 'o_totalprice' for U rows — the oracle hardcodes that knowledge;
    # the operator computes it.)
    from etl_hiscox_spark.operators.cdc import snapshot_diff

    orders = load_table(spark, "orders", sf_dir).select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    old = orders.filter(F.col("o_orderkey") % 5 != 0)
    new = orders.filter(F.col("o_orderkey") % 7 != 0).withColumn(
        "o_totalprice",
        F.when(
            F.col("o_orderkey") % 3 == 0, F.col("o_totalprice") + F.lit(1.0)
        ).otherwise(F.col("o_totalprice")),
    )
    return snapshot_diff(old, new, keys=["o_orderkey"])


# ---------------------------------------------------------------------------
# S14: incremental refresh — dbt materialized='incremental' with the
# insert_overwrite strategy (dbt_project.yml:32-46 model groups;
# scripts/ingestion.py:96 append semantics, made idempotent). Two
# sequential runs: an initial build over history < 1997, then a run after
# the rest of the data "arrives". The second run recomputes ONLY the
# partitions at/after the target's high-watermark month (boundary month
# included, so late rows in it are picked up); older partition files are
# untouched (mtime-pinned in tests/test_pipeline.py). End state must equal
# a from-scratch build — which is exactly what the oracle computes.
# ---------------------------------------------------------------------------


@register(
    "s14_incremental_refresh",
    oracle="""
    SELECT strftime(o_orderdate, '%Y-%m') AS order_month,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
    FROM orders
    GROUP BY 1
    """,
)
def s14_incremental_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_hiscox_spark.sources.writers import incremental_refresh

    path = os.path.join(_scratch("s14_incr", sf_dir), "monthly_revenue")
    orders = load_table(spark, "orders", sf_dir)

    def model(src: DataFrame) -> DataFrame:
        return src.groupBy(
            F.date_format("o_orderdate", "yyyy-MM").alias("order_month")
        ).agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("revenue"),
        )

    # Run 1: only pre-1997 history has arrived — full initial build.
    incremental_refresh(
        spark,
        model(orders.filter(F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))),
        path,
        "order_month",
    )
    # Run 2: the full source is now visible; the refresh reads the
    # watermark (1996-12) from the target and overwrites only months >= it.
    snap = incremental_refresh(spark, model(orders), path, "order_month")
    return snap.select("order_month", "n_orders", "revenue")


# ---------------------------------------------------------------------------
# S15: corrupt-record quarantine on JSON ingestion. The feed is rendered
# from orders with rows whose key ≡ 0 (mod 7) intentionally truncated
# mid-object, read back PERMISSIVE with columnNameOfCorruptRecord, and
# split good/quarantine. Corruption is a pure function of o_orderkey, so
# the oracle checks the whole render→parse→quarantine→aggregate path from
# orders arithmetic without ever parsing JSON itself.
# ---------------------------------------------------------------------------


@register(
    "s15_corrupt_json_quarantine",
    oracle="""
    SELECT COUNT(*) FILTER (WHERE o_orderkey % 7 != 0) AS n_good,
           COUNT(*) FILTER (WHERE o_orderkey % 7 = 0) AS n_quarantined,
           CAST(SUM(CASE WHEN o_orderkey % 7 != 0
                         THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS good_value
    FROM orders
    """,
)
def s15_corrupt_json_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_hiscox_spark.sources.readers import read_json_quarantine

    path = os.path.join(_scratch("s15_corrupt", sf_dir), "orders_feed")
    orders = load_table(spark, "orders", sf_dir)
    line = F.when(
        F.col("o_orderkey") % 7 == 0,
        # truncated mid-object: unparseable, but the raw line survives
        F.concat(F.lit('{"o_orderkey": '), F.col("o_orderkey").cast("string"), F.lit(', "o_tot')),
    ).otherwise(
        F.to_json(F.struct("o_orderkey", "o_totalprice", "o_orderstatus"))
    )
    orders.select(line.alias("value")).write.mode("overwrite").text(path)

    schema = T.StructType(
        [
            T.StructField("o_orderkey", T.LongType()),
            T.StructField("o_totalprice", T.DoubleType()),
            T.StructField("o_orderstatus", T.StringType()),
        ]
    )
    split = read_json_quarantine(spark, path, schema)
    # Materialize EVERYTHING before releasing the shared cache: a
    # post-unpersist recompute of `good` is column-pruning-dependent
    # (PERMISSIVE re-parses only the required fields, so a row corrupt in
    # a pruned field would reclassify as clean and double-count) — the
    # report row is collected first, then the cache drops, then the tiny
    # result is re-wrapped as a cache-independent frame.
    n_bad = split.bad.count()
    row = split.good.agg(
        F.count(F.lit(1)).alias("n_good"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias("good_value"),
    ).first()
    split.unpersist()
    return local_rows_df(
        spark,
        [(row["n_good"], n_bad, row["good_value"])],
        "n_good long, n_quarantined long, good_value double",
    )


# ---------------------------------------------------------------------------
# S16: Avro round-trip through the stdlib fallback codec (r6 upgrade of
# the formerly jar-gated surface): orders → object-container files
# (deflate, one per Arrow partition, executor-side) → distributed
# container decode → aggregate. long/double/string/timestamp all cross
# the binary format; the oracle checks the whole round-trip from the
# source table (a wrong varint, union branch or timestamp unit corrupts
# counts, sums or the min date).
# ---------------------------------------------------------------------------


@register(
    "s16_avro_roundtrip",
    oracle="""
    SELECT o_orderstatus,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
           MIN(o_orderdate) AS first_order
    FROM orders GROUP BY o_orderstatus
    """,
)
def s16_avro_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_hiscox_spark.sources.readers import read_avro, write_avro

    path = os.path.join(_scratch("s16_avro", sf_dir), "orders_avro")
    orders = load_table(spark, "orders", sf_dir).select(
        "o_orderkey",
        "o_orderstatus",
        "o_totalprice",
        F.col("o_orderdate").cast("timestamp").alias("o_orderdate"),
    )
    write_avro(orders, path)
    back = read_avro(spark, path)
    return back.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias("total_value"),
        F.min("o_orderdate").alias("first_order"),
    )


@register(
    "s17_training_shards",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id,
             CAST(len(string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' '))
                  AS BIGINT) AS n_tokens
      FROM documents
    ), tot AS (
      SELECT (SUM(n_tokens) + 1999) // 2000 AS n_shards FROM toks
    ), asg AS (
      SELECT doc_id, n_tokens,
             CAST(('0x' || substr(sha256(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
               % greatest((SELECT n_shards FROM tot), 1) AS shard_id
      FROM toks
    )
    SELECT CAST(shard_id AS INT) AS shard_id,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
           sha256(string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id)) AS docs_hash
    FROM asg GROUP BY shard_id
    """,
)
def s17_training_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The pipeline's last mile: shard the curated corpus into ~2000-token
    # training shards (sha256-mod assignment — parallel, portable, no
    # global prefix sum) written partitionBy(shard_id), and return the
    # manifest the dataloader indexes by. The oracle recomputes the
    # assignment arithmetic AND the per-shard integrity hash over sorted
    # doc ids — a doc dropped or duplicated anywhere in the write path
    # changes docs_hash.
    from etl_hiscox_spark.functions.text import tokens
    from etl_hiscox_spark.sources.writers import write_training_shards

    docs = load_table(spark, "documents", sf_dir)
    path = os.path.join(_scratch("s17_shards", sf_dir), "shards")
    return write_training_shards(
        spark, docs, path, "doc_id", F.size(tokens("text")), shard_tokens=2000
    )


# ---------------------------------------------------------------------------
# S18: bucketed catalog tables + co-located join — the layout choice that
# removes the join shuffle entirely. At 100 TB the fact-fact join
# (orders x lineitem) is THE dominant exchange; persisting both sides
# bucketed+sorted by the join key turns every later join on that key into
# a zero-exchange sort-merge (bucket pruning included). This query proves
# the full path: bucketBy write -> catalog read -> join WITHOUT Exchange
# (plan-gated in tests/test_plans.py) -> aggregate.
# ---------------------------------------------------------------------------


@register(
    "s18_bucketed_colocated_join",
    oracle="""
    SELECT o.o_custkey AS custkey, COUNT(*) AS n_items,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
    FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_custkey
    ORDER BY revenue DESC, custkey
    LIMIT 100
    """,
)
def s18_bucketed_colocated_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Bucketed-table round-trip: project the two join sides, saveAsTable
    # with bucketBy(8, join key) + sortBy, then join the CATALOG tables.
    # Matching bucket counts and keys mean Catalyst plans the sort-merge
    # join with zero Exchange on either side — the co-location survives in
    # the table layout, not the session. The oracle recomputes the joined
    # aggregate straight from the source parquet, checking the whole
    # bucketed write -> catalog read -> join path byte-for-byte.
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    t_orders, t_line = f"s18_orders_{tag}", f"s18_lineitem_{tag}"
    orders = load_table(spark, "orders", sf_dir).select("o_orderkey", "o_custkey")
    line = load_table(spark, "lineitem", sf_dir).select("l_orderkey", "l_extendedprice")
    warehouse = spark.conf.get("spark.sql.warehouse.dir", "")
    def _write_bucketed(name: str, df: DataFrame, key: str) -> None:
        # idempotent across SESSIONS, not just reruns: a managed-table
        # location left by a previous process is unknown to this catalog,
        # and saveAsTable refuses to adopt it (LOCATION_ALREADY_EXISTS) —
        # drop the catalog entry AND the orphan dir before writing
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        if warehouse.startswith("file:"):
            orphan = os.path.join(warehouse[len("file:"):], name)
            if os.path.isdir(orphan):
                shutil.rmtree(orphan, ignore_errors=True)
        df.write.mode("overwrite").format("parquet").bucketBy(8, key).sortBy(
            key
        ).saveAsTable(name)

    # the two bucketed sides land in DISTINCT tables — independent
    # write chains, overlapped (r17, guide §2.6)
    run_overlapped(
        [
            lambda: _write_bucketed(t_orders, orders, "o_orderkey"),
            lambda: _write_bucketed(t_line, line, "l_orderkey"),
        ]
    )
    o, l = spark.table(t_orders), spark.table(t_line)  # noqa: E741
    return (
        o.join(l, o["o_orderkey"] == l["l_orderkey"])
        .groupBy(F.col("o_custkey").alias("custkey"))
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("revenue"),
        )
        .orderBy(F.col("revenue").desc(), "custkey")
        .limit(100)
    )


@register(
    "s19_gdpr_erase_subject",
    oracle="""
    WITH kept_docs AS (SELECT doc_id FROM documents WHERE doc_id % 10 <> 7),
         kept_vecs AS (SELECT vec_id FROM embeddings WHERE vec_id % 10 <> 7)
    SELECT 'base' AS store, (SELECT COUNT(*) FROM kept_docs) AS n_rows
    UNION ALL SELECT 'ivf_index', (SELECT COUNT(*) FROM kept_vecs)
    UNION ALL SELECT 'minhash_index', (SELECT COUNT(*) FROM kept_docs)
    UNION ALL SELECT 'txn_latest', (SELECT COUNT(*) FROM kept_docs)
    UNION ALL SELECT 'txn_v0', (SELECT COUNT(*) FROM kept_docs WHERE doc_id % 2 = 0)
    ORDER BY store
    """,
)
def s19_gdpr_erase_subject(spark: SparkSession, sf_dir: str) -> DataFrame:
    # End-to-end right-to-be-forgotten COMPOSITION (VERDICT r10 item 6,
    # plans/gdpr.erase_subject): one subject predicate (id % 10 == 7) is
    # planted across all four store kinds — base parquet table, txn-log
    # table with two committed versions (history!), IVF index over the
    # embeddings, minhash index over the documents — then erased with ONE
    # call. erase_subject runs with verify=True, so the operator itself
    # re-scans every store (including every time-travel version) and
    # raises on any residual subject row BEFORE the oracle sees a number.
    # In-query invariants on the report: each store's n_erased must match
    # its predicate cardinality exactly (minhash = num_bands rows per
    # indexed doc). The declared output is the per-store post-erase row
    # count — base/txn read back the kept documents, txn_v0 proves the
    # REWRITTEN HISTORY still time-travels to the even-id half minus the
    # subject, ivf/minhash count their own layouts — each with a pure
    # exclusion-predicate SQL twin, the same oracle shape as the
    # l3/l2 erase probes.
    from etl_hiscox_spark.operators.dedup import _LSH, write_minhash_index
    from etl_hiscox_spark.operators.segindex import live_rows
    from etl_hiscox_spark.operators.similarity import (
        _IVF,
        random_hyperplanes,
        write_ivf_index,
    )
    from etl_hiscox_spark.plans.gdpr import erase_subject
    from etl_hiscox_spark.sources.txnlog import TxnTable

    root = _scratch("s19_gdpr", sf_dir)
    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    emb = load_table(spark, "embeddings", sf_dir)

    from etl_hiscox_spark.concurrency import run_overlapped

    base = os.path.join(root, "base")
    txn = os.path.join(root, "txn")
    t = TxnTable(spark, txn)
    ivf = os.path.join(root, "ivf")
    mh = os.path.join(root, "mh")

    def build_txn() -> None:
        # the two commits of ONE txn log stay sequential — their order is
        # the protocol; only the four stores overlap
        t.write(docs.filter(F.col("doc_id") % 2 == 0), mode="append")
        t.write(docs.filter(F.col("doc_id") % 2 == 1), mode="append")

    # the four stores live at disjoint paths — build them overlapped
    # (guide §2.6; profiled r17: s19 was ~88 sequential driver-gap-bound
    # actions). explicit pinned IVF geometry: counts are
    # centroid-independent — see l3_ivf_append_probe
    run_overlapped(
        [
            lambda: docs.write.mode("overwrite").parquet(base),
            build_txn,
            lambda: write_ivf_index(
                emb, ivf, "embedding", "vec_id",
                centroids=random_hyperplanes(dim=64, n_planes=16, seed=42),
            ),
            lambda: write_minhash_index(docs, "text", "doc_id", mh),
        ]
    )

    n_subj_docs, n_subj_vecs = run_overlapped(
        [
            lambda: docs.filter(F.col("doc_id") % 10 == 7).count(),
            lambda: emb.filter(F.col("vec_id") % 10 == 7).count(),
        ]
    )
    keys = (
        docs.filter(F.col("doc_id") % 10 == 7)
        .select("doc_id")
        .union(emb.filter(F.col("vec_id") % 10 == 7).select(F.col("vec_id").alias("doc_id")))
        .distinct()
    )
    report = erase_subject(
        spark,
        keys,
        base_tables=[(base, "doc_id")],
        txn_tables=[(txn, "doc_id")],
        ivf_indexes=[(ivf, "vec_id")],
        minhash_indexes=[(mh, "doc_id")],
        verify=True,
    )
    by_kind = {
        r["kind"]: r.get("n_erased", r.get("n_files_rewritten")) for r in report
    }
    expected = {
        "base": n_subj_docs,
        "txn_history": None,  # reports n_files_rewritten, not rows — below
        "ivf_index": n_subj_vecs,
        "minhash_index": 6 * n_subj_docs,  # num_bands fingerprint rows per doc
    }
    for kind, want in expected.items():
        if want is not None and by_kind.get(kind) != want:
            raise ValueError(
                f"erase_subject report mismatch for {kind}: "
                f"erased {by_kind.get(kind)}, predicate covers {want}"
            )
    if by_kind.get("txn_history", 0) < 1:
        raise ValueError("erase_subject rewrote no txn-history files")

    counts = list(
        zip(
            ["base", "ivf_index", "minhash_index", "txn_latest", "txn_v0"],
            run_overlapped(
                [
                    lambda: spark.read.parquet(base).count(),
                    lambda: live_rows(spark, ivf, _IVF).count(),
                    lambda: live_rows(spark, mh, _LSH).select("doc").distinct().count(),
                    lambda: t.read().count(),
                    lambda: t.read(0).count(),
                ]
            ),
        )
    )
    return local_rows_df(spark, counts, "store string, n_rows long").orderBy("store")


# ---------------------------------------------------------------------------
# X15: multi-writer optimistic concurrency on the txn log (r12, VERDICT
# r11 item 6). Two concurrent writer THREADS append disjoint halves of
# the orders table in three commits each, racing the manifest's
# create-if-absent commit; every version collision re-reads the latest
# manifest, re-merges the file list, and retries — both writers' batches
# land, versions stay dense. Then both writers race the SAME
# (app_id, txn_version) write_txn batch: exactly one lands (the in-loop
# watermark re-read rejects the loser), so the final table carries the
# duplicate batch ONCE — which the oracle can recompute purely from the
# source table.
# ---------------------------------------------------------------------------


@register(
    "x15_txn_multi_writer_occ",
    oracle="""
    WITH final AS (
      SELECT o_orderstatus, o_totalprice FROM orders
      UNION ALL
      SELECT o_orderstatus, o_totalprice FROM orders WHERE o_orderkey % 100 = 7
    )
    SELECT o_orderstatus,
           COUNT(*) AS n_rows,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
    FROM final GROUP BY o_orderstatus ORDER BY o_orderstatus
    """,
)
def x15_txn_multi_writer_occ(spark: SparkSession, sf_dir: str) -> DataFrame:
    import threading

    from etl_hiscox_spark.sources.txnlog import TxnTable

    orders = load_table(spark, "orders", sf_dir).select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    path = os.path.join(_scratch("x15_occ", sf_dir), "txn")
    writers = [TxnTable(spark, path), TxnTable(spark, path)]
    errors: list[BaseException] = []
    barrier = threading.Barrier(2)

    def run(w: TxnTable, residues: tuple[int, ...]) -> None:
        try:
            barrier.wait(timeout=60)  # maximize commit contention
            for r in residues:
                w.write(orders.filter(F.col("o_orderkey") % 6 == r))
        except BaseException as exc:  # surfaced after join — threads must not die silently
            errors.append(exc)

    threads = [
        threading.Thread(target=run, args=(writers[0], (0, 2, 4))),
        threading.Thread(target=run, args=(writers[1], (1, 3, 5))),
    ]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    if errors:
        raise errors[0]

    t = TxnTable(spark, path)
    versions = [m["version"] for m in t.history()]
    if versions != list(range(6)):
        raise ValueError(f"six appends must land at dense versions 0..5, got {versions}")

    # the duplicate race: same (app_id, txn_version), same batch content,
    # two writers — exactly one commit may land
    dup = orders.filter(F.col("o_orderkey") % 100 == 7)
    results: list[bool] = []
    lock = threading.Lock()
    barrier2 = threading.Barrier(2)

    def run_dup(w: TxnTable) -> None:
        try:
            barrier2.wait(timeout=60)
            ok = w.write_txn(dup, "x15-producer", 1)
            with lock:
                results.append(ok)
        except BaseException as exc:
            errors.append(exc)

    threads = [threading.Thread(target=run_dup, args=(w,)) for w in writers]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    if errors:
        raise errors[0]
    if sorted(results) != [False, True]:
        raise ValueError(
            f"duplicate-txn race must land exactly once, write_txn returned {results}"
        )
    if t.last_txn_version("x15-producer") != 1:
        raise ValueError("the winning commit lost its txn watermark")
    # the loser's staged files are orphans; the race is settled here, so
    # the 0-second retention window is safe (default 600 s protects
    # in-flight writers)
    t.vacuum(min_age_seconds=0)

    return (
        t.read()
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_price"),
        )
        .orderBy("o_orderstatus")
    )


# ---------------------------------------------------------------------------
# S20: BULK frame-based erasure through the GDPR composition (r12,
# VERDICT r11 "what's wrong" #1/#2). The erasure request is a FRAME
# derived from the customer table (every BUILDING-segment custkey —
# hundreds of keys at sf0.01, unbounded in principle) and flows through
# erase_subject as broadcast semi/anti joins end-to-end: no driver
# collect, no IN-literal (the 100k-key driver-materialization cap is
# pinned in tests/test_gdpr.py). Stores: a base copy of customer and a
# two-version txn table of orders keyed by o_custkey — the residual
# verification re-scans every time-travel version.
# ---------------------------------------------------------------------------


@register(
    "s20_bulk_frame_erase",
    oracle="""
    WITH seg AS (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')
    SELECT 'base' AS store,
           (SELECT COUNT(*) FROM customer WHERE c_mktsegment <> 'BUILDING') AS n_rows
    UNION ALL SELECT 'txn_latest',
           (SELECT COUNT(*) FROM orders WHERE o_custkey NOT IN (SELECT c_custkey FROM seg))
    UNION ALL SELECT 'txn_v0',
           (SELECT COUNT(*) FROM orders
            WHERE o_orderkey % 2 = 0
              AND o_custkey NOT IN (SELECT c_custkey FROM seg))
    ORDER BY store
    """,
)
def s20_bulk_frame_erase(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_hiscox_spark.plans.gdpr import erase_subject
    from etl_hiscox_spark.sources.txnlog import TxnTable

    root = _scratch("s20_bulk_erase", sf_dir)
    cust = load_table(spark, "customer", sf_dir).select(
        "c_custkey", "c_name", "c_mktsegment"
    )
    orders = load_table(spark, "orders", sf_dir).select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    base = os.path.join(root, "base")
    cust.write.mode("overwrite").parquet(base)
    txn = os.path.join(root, "txn")
    t = TxnTable(spark, txn)
    t.write(orders.filter(F.col("o_orderkey") % 2 == 0), mode="append")
    t.write(orders.filter(F.col("o_orderkey") % 2 == 1), mode="append")

    keys = cust.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    n_subjects = keys.count()
    report = erase_subject(
        spark,
        keys,
        base_tables=[(base, "c_custkey")],
        txn_tables=[(txn, "o_custkey")],
        verify=True,  # residual re-scan of base + EVERY txn version
    )
    by_kind = {r["kind"]: r for r in report}
    if by_kind["base"]["n_erased"] != n_subjects:
        raise ValueError(
            f"base erased {by_kind['base']['n_erased']} rows, segment has {n_subjects}"
        )
    if by_kind["txn_history"]["n_files_rewritten"] < 1:
        raise ValueError("bulk erasure rewrote no txn-history files")

    from etl_hiscox_spark.concurrency import run_overlapped

    counts = list(
        zip(
            ["base", "txn_latest", "txn_v0"],
            run_overlapped(
                [
                    lambda: spark.read.parquet(base).count(),
                    lambda: t.read().count(),
                    lambda: t.read(0).count(),
                ]
            ),
        )
    )
    return local_rows_df(spark, counts, "store string, n_rows long").orderBy("store")


@register(
    "s21_schema_widen_append",
    oracle="""
    SELECT CAST(o_custkey % 7 AS BIGINT) AS bucket,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
    FROM orders GROUP BY bucket
    """,
)
def s21_schema_widen_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Schema evolution under the widening rule (r13, ADVICE r12 item 4):
    # an append whose column is NARROWER than the table's (int onto
    # bigint) must keep the committed type WIDE — before r13 the merge
    # was last-write-wins and the head schema silently narrowed while
    # old files kept bigint data, so read() reported a schema the
    # table's own files contradicted; a cross-family change (string onto
    # a numeric column) must be rejected AT WRITE TIME, never committed
    # (the reference rejects incompatible type changes on append —
    # scripts/ingestion.py's Delta mergeSchema contract). Loud
    # invariants before the oracle sees the result: (1) the head
    # manifest records o_custkey as bigint after the int append; (2) the
    # string append raises and the version count is unchanged; (3) both
    # slices read back under the widened schema. The final table is the
    # two slices' union == orders, hence the SQL twin.
    import json as _json

    from pyspark.sql import types as _T

    from etl_hiscox_spark.sources.txnlog import TxnTable

    root = _scratch("s21_widen", sf_dir)
    orders = load_table(spark, "orders", sf_dir).select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    t = TxnTable(spark, os.path.join(root, "table"))
    t.write(
        orders.filter(F.col("o_orderkey") % 2 == 0)
        .withColumn("o_custkey", F.col("o_custkey").cast("bigint"))
    )
    t.write(
        orders.filter(F.col("o_orderkey") % 2 == 1)
        .withColumn("o_custkey", F.col("o_custkey").cast("int"))  # narrower
    )
    head_schema = _T.StructType.fromJson(
        _json.loads(t._read_manifest(t.latest_version())["schema"])
    )
    if head_schema["o_custkey"].dataType.simpleString() != "bigint":
        raise ValueError(
            f"narrower append changed the committed type to "
            f"{head_schema['o_custkey'].dataType.simpleString()} — the merge "
            "must widen, never narrow"
        )
    before = t.latest_version()
    try:
        t.write(
            orders.filter(F.col("o_orderkey") % 2 == 1)
            .withColumn("o_custkey", F.col("o_custkey").cast("string"))
        )
    except ValueError:
        pass
    else:
        raise ValueError("cross-family append must be rejected at write time")
    if t.latest_version() != before:
        raise ValueError("rejected append still committed a version")
    return t.read().groupBy(
        (F.col("o_custkey") % 7).cast("bigint").alias("bucket")
    ).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias("sum_price"),
    )
