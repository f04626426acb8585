"""Table registry: named tables -> paths + explicit schemas.

Replaces the reference's ``dbt/models/sources.yml:3-77`` — YAML source
declarations with per-column tests (the tests live in
:mod:`etl_hiscox_spark.quality.rules`). Layered ``{db}_{layer}.{table}``
naming (``scripts/utils/config.py:83-85``) is
:meth:`etl_hiscox_spark.config.EngineConfig.get_table_name`.

Explicit ``StructType`` schemas instead of ``inferSchema`` (SURVEY.md §1.4):
inference is kept as a fallback for ad-hoc reads, but registered tables pin
their schema so oracle comparisons and schema-validation checks are stable.
"""

from __future__ import annotations

import os
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# ---------------------------------------------------------------------------
# Testdata tables (TPC-H-ish star schema + events/documents/embeddings).
# Schemas match the driver parquet exactly (FIXTURES.md §5); timestamps are
# read as Spark microsecond timestamps.
# ---------------------------------------------------------------------------

TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


# Pinned schemas for the driver-provided testdata tables (FIXTURES.md §5,
# verified equal to Spark's own inference at sf0.001/sf0.1 —
# tests/test_registry_schemas.py). Why: ``spark.read.parquet`` without a
# schema pays per-call footer inference (profiled r18: ~80-190 ms per call
# even with a warm FileStatusCache), and every query pays it 1-4× inside
# its timed region — the single largest fixed cost in the bench after r17.
# An explicit schema skips the inference entirely (guide §6: verify the
# scan, don't re-derive it); the scan itself, pruning and pushdown are
# unchanged, so results are identical by construction. Timestamps are
# TIMESTAMP_NTZ exactly as Spark 4 infers them from these files
# (isAdjustedToUTC=false + inferTimestampNTZ default).
_TESTDATA_DDL = {
    "region": "r_regionkey int, r_name string",
    "nation": "n_nationkey int, n_name string, n_regionkey int",
    "customer": (
        "c_custkey bigint, c_name string, c_nationkey int, c_acctbal double, "
        "c_mktsegment string"
    ),
    "supplier": "s_suppkey bigint, s_name string, s_nationkey int, s_acctbal double",
    "part": (
        "p_partkey bigint, p_name string, p_brand string, p_type string, "
        "p_size int, p_retailprice double"
    ),
    "orders": (
        "o_orderkey bigint, o_custkey bigint, o_orderstatus string, "
        "o_totalprice double, o_orderdate timestamp_ntz, o_orderpriority string"
    ),
    "lineitem": (
        "l_orderkey bigint, l_partkey bigint, l_suppkey bigint, "
        "l_linenumber int, l_quantity double, l_extendedprice double, "
        "l_discount double, l_tax double, l_returnflag string, "
        "l_linestatus string, l_shipdate timestamp_ntz"
    ),
    "events": (
        "event_id bigint, ts timestamp_ntz, user_id bigint, "
        "event_type string, value double, props string"
    ),
    "documents": "doc_id bigint, text string, lang string, source string, n_chars bigint",
    "embeddings": "vec_id bigint, embedding array<float>, label int",
}


def _pinned_schema(name: str, path: str) -> str | None:
    """DDL for ``spark.read.schema(...)`` on a testdata table, or None to
    fall back to inference. ``events`` guards its physical timestamp unit
    with a pyarrow footer read (ms-scale, local paths only): a
    NANOS-stamped file must take the inference path so the documented
    ``nanosAsLong`` → bigint → ``timestamp_micros`` conversion in
    :func:`load_table` applies (FIXTURES.md §5 documents ns; the shipped
    driver files are µs — both stay correct)."""
    ddl = _TESTDATA_DDL.get(name)
    if ddl is None:
        return None
    if name == "events":
        if "://" in path:
            return None  # cannot verify the footer remotely — infer
        try:
            import glob

            import pyarrow.parquet as pq

            f = (
                path
                if os.path.isfile(path)
                else sorted(glob.glob(os.path.join(path, "*.parquet")))[0]
            )
            ts_type = pq.read_schema(f).field("ts").type
            if getattr(ts_type, "unit", None) == "ns":
                return None
        except Exception:
            return None  # unreadable footer — let Spark's inference decide
    return ddl


_RUNTIME_CONFS = {
    # The driver may hand us ITS OWN SparkSession — pin the confs our
    # queries depend on at read time (all are runtime-settable SQLConfs).
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.adaptive.enabled": "true",
    # AQE for cached plans (see session.py): the probe operators persist
    # multi-branch stems; without this the driver's own vanilla session
    # materializes them at the static shuffle-partition count.
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning": "true",
}


def ensure_session_confs(spark: SparkSession) -> None:
    for k, v in _RUNTIME_CONFS.items():
        try:
            if spark.conf.get(k, None) != v:
                spark.conf.set(k, v)
        except Exception:
            pass  # non-settable in this deployment; reads may still work


def load_table(spark: SparkSession, name: str, sf_dir: str | None = None) -> DataFrame:
    """Parquet scan of one testdata table (SURVEY.md §2.1 S2/S4).

    A plain ``spark.read.parquet`` — Catalyst handles column pruning and
    predicate pushdown into the scan, so callers should filter/select on the
    returned DataFrame rather than materializing it.
    """
    ensure_session_confs(spark)
    sf_dir = sf_dir or DEFAULT_SF_DIR
    path = os.path.join(sf_dir, f"{name}.parquet")
    ddl = _pinned_schema(name, path)
    # testdata is not engine-written: a nanosecond events file keeps
    # Spark's inference (see _pinned_schema)
    reader = spark.read
    if ddl is not None:
        reader = reader.schema(ddl)
    df = reader.parquet(path)
    # events.ts is TIMESTAMP(NANOS) in parquet; Spark reads it as long ns
    # (spark.sql.legacy.parquet.nanosAsLong). Truncate to µs — identical to
    # DuckDB's ns→µs cast — so downstream code sees a normal timestamp.
    for f in df.schema.fields:
        if name == "events" and f.name == "ts" and f.dataType.simpleString() == "bigint":
            df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    return df


def load_all(spark: SparkSession, sf_dir: str | None = None) -> dict[str, DataFrame]:
    return {t: load_table(spark, t, sf_dir) for t in TESTDATA_TABLES}


def register_temp_views(spark: SparkSession, sf_dir: str | None = None) -> None:
    """Expose every testdata table as a temp view for ``spark.sql`` entry."""
    for t in TESTDATA_TABLES:
        load_table(spark, t, sf_dir).createOrReplaceTempView(t)


# ---------------------------------------------------------------------------
# Insurance-domain schemas (the reference's own data model, FIXTURES.md §1-2).
# Money uses DecimalType(18,2) per SURVEY.md §7 (float-hash pitfalls).
# ---------------------------------------------------------------------------

CLAIMS_SCHEMA = T.StructType(
    [
        T.StructField("claim_id", T.StringType(), False),
        T.StructField("policy_id", T.StringType(), False),
        T.StructField("customer_id", T.StringType(), False),
        T.StructField("claim_amount", T.DecimalType(18, 2), True),
        T.StructField("claim_date", T.DateType(), True),
        T.StructField("claim_type", T.StringType(), True),
        T.StructField("claim_status", T.StringType(), True),
        T.StructField("description", T.StringType(), True),
        T.StructField("adjuster_id", T.StringType(), True),
        T.StructField("settlement_amount", T.DecimalType(18, 2), True),
        T.StructField("settlement_date", T.DateType(), True),
        T.StructField("created_at", T.TimestampType(), True),
        T.StructField("updated_at", T.TimestampType(), True),
    ]
)

POLICIES_SCHEMA = T.StructType(
    [
        T.StructField("policy_id", T.StringType(), False),
        T.StructField("customer_id", T.StringType(), False),
        T.StructField("policy_number", T.StringType(), True),
        T.StructField("policy_type", T.StringType(), True),
        T.StructField("premium_amount", T.DecimalType(18, 2), True),
        T.StructField("deductible_amount", T.DecimalType(18, 2), True),
        T.StructField("coverage_limit", T.DecimalType(18, 2), True),
        T.StructField("start_date", T.DateType(), True),
        T.StructField("end_date", T.DateType(), True),
        T.StructField("policy_status", T.StringType(), True),
        T.StructField("agent_id", T.StringType(), True),
        T.StructField("created_at", T.TimestampType(), True),
        T.StructField("updated_at", T.TimestampType(), True),
    ]
)

SCHEMAS: dict[str, T.StructType] = {
    "claims": CLAIMS_SCHEMA,
    "policies": POLICIES_SCHEMA,
}


# ---------------------------------------------------------------------------
# Catalog tables: statistics (A11) + bucketing for co-located joins (§4)
# ---------------------------------------------------------------------------


def save_as_catalog_table(
    df: DataFrame,
    name: str,
    bucket_by: tuple[int, tuple[str, ...]] | None = None,
    partition_by: tuple[str, ...] = (),
    mode: str = "overwrite",
) -> None:
    """Register a DataFrame as a managed catalog table.

    ``bucket_by=(n, cols)`` pre-shuffles data into n buckets on ``cols`` —
    two tables bucketed the same way join WITHOUT a shuffle (the co-located
    join strategy for repeated fact⋈fact joins at scale). Bucketing requires
    the catalog (saveAsTable), not path-based parquet.
    """
    spark = df.sparkSession
    if mode == "overwrite":
        # A previous session may have left the managed location behind while
        # the (in-memory) catalog forgot the table — clear both.
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        warehouse = spark.conf.get("spark.sql.warehouse.dir", "")
        loc = os.path.join(warehouse.removeprefix("file:"), name.split(".")[-1].lower())
        if loc and os.path.exists(loc):
            import shutil

            shutil.rmtree(loc)
    w = df.write.mode(mode).format("parquet")
    if partition_by:
        w = w.partitionBy(*partition_by)
    if bucket_by is not None:
        n, cols = bucket_by
        w = w.bucketBy(n, *cols).sortBy(*cols)
    w.saveAsTable(name)


def analyze_table(
    spark: SparkSession, name: str, columns: Sequence[str] | None = None
) -> None:
    """A11: ANALYZE TABLE ... COMPUTE STATISTICS (dbt on-run-end hook,
    ``dbt/dbt_project.yml:95-97``). Column-level stats feed the cost-based
    optimizer's join reordering + broadcast decisions."""
    spark.sql(f"ANALYZE TABLE {name} COMPUTE STATISTICS")
    if columns:
        spark.sql(
            f"ANALYZE TABLE {name} COMPUTE STATISTICS FOR COLUMNS {', '.join(columns)}"
        )


def table_stats(spark: SparkSession, name: str) -> dict[str, str]:
    """Read back computed statistics (rowCount/sizeInBytes) from the
    catalog — the reference surfaces these in monitoring."""
    rows = spark.sql(f"DESCRIBE EXTENDED {name}").collect()
    out: dict[str, str] = {}
    for r in rows:
        if r["col_name"] == "Statistics":
            out["statistics"] = r["data_type"]
    return out
