"""Sinks (SURVEY.md §2.1 S3, S8-S10): append with schema evolution,
CTAS-style materialization, SCD-2 snapshots.

The reference writes Delta with ``mode("append") + mergeSchema``
(``scripts/ingestion.py:94-98``). Plain-parquet deployments emulate
mergeSchema with an explicit unionByName against the existing table —
decided once here, documented, used everywhere (SURVEY.md §7).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F


def _local_fs_path(path: str) -> str:
    """``file:``-scheme strip for the os/shutil legs of a tmp+swap —
    Spark-facing calls keep the original URI. (A ``file:`` path is
    always driver-local; callers gate remote schemes separately with
    ``listing._meta_is_local``.) Both URI renderings
    are normalized — ``file:///x`` (RFC form) AND ``file:/x`` (Hadoop's
    ``Path.toString()`` single-slash form, ADVICE r11): strip the scheme,
    then collapse leading slashes to one, the same normalization as
    ``sources/listing._resolve_fs``."""
    import re

    if not path.startswith("file:"):
        return path
    return re.sub("^/+", "/", path[len("file:"):])


def refresh_swapped_path(spark: SparkSession, path: str) -> None:
    """Invalidate Spark's cached listings/plans for ``path`` after an
    OUT-OF-BAND file swap. Writes issued THROUGH Spark refresh the
    session's shared FileStatusCache for their output path automatically;
    a ``shutil.rmtree`` + ``os.rename`` swap bypasses Spark entirely, so
    a later read of the same path can be served the PRE-swap file listing
    and die on a deleted part file (r10 bench: a post-compaction probe
    read a pre-swap bucket file). Every tmp+swap in this codebase must
    call this after the rename."""
    spark.catalog.refreshByPath(path)


def swap_and_refresh(spark: SparkSession, tmp: str, path: str) -> None:
    """THE tmp-swap: remove ``path``, rename ``tmp`` into place, refresh
    Spark's path caches. One implementation (r10 review) — the hand-rolled
    copies of this three-step dance kept forgetting the refresh, which is
    exactly how the stale-listing bench failure happened."""
    import shutil

    ltmp, lpath = _local_fs_path(tmp), _local_fs_path(path)
    if os.path.exists(lpath):
        shutil.rmtree(lpath)
    os.rename(ltmp, lpath)
    refresh_swapped_path(spark, path)


def append_with_schema_merge(
    spark: SparkSession, df: DataFrame, path: str, partition_by: tuple[str, ...] = ()
) -> None:
    """S3: append + schema evolution (mergeSchema parity for parquet).

    If the target exists with a different column set, the union of columns
    is applied to BOTH sides (missing columns null-filled) and the table is
    rewritten once; otherwise a plain append. At scale prefer Delta/Iceberg
    where evolution is a metadata operation — this fallback keeps the same
    API surface.
    """
    if os.path.exists(path):
        current = spark.read.parquet(path)
        if set(current.columns) != set(df.columns):
            merged = current.unionByName(df, allowMissingColumns=True)
            tmp = path.rstrip("/") + "__rewrite"
            w = merged.write.mode("overwrite")
            if partition_by:
                w = w.partitionBy(*partition_by)
            w.parquet(tmp)
            swap_and_refresh(spark, tmp, path)
            return
    w = df.write.mode("append")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


def materialize(
    df: DataFrame,
    path: str,
    partition_by: tuple[str, ...] = (),
    mode: str = "overwrite",
    sort_by: tuple[str, ...] = (),
) -> None:
    """S8: CTAS / dbt ``materialized='table'`` full refresh
    (bronze_claims.sql:1-5). Partition columns give partition pruning to
    every downstream reader — date-grain for facts (SURVEY.md §4).

    ``sort_by``: cluster rows by range-repartition + in-partition sort
    before writing. Parquet row-group min/max stats then prune point/range
    predicates on those columns inside each file — the poor-man's Z-order,
    and the right layout for a selective key at 100 TB.
    """
    if sort_by:
        df = df.repartitionByRange(*[F.col(c) for c in sort_by]).sortWithinPartitions(
            *[F.col(c) for c in sort_by]
        )
    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


def scd2_snapshot(
    spark: SparkSession,
    source: DataFrame,
    path: str,
    key: str,
    updated_at: str = "updated_at",
) -> DataFrame:
    """S9: timestamp-strategy SCD-2 snapshot (dbt snapshots,
    dbt_project.yml:49-53).

    First run: all rows open (valid_to = NULL). Subsequent runs: rows whose
    ``updated_at`` advanced close the previous version (valid_to = new
    valid_from) and open a new one. Pure DataFrame ops: union + window —
    one shuffle on ``key``. Returns the new snapshot state (also written).
    """
    src = source.withColumn("__valid_from", F.col(updated_at))
    if os.path.exists(path):
        prev = spark.read.parquet(path)
        hist = prev.unionByName(
            src.withColumn("__valid_to", F.lit(None).cast("timestamp")),
            allowMissingColumns=True,
        )
        # Re-derive validity chain per key from scratch — idempotent under
        # replay (same input => same snapshot), the property the reference's
        # append-only pipeline lacks.
        hist = hist.dropDuplicates([key, "__valid_from"])
    else:
        hist = src.withColumn("__valid_to", F.lit(None).cast("timestamp"))
    w = Window.partitionBy(key).orderBy(F.col("__valid_from").asc())
    out = hist.withColumn("__valid_to", F.lead("__valid_from").over(w))
    # Write-to-tmp + swap: the plan lazily reads the files at ``path``, so a
    # direct overwrite would delete its own input mid-job.
    tmp = path.rstrip("/") + "__tmp"
    out.write.mode("overwrite").parquet(tmp)
    swap_and_refresh(spark, tmp, path)
    return spark.read.parquet(path)


def seed_load(spark: SparkSession, csv_path: str, target_path: str) -> DataFrame:
    """S10: dbt seed — small CSV → table (dbt_project.yml:56-58)."""
    from etl_hiscox_spark.sources.readers import read_csv

    df = read_csv(spark, csv_path)
    materialize(df, target_path)
    return df


def _xxhashable(dt) -> bool:
    """True if ``xxhash64`` accepts the type: MapType is unhashable at any
    nesting depth (Spark's HashExpression rejects it because map iteration
    order is undefined)."""
    from pyspark.sql import types as T

    if isinstance(dt, T.MapType):
        return False
    if isinstance(dt, T.ArrayType):
        return _xxhashable(dt.elementType)
    if isinstance(dt, T.StructType):
        return all(_xxhashable(f.dataType) for f in dt.fields)
    return True


def incremental_refresh(
    spark: SparkSession,
    source: DataFrame,
    path: str,
    partition_col: str,
    files_per_partition: int = 8,
) -> DataFrame:
    """S14: dbt ``materialized='incremental'`` parity
    (dbt_project.yml:32-46 model groups; insert_overwrite strategy).

    First run: full build, partitioned by ``partition_col``. Subsequent
    runs: read the high-watermark ``max(partition_col)`` from the existing
    target's partition DIRECTORY NAMES (one non-recursive listing —
    O(partitions), no Spark job, no per-file listing; see
    :func:`etl_hiscox_spark.sources.listing.partition_high_watermark`),
    filter the source to partitions ``>= watermark``, and dynamically
    overwrite exactly those partitions via
    :func:`overwrite_partitions_dynamic`. Dtypes whose dir-name encoding
    does not safely round-trip (timestamps, decimals, floats) fall back
    to the footer-scan ``agg(max)`` — correct everywhere, just not free.

    ``>=`` not ``>``: the boundary partition is recomputed in full, so
    late-arriving rows that land in the partition the last run already
    wrote are picked up — the classic off-by-one of naive dbt incremental
    models. Every older partition's files are untouched (pinned by
    ``tests/test_pipeline.py`` mtime check).

    At 100 TB this is THE daily-refresh primitive: the watermark filter
    prunes the source scan to new partitions (partition pruning +
    predicate pushdown), and the write touches only those partitions —
    cost scales with the day's data, not the table's history.
    """
    from etl_hiscox_spark.sources.listing import partition_high_watermark

    col_type = source.schema[partition_col].dataType
    try:
        found, wm_value = partition_high_watermark(path, partition_col, col_type)
    except ValueError:
        # dtype without a safe dir-name round-trip — the raise implies the
        # table already has a data-bearing partition: footer-scan fallback.
        found = True
        wm_value = (
            spark.read.parquet(path).agg(F.max(partition_col).alias("wm")).collect()[0]["wm"]
        )
    if found and wm_value is not None:
        # Watermark values parse back as Python str/int/date — cast the
        # literal to the SOURCE column's type so the pushed-down
        # comparison never mixes types.
        source = source.filter(F.col(partition_col) >= F.lit(wm_value).cast(col_type))
    # Cluster rows by (partition value, salt) before the partitioned
    # write. Partition value alone kills the small-file spray (every
    # upstream task writing a sliver into every partition dir) but
    # collapses each day onto ONE task — at the 100 TB/day design point a
    # single task would write the whole day (VERDICT r6 item 3). The salt
    # — a deterministic row hash mod ``files_per_partition`` — fans each
    # partition across up to that many tasks/files: bounded file count
    # per partition AND bounded bytes per task. The salt is a repartition
    # expression only; it never lands in the schema or the files.
    # xxhash64 rejects MapType (anywhere in the nesting) — hash only the
    # hashable payload columns; if none remain, fall back to a row-id
    # spread (ADVICE r7 item 5; determinism of the salt is a file-layout
    # nicety, not a correctness requirement). The partition column is
    # excluded: it is constant within a partition, so it adds no spread —
    # and alone it would collapse the fan-out to one file.
    hashable = [
        c
        for c in source.columns
        if c != partition_col and _xxhashable(source.schema[c].dataType)
    ]
    if hashable:
        salt = F.pmod(F.xxhash64(*[F.col(c) for c in hashable]), F.lit(int(files_per_partition)))
    else:
        salt = F.pmod(F.monotonically_increasing_id(), F.lit(int(files_per_partition)))
    overwrite_partitions_dynamic(
        source.repartition(F.col(partition_col), salt), path, (partition_col,)
    )
    return spark.read.parquet(path)


def overwrite_partitions_dynamic(
    df: DataFrame, path: str, partition_by: tuple[str, ...]
) -> None:
    """Overwrite ONLY the partitions present in ``df`` (dynamic mode).

    The daily-reprocess primitive at scale: re-running one day's pipeline
    replaces that day's directory and leaves every other partition's files
    untouched — no read-modify-write of the whole table, no window where
    unrelated data is missing. Static overwrite (Spark's default) would
    truncate the entire table first.
    """
    (
        df.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*partition_by)
        .parquet(path)
    )


def compact_small_files(
    spark: SparkSession,
    path: str,
    target_file_mb: int = 256,
    sort_by: tuple[str, ...] = (),
) -> int:
    """Rewrite a parquet directory into ~``target_file_mb``-sized files.

    Streaming sinks and fine-grained partitioned appends accumulate
    thousands of KB-scale files; at 100 TB that's a scan-planning and
    NameNode/S3-LIST tax on every reader. Sizing from the actual on-disk
    bytes (not row counts) keeps the result stable across schema width.
    Returns the output file count. Write-to-tmp + swap because the plan
    lazily reads ``path`` — overwriting in place would delete its own
    input mid-job. At scale this is table-format ``OPTIMIZE``; same
    semantics here for plain parquet.
    """
    tmp = path.rstrip("/") + "__compact"
    # mode=overwrite: a leftover tmp from a crashed earlier run is debris
    # under THIS commit protocol (the swap never ran, path is intact)
    n = compact_parquet_to_dir(
        spark.read.parquet(path), [path], tmp, target_file_mb, sort_by, mode="overwrite"
    )
    swap_and_refresh(spark, tmp, path)
    return n


def compact_parquet_to_dir(
    df: DataFrame,
    srcs: list[str],
    dst: str,
    target_file_mb: int = 256,
    sort_by: tuple[str, ...] = (),
    mode: str = "error",
) -> int:
    """The rewrite half of :func:`compact_small_files`, decoupled from the
    local-only tmp+swap commit: rewrite ``df``, the caller's read of the
    trees ``srcs`` (the OCC-append segment merge reads every live segment,
    r13), into ``dst`` as ~``target_file_mb``-sized files (optionally
    range-partitioned AND sorted on ``sort_by`` so each key clusters into
    one file-contiguous run), return the output file count. The caller
    reads, because the caller knows the trees' provenance: an index
    merge pins its own layout's schema, a plain directory is inferred.
    Sizing and counting go through ``pyarrow.fs``
    (:func:`listing.data_files`), so the rewrite works on any filesystem —
    the generation-pointer index maintenance commits the SAME rewrite with
    a pointer flip instead of a rename (r12)."""
    from etl_hiscox_spark.sources.listing import data_files

    total_bytes = sum(f.size for s in srcs for f in data_files(s))
    n_files = max(1, -(-total_bytes // (target_file_mb * 1024 * 1024)))
    if sort_by:
        cols = [F.col(c) for c in sort_by]
        out = df.repartitionByRange(n_files, *cols).sortWithinPartitions(*cols)
    else:
        out = df.repartition(n_files)
    out.write.mode(mode).parquet(dst)
    return len(data_files(dst))


def erase_keys(
    spark: SparkSession,
    target_path: str,
    keys: DataFrame,
    key_col: str,
) -> int:
    """Right-to-be-forgotten erasure: rewrite a parquet target dropping
    every row whose ``key_col`` appears in ``keys``; returns the number of
    rows erased.

    Parquet files are immutable, so erasure is anti-join + rewrite with
    the same atomic-ish tmp-swap the upsert sink uses (Delta/Iceberg make
    this a DELETE with file-level rewrite planning; the API boundary is
    identical). The key set broadcasts (erasure requests are tiny next to
    the table). At 100 TB, partition the target by a coarse key prefix so
    the rewrite touches only affected partitions — here the whole-table
    rewrite is the honest fallback. The count is taken from the same
    rewrite pass's bookkeeping (two cheap aggregates, no extra scan of
    the full payload).
    """
    import shutil

    from pyspark.sql import Observation

    tmp, backup = target_path + "_tmp", target_path + "_bak"
    current = spark.read.parquet(target_path)
    key_set = keys.select(key_col).distinct()
    # both counts ride the ONE rewrite action as observations (r18, guide
    # §5: this path paid three actions — count, write, tmp re-read+count —
    # for numbers the write job itself can report): n_before counts rows
    # flowing out of the scan below the anti-join, n_after the rows that
    # survive it. Values identical to the separate scans by construction.
    o_before, o_after = Observation(), Observation()
    kept = (
        current.observe(o_before, F.count(F.lit(1)).alias("n"))
        .join(F.broadcast(key_set), on=key_col, how="left_anti")
        .observe(o_after, F.count(F.lit(1)).alias("n"))
    )
    try:
        kept.write.mode("overwrite").parquet(tmp)
        n_before = o_before.get["n"] or 0
        n_after = o_after.get["n"] or 0
        # Swap via backup-rename so no crash point loses the table: the
        # worst interruption leaves either target or _bak intact, and the
        # un-erased PII rows never outlive a successful swap.
        if os.path.exists(backup):
            shutil.rmtree(backup)
        os.rename(target_path, backup)
        os.rename(tmp, target_path)
        shutil.rmtree(backup)
        refresh_swapped_path(spark, target_path)
        return n_before - n_after
    finally:
        if os.path.exists(tmp):
            shutil.rmtree(tmp)


def zorder_layout(
    df: DataFrame,
    path: str,
    cols: tuple[str, str],
    n_files: int = 16,
    bits: int = 16,
) -> None:
    """Write ``df`` clustered by the Z-order (Morton) interleaving of two
    columns — multi-dimensional file pruning (Delta ``OPTIMIZE ZORDER BY``,
    the public bit-interleave technique).

    A single-column sort gives disjoint per-file ranges on THAT column
    only; a point/range filter on any other column still opens every
    file. Interleaving the bit representations makes per-file min/max
    ranges compact on BOTH columns, so parquet footer stats prune files
    for filters on either (or both) — at 100 TB the difference between
    reading 1/n_files of the table and all of it, on the second-most
    common predicate column.

    Mechanics: each column min/max-scales to ``bits`` bits (bounds from
    one tiny driver-side aggregate), the bit positions interleave into a
    z-value with a chain of codegen'd shift/or expressions (no UDF), and
    the frame range-repartitions + sorts on z before writing.
    """
    c0, c1 = (F.col(c).cast("double") for c in cols)
    lo0, hi0, lo1, hi1 = df.agg(
        F.min(c0), F.max(c0), F.min(c1), F.max(c1)
    ).first()
    if lo0 is None or lo1 is None:
        raise ValueError(
            f"zorder_layout: no non-null values in {cols} (empty input?) — "
            "nothing to cluster; write the frame directly instead"
        )
    span0 = (hi0 - lo0) or 1.0
    span1 = (hi1 - lo1) or 1.0
    top = (1 << bits) - 1
    q0 = ((c0 - F.lit(lo0)) / F.lit(span0) * top).cast("long")
    q1 = ((c1 - F.lit(lo1)) / F.lit(span1) * top).cast("long")
    z = F.lit(0).cast("long")
    for i in range(bits):
        z = z.bitwiseOR(
            F.shiftleft(F.shiftright(q0, i).bitwiseAND(F.lit(1)), 2 * i)
        ).bitwiseOR(
            F.shiftleft(F.shiftright(q1, i).bitwiseAND(F.lit(1)), 2 * i + 1)
        )
    (
        df.withColumn("__z", z)
        .repartitionByRange(n_files, F.col("__z"))
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode("overwrite")
        .parquet(path)
    )


def write_training_shards(
    spark: SparkSession,
    df: DataFrame,
    path: str,
    id_col: str,
    token_count,
    shard_tokens: int,
) -> DataFrame:
    """Shard a curated corpus into ~``shard_tokens``-sized training shards
    and return a verifiable manifest — the last mile of a training-data
    pipeline (the trainer's dataloader reads shards, not a lake table).

    Shard assignment is sha256(id) mod n_shards with
    ``n_shards = ceil(total_tokens / shard_tokens)``: fully parallel (no
    global prefix-sum — a global cumsum would serialize 100 TB through
    one window partition), engine-portable, and balanced to the law of
    large numbers (each shard holds ~total/n docs drawn uniformly;
    token-count variance across shards shrinks as shards grow — real
    pipelines accept ±few-% shard skew for a zero-coordination assign).
    The total-token count rides IN-PLAN as a broadcast 1-row aggregate
    (cross-join, not a driver collect — ADVICE r7 item 4): one job, no
    driver round-trip, and the aggregate subtree scans only the pruned
    token column.

    The manifest (one row per shard: n_docs, n_tokens, and the sha256 of
    the comma-joined ascending doc ids) is both the dataloader's index
    and an end-to-end integrity check: a dropped/duplicated doc anywhere
    upstream changes ``docs_hash``.
    """
    totals = df.agg(
        F.coalesce(F.sum(token_count.cast("bigint")), F.lit(0)).alias("__total_tokens")
    )
    n_shards = F.greatest(
        F.lit(1),
        F.ceil(F.col("__total_tokens") / F.lit(int(shard_tokens))).cast("long"),
    )
    assigned = (
        df.crossJoin(F.broadcast(totals))
        .select(
            F.col(id_col),
            token_count.cast("bigint").alias("n_tokens"),
            (
                F.conv(
                    F.substring(F.sha2(F.col(id_col).cast("string"), 256), 1, 8), 16, 10
                ).cast("long")
                % n_shards
            ).alias("shard_id"),
        )
    )
    (
        assigned.repartition(F.col("shard_id"))
        .write.mode("overwrite")
        .partitionBy("shard_id")
        .parquet(path)
    )
    # Explicit schema on the read-back: an EMPTY corpus writes only
    # _SUCCESS, and schema inference over zero files would raise an
    # unrelated AnalysisException instead of returning an empty manifest.
    back = spark.read.schema(assigned.schema).parquet(path)
    return (
        back.groupBy("shard_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("n_tokens"),
            F.sha2(
                F.concat_ws(
                    ",",
                    F.transform(
                        F.array_sort(F.collect_list(F.col(id_col))),
                        lambda x: x.cast("string"),
                    ),
                ),
                256,
            ).alias("docs_hash"),
        )
        .select(F.col("shard_id").cast("int").alias("shard_id"), "n_docs", "n_tokens", "docs_hash")
    )
