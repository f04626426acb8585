"""Structured Streaming operators (SURVEY.md §2.10 X1-X7).

The reference is batch-only (its orchestrator is a subprocess chain,
``scripts/orchestrator.py:141-174``); these are the extension tier over the
``events`` table. Design rule: every streaming aggregation is written so the
SAME expression tree runs in batch mode — batch parity is the correctness
oracle (`availableNow` trigger = process-everything-then-stop), and the
declared queries in ``queries/streaming.py`` run the batch twins.

Scale notes: watermark + windowed state lives in the state store; partition
count of stateful stages = ``spark.sql.shuffle.partitions`` at first run
(fixed thereafter) — size it for the target throughput up front. foreachBatch
sinks use the batch-id for idempotent replay (X7: the reference's
``ingestion_batch_id`` pattern generalized).
"""

from __future__ import annotations

import os
from collections.abc import Callable, Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery

EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


# -- X1: sources / sinks -----------------------------------------------------


def stream_from_parquet(
    spark: SparkSession, path: str, schema: T.StructType = EVENTS_SCHEMA
) -> DataFrame:
    """File stream source. Streaming file sources require an explicit
    schema; new files in ``path`` become micro-batch input."""
    return spark.readStream.schema(schema).parquet(path)


def write_stream_parquet(
    df: DataFrame, path: str, checkpoint: str, trigger_available_now: bool = True
) -> StreamingQuery:
    w = (
        df.writeStream.format("parquet")
        .option("path", path)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
    )
    if trigger_available_now:
        w = w.trigger(availableNow=True)
    return w.start()


def run_available_now_to_memory(df: DataFrame, name: str, output_mode: str = "complete") -> None:
    """Batch-parity runner: drain everything currently available, then stop.
    Results land in the in-memory table ``name`` (tests read it back)."""
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


# -- X2: watermark -----------------------------------------------------------


def with_watermark(df: DataFrame, ts_col: str = "ts", delay: str = "10 minutes") -> DataFrame:
    """Late-data bound: state for windows older than max(ts) - delay is
    evicted; later rows are dropped (the freshness-tier notion of the
    reference, health_check.py:352-361, made operational)."""
    return df.withWatermark(ts_col, delay)


# -- X3/X4/X5: windowed aggregations ----------------------------------------


def tumbling_agg(
    df: DataFrame,
    aggs: Sequence[Column],
    ts_col: str = "ts",
    window: str = "5 minutes",
    extra_keys: Sequence[str] = (),
) -> DataFrame:
    """Tumbling window groupBy — identical expression in batch & streaming."""
    return df.groupBy(F.window(F.col(ts_col), window), *extra_keys).agg(*aggs)


def sliding_agg(
    df: DataFrame,
    aggs: Sequence[Column],
    ts_col: str = "ts",
    window: str = "10 minutes",
    slide: str = "5 minutes",
    extra_keys: Sequence[str] = (),
) -> DataFrame:
    return df.groupBy(F.window(F.col(ts_col), window, slide), *extra_keys).agg(*aggs)


def session_agg(
    df: DataFrame,
    aggs: Sequence[Column],
    ts_col: str = "ts",
    gap: str = "30 minutes",
    keys: Sequence[str] = ("user_id",),
) -> DataFrame:
    """Session windows: a session extends while successive events arrive
    within ``gap``; closes after inactivity >= gap (half-open)."""
    return df.groupBy(F.session_window(F.col(ts_col), gap), *keys).agg(*aggs)


# -- X8/X9: streaming joins --------------------------------------------------


def stream_static_join(
    stream: DataFrame, static: DataFrame, on: Sequence[str] | Column, how: str = "inner"
) -> DataFrame:
    """Enrich a stream with a static dimension table.

    Stateless: each micro-batch joins against the (snapshot of the) static
    side, so a small dim broadcasts per batch — the streaming twin of J3.
    The static side is re-read per batch for file sources, which is what
    makes slowly-changing dims pick up updates without restart. Identical
    call works in batch mode (the batch twin IS the same join).
    """
    return stream.join(static, on, how)


def stream_stream_join(
    left: DataFrame,
    right: DataFrame,
    key: str | Sequence[str],
    left_ts: str = "ts",
    right_ts: str = "ts",
    watermark: str = "10 minutes",
    max_delay: str = "30 minutes",
    how: str = "inner",
) -> DataFrame:
    """Watermarked stream-stream equi-join with a bounded time condition:
    right event within [left_ts, left_ts + max_delay].

    Both sides buffer in the state store; the watermark + time bound is
    what lets Spark evict matched/expired rows — without the time bound
    state grows forever. State size ≈ input rate × (watermark + max_delay)
    per side: size the state store (RocksDB at scale) for that product.
    Column names must be disjoint apart from the join key(s); timestamps
    keep their side's name. Works identically in batch mode (watermarks
    are no-ops there), which is the correctness twin the tests use.
    """
    keys = [key] if isinstance(key, str) else list(key)
    if left.isStreaming:
        left = left.withWatermark(left_ts, watermark)
    if right.isStreaming:
        right = right.withWatermark(right_ts, watermark)
    l, r = left.alias("l"), right.alias("r")
    cond = None
    for k in keys:
        eq = F.col(f"l.{k}") == F.col(f"r.{k}")
        cond = eq if cond is None else cond & eq
    cond = (
        cond
        & (F.col(f"r.{right_ts}") >= F.col(f"l.{left_ts}"))
        & (F.col(f"r.{right_ts}") <= F.col(f"l.{left_ts}") + F.expr(f"INTERVAL {max_delay}"))
    )
    return l.join(r, cond, how)


# -- X6: stateful dedup ------------------------------------------------------


def stateful_dedup(df: DataFrame, keys: Sequence[str], ts_col: str = "ts", delay: str = "10 minutes") -> DataFrame:
    """Streaming exactly-once-per-key within the watermark horizon.
    Batch twin: dropDuplicates(keys) / the deterministic W1 dedup."""
    if df.isStreaming:
        return df.withWatermark(ts_col, delay).dropDuplicatesWithinWatermark(list(keys))
    return df.dropDuplicates(list(keys))


# -- X7: incremental idempotent append --------------------------------------


def foreach_batch_upsert(
    target_path: str,
    key_cols: Sequence[str],
    spark: SparkSession,
) -> Callable[[DataFrame, int], None]:
    """foreachBatch sink: merge each micro-batch into a parquet target,
    last-writer-wins per key — the reference's batch_id append
    (``scripts/ingestion.py:80,96``) upgraded to idempotent upsert.

    With Delta available this is ``MERGE INTO``; the parquet fallback
    rewrites the union-dedup (acceptable for moderate targets; Delta/
    Iceberg is the 100 TB answer and the API boundary is identical).
    """

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        # Ordering key is a per-target write sequence (__seq), NOT the
        # stream's batch id: a restarted stream resets batch ids to 0, so
        # ordering by batch id would let stale stored rows outrank fresh
        # data. __seq = max stored seq + 1 is monotone across restarts;
        # a same-run replay writes identical content under a new seq, so
        # the result is unchanged (idempotent). __batch_id is kept for audit.
        batch = batch_df.withColumn("__batch_id", F.lit(batch_id))
        if os.path.exists(target_path):
            current = spark.read.parquet(target_path)
            if "__batch_id" not in current.columns:
                current = current.withColumn("__batch_id", F.lit(-1))
            if "__seq" not in current.columns:
                current = current.withColumn("__seq", F.lit(0).cast("long"))
            max_seq = current.agg(F.max("__seq")).first()[0] or 0
            batch = batch.withColumn("__seq", F.lit(int(max_seq) + 1).cast("long"))
            merged = current.unionByName(batch, allowMissingColumns=True)
        else:
            batch = batch.withColumn("__seq", F.lit(1).cast("long"))
            merged = batch
        from pyspark.sql import Window

        w = Window.partitionBy(*key_cols).orderBy(F.col("__seq").desc())
        deduped = (
            merged.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )
        deduped.write.mode("overwrite").parquet(target_path + "_tmp")
        # atomic-ish swap (parquet fallback; Delta MERGE avoids this dance);
        # the helper also refreshes the session's path caches so the NEXT
        # micro-batch's read of target_path lists fresh files
        from etl_hiscox_spark.sources.writers import swap_and_refresh

        swap_and_refresh(spark, target_path + "_tmp", target_path)

    return _apply


def foreach_batch_txn_append(
    target_path: str, spark: SparkSession, app_id: str
) -> Callable[[DataFrame, int], None]:
    """Exactly-once streaming append: each micro-batch commits as ONE
    txn-log version tagged (``app_id``, batch_id). foreachBatch is
    at-least-once — after a failure the restarted query replays the last
    batch — but the replayed id is already in the manifest log, so the
    sink skips it: end-to-end exactly-once without a MERGE. This is
    Delta's ``txnAppId``/``txnVersion`` idempotent-writes protocol on the
    manifest-log fallback (and with Delta deployed, ManagedTable swaps in
    with the same two options).

    Operational contract (same as Delta's): batch ids live in the
    checkpoint — if you reset/delete the checkpoint, pick a NEW app_id,
    or the restarted ids (0,1,2,…) will all be skipped as already
    committed.
    """
    from etl_hiscox_spark.sources.txnlog import TxnTable

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        TxnTable(spark, target_path).write_txn(batch_df, app_id, int(batch_id))

    return _apply
