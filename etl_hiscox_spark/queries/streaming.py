"""Streaming-operator queries (X3-X7) — batch twins with DuckDB oracles.

Each declared query runs the SAME expression tree the streaming path uses
(``streaming/ops.py``); the streaming execution itself (readStream →
availableNow → memory sink, watermarks, dropDuplicatesWithinWatermark) is
asserted batch-equal in ``tests/test_streaming.py``. Money-style sums use
the decimal-exact pattern; ``value`` has 2-decimal money shape.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_hiscox_spark.operators.windows import dedup_rank
from etl_hiscox_spark.queries import register
from etl_hiscox_spark.registry import load_table
from etl_hiscox_spark.streaming.ops import session_agg, sliding_agg, tumbling_agg


@register(
    "x3_tumbling_window",
    oracle="""
    SELECT time_bucket(INTERVAL '5 minutes', ts) AS window_start,
           event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM events GROUP BY 1, 2
    """,
)
def x3_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    # X3: 5-minute tumbling windows per event type (epoch-aligned — same
    # alignment as DuckDB time_bucket).
    ev = load_table(spark, "events", sf_dir)
    out = tumbling_agg(
        ev,
        aggs=[
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
        ],
        ts_col="ts",
        window="5 minutes",
        extra_keys=["event_type"],
    )
    return out.select(
        F.col("window.start").alias("window_start"), "event_type", "n_events", "sum_value"
    )


@register(
    "x4_sliding_window",
    oracle="""
    WITH slid AS (
      SELECT time_bucket(INTERVAL '5 minutes', ts) - INTERVAL (s.i * 5) MINUTE AS window_start,
             value
      FROM events, (SELECT UNNEST(range(2)) AS i) s
    )
    SELECT window_start, COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM slid GROUP BY window_start
    """,
)
def x4_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    # X4: 10-minute windows sliding by 5 — every event lands in exactly 2
    # windows (the oracle materializes both memberships explicitly).
    ev = load_table(spark, "events", sf_dir)
    out = sliding_agg(
        ev,
        aggs=[
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
        ],
        ts_col="ts",
        window="10 minutes",
        slide="5 minutes",
    )
    return out.select(F.col("window.start").alias("window_start"), "n_events", "sum_value")


@register(
    "x5_session_window",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts,
             CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       >= INTERVAL 30 MINUTE
                  OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events
    ), numbered AS (
      SELECT user_id, ts,
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS UNBOUNDED PRECEDING) AS session_no
      FROM flagged
    )
    SELECT user_id, MIN(ts) AS session_start, MAX(ts) AS session_last, COUNT(*) AS n_events
    FROM numbered GROUP BY user_id, session_no
    """,
)
def x5_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    # X5: 30-minute-gap sessionization. The oracle is the classic
    # gaps-and-islands SQL; Spark's session_window merges while gap < 30m
    # (half-open), which '>= INTERVAL 30' reproduces exactly.
    ev = load_table(spark, "events", sf_dir)
    out = session_agg(
        ev,
        aggs=[
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_last"),
            F.count(F.lit(1)).alias("n_events"),
        ],
        ts_col="ts",
        gap="30 minutes",
        keys=["user_id"],
    )
    return out.select("user_id", "session_start", "session_last", "n_events")


@register(
    "x8_threshold_crossing",
    oracle="""
    WITH cum AS (
      SELECT user_id,
             CAST(SUM(CAST(value AS DECIMAL(18,2)))
                  OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS cumulative_value,
             COUNT(*) OVER (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS UNBOUNDED PRECEDING) AS crossed_at_n
      FROM events
    )
    SELECT user_id,
           arg_min(cumulative_value, crossed_at_n) AS cumulative_value,
           MIN(crossed_at_n) AS crossed_at_n
    FROM cum WHERE cumulative_value >= 500.0
    GROUP BY user_id
    """,
)
def x8_threshold_crossing(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Custom stateful operator (applyInPandasWithState in streaming mode):
    # one alert per user at the FIRST cumulative-value crossing. This is
    # the batch twin; the cross-micro-batch state machine is asserted in
    # tests/test_stateful.py.
    from etl_hiscox_spark.streaming.stateful import threshold_alert_stream

    ev = load_table(spark, "events", sf_dir).select("user_id", "ts", "event_id", "value")
    return threshold_alert_stream(ev, threshold=500.0)


@register(
    "x6_stateful_dedup_batch_twin",
    oracle="""
    SELECT event_id, user_id, event_type, ts, value FROM (
      SELECT event_id, user_id, event_type, ts, value,
             ROW_NUMBER() OVER (
               PARTITION BY user_id, event_type, time_bucket(INTERVAL '5 minutes', ts)
               ORDER BY ts ASC, event_id ASC) AS rn
      FROM events
    ) WHERE rn = 1
    """,
)
def x6_stateful_dedup_batch_twin(spark: SparkSession, sf_dir: str) -> DataFrame:
    # X6 batch twin: first event per (user, type, 5-min bucket) — the
    # deterministic form of dropDuplicatesWithinWatermark (streaming path
    # asserted batch-equal in tests/test_streaming.py).
    ev = load_table(spark, "events", sf_dir).select(
        "event_id", "user_id", "event_type", "ts", "value"
    )
    bucketed = ev.withColumn("__w", F.window("ts", "5 minutes"))
    out = dedup_rank(
        bucketed,
        keys=["user_id", "event_type", "__w"],
        order_by=["ts", "event_id"],
        descending=False,
    )
    return out.drop("__w")


@register(
    "x9_stream_static_enrich",
    oracle="""
    SELECT c_mktsegment,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM events JOIN customer ON user_id = c_custkey
    GROUP BY c_mktsegment
    """,
)
def x9_stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    # X8 batch twin: stream enriched by a static dim (J3's streaming form —
    # the dim broadcasts per micro-batch; real readStream execution is
    # asserted batch-equal in tests/test_streaming.py).
    from etl_hiscox_spark.streaming.ops import stream_static_join

    ev = load_table(spark, "events", sf_dir)
    cust = load_table(spark, "customer", sf_dir).select("c_custkey", "c_mktsegment")
    joined = stream_static_join(ev, cust, ev.user_id == cust.c_custkey)
    return joined.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
    )


@register(
    "x10_click_purchase_join",
    oracle="""
    SELECT l.user_id AS user_id,
           COUNT(*) AS n_pairs,
           MIN(r.ts) AS first_purchase_ts
    FROM (SELECT user_id, ts FROM events WHERE event_type = 'click') l
    JOIN (SELECT user_id, ts FROM events WHERE event_type = 'purchase') r
      ON l.user_id = r.user_id
     AND r.ts >= l.ts AND r.ts <= l.ts + INTERVAL 30 MINUTE
    GROUP BY l.user_id
    """,
)
def x10_click_purchase_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    # X9 batch twin: watermarked stream-stream join — purchases within 30
    # minutes after a click, per user. The time bound is what makes state
    # evictable in the streaming run (tests assert stream==batch).
    from etl_hiscox_spark.streaming.ops import stream_stream_join

    ev = load_table(spark, "events", sf_dir)
    clicks = ev.filter(F.col("event_type") == "click").select("user_id", "ts")
    purchases = ev.filter(F.col("event_type") == "purchase").select("user_id", "ts")
    joined = stream_stream_join(
        clicks, purchases, key="user_id", watermark="10 minutes", max_delay="30 minutes"
    )
    return joined.groupBy(F.col("l.user_id").alias("user_id")).agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.min(F.col("r.ts")).alias("first_purchase_ts"),
    )


@register(
    "x11_funnel_stages",
    oracle="""
    WITH v AS (
      SELECT user_id, MIN(ts) AS t1 FROM events WHERE event_type = 'view' GROUP BY user_id
    ), c AS (
      SELECT e.user_id, MIN(e.ts) AS t2
      FROM events e JOIN v ON e.user_id = v.user_id
      WHERE e.event_type = 'click' AND e.ts >= v.t1
      GROUP BY e.user_id
    ), p AS (
      SELECT e.user_id, MIN(e.ts) AS t3
      FROM events e JOIN c ON e.user_id = c.user_id
      WHERE e.event_type = 'purchase' AND e.ts >= c.t2
      GROUP BY e.user_id
    )
    SELECT '1_view' AS stage, COUNT(*) AS n_users FROM v
    UNION ALL
    SELECT '2_click' AS stage, COUNT(*) AS n_users FROM c
    UNION ALL
    SELECT '3_purchase' AS stage, COUNT(*) AS n_users FROM p
    """,
)
def x11_funnel_stages(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Funnel analysis: users progressing view -> click-after-view ->
    # purchase-after-click (each stage anchored at the previous stage's
    # first event). Three grouped mins chained by broadcast-size joins —
    # each stage's user set only shrinks, so at 100 TB the expensive scan
    # happens once per stage over an ever-smaller key set.
    ev = load_table(spark, "events", sf_dir)

    def first_after(event_type: str, anchor: DataFrame, anchor_ts: str, out_ts: str) -> DataFrame:
        e = ev.filter(F.col("event_type") == event_type)
        return (
            e.join(anchor, "user_id")
            .filter(F.col("ts") >= F.col(anchor_ts))
            .groupBy("user_id")
            .agg(F.min("ts").alias(out_ts))
        )

    v = ev.filter(F.col("event_type") == "view").groupBy("user_id").agg(F.min("ts").alias("t1"))
    c = first_after("click", v, "t1", "t2")
    p = first_after("purchase", c, "t2", "t3")
    counts = [
        v.agg(F.lit("1_view").alias("stage"), F.count(F.lit(1)).alias("n_users")),
        c.agg(F.lit("2_click").alias("stage"), F.count(F.lit(1)).alias("n_users")),
        p.agg(F.lit("3_purchase").alias("stage"), F.count(F.lit(1)).alias("n_users")),
    ]
    out = counts[0]
    for df in counts[1:]:
        out = out.unionByName(df)
    return out


@register(
    "x7_upsert_batch_twin",
    oracle="""
    WITH b1 AS (
      SELECT user_id, COUNT(*) AS n_events,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
      FROM events WHERE event_id % 2 = 0 GROUP BY user_id
    ), b2 AS (
      SELECT user_id, COUNT(*) AS n_events,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
      FROM events WHERE event_id % 2 = 1 GROUP BY user_id
    )
    SELECT user_id, n_events, total_value FROM b2
    UNION ALL
    SELECT user_id, n_events, total_value FROM b1
    WHERE user_id NOT IN (SELECT user_id FROM b2)
    """,
)
def x7_upsert_batch_twin(spark: SparkSession, sf_dir: str) -> DataFrame:
    # X7: foreachBatch upsert twin — two micro-batches (events split by
    # event_id parity, pre-aggregated to one row per user) merged into a
    # parquet target with last-writer-wins per key. The second batch's
    # rows must replace the first's for shared users; first-batch-only
    # users survive. Exercises the real foreach_batch_upsert sink function
    # the streaming query uses, driven batch-by-batch.
    import hashlib as _hl
    import os as _os
    import shutil as _sh
    import tempfile as _tf

    from etl_hiscox_spark.streaming.ops import foreach_batch_upsert

    tag = _hl.md5(sf_dir.encode()).hexdigest()[:8]
    root = _os.path.join(_tf.gettempdir(), "etl_hiscox_spark_writes", f"x7_upsert_{tag}")
    if _os.path.exists(root):
        _sh.rmtree(root)
    _os.makedirs(root)
    target = _os.path.join(root, "user_totals")

    ev = load_table(spark, "events", sf_dir)

    def batch(parity: int) -> DataFrame:
        return (
            ev.filter(F.col("event_id") % 2 == parity)
            .groupBy("user_id")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("total_value"),
            )
        )

    apply_batch = foreach_batch_upsert(target, key_cols=("user_id",), spark=spark)
    apply_batch(batch(0), 0)
    apply_batch(batch(1), 1)
    return spark.read.parquet(target).select("user_id", "n_events", "total_value")


@register(
    "x1_x2_stream_roundtrip",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
           MIN(event_id) AS min_event_id,
           MAX(event_id) AS max_event_id
    FROM events WHERE value >= 1.0 GROUP BY event_type
    """,
)
def x1_x2_stream_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    # X1+X2 driver-executed for real (VERDICT r3 item 7): events → scratch
    # parquet → readStream (explicit schema, X1 source) → withWatermark
    # (X2) → stateless filter/project → writeStream parquet sink,
    # availableNow → batch read-back → aggregate. The streamed stage is
    # STATELESS, so append mode emits every input row exactly once
    # regardless of watermark progression — the output is a pure function
    # of the events table and a DuckDB oracle checks the whole
    # stream-execution round-trip (the watermark is exercised but, on a
    # stateless plan, never drops — dropping semantics are pinned by the
    # stateful tests in tests/test_streaming.py).
    import os

    from etl_hiscox_spark.queries.writes import _scratch
    from etl_hiscox_spark.streaming.ops import (
        stream_from_parquet,
        with_watermark,
        write_stream_parquet,
    )

    root = _scratch("x1_stream", sf_dir)
    src = os.path.join(root, "src")
    sink = os.path.join(root, "sink")
    ckpt = os.path.join(root, "ckpt")
    # withWatermark requires TIMESTAMP (tz-aware); load_table yields NTZ
    # for the nanos-source events table — cast at the stream boundary.
    ev = load_table(spark, "events", sf_dir).select(
        "event_id",
        F.col("ts").cast("timestamp").alias("ts"),
        "user_id",
        "event_type",
        "value",
    )
    ev.write.mode("overwrite").parquet(src)
    schema = ev.schema
    stream = with_watermark(stream_from_parquet(spark, src, schema), "ts", "10 minutes")
    streamed = stream.filter(F.col("value") >= 1.0).select(
        "event_id", "event_type", "value"
    )
    q = write_stream_parquet(streamed, sink, ckpt)
    q.awaitTermination()
    back = spark.read.parquet(sink)
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
        F.min("event_id").alias("min_event_id"),
        F.max("event_id").alias("max_event_id"),
    )


@register(
    "x12_click_abandonment",
    oracle="""
    SELECT l.user_id AS user_id,
           COUNT(*) AS n_abandoned,
           MAX(l.ts) AS last_abandoned_ts
    FROM (SELECT user_id, ts FROM events WHERE event_type = 'click') l
    LEFT JOIN (SELECT user_id, ts FROM events WHERE event_type = 'purchase') r
      ON l.user_id = r.user_id
     AND r.ts >= l.ts AND r.ts <= l.ts + INTERVAL 30 MINUTE
    WHERE r.ts IS NULL
    GROUP BY l.user_id
    """,
)
def x12_click_abandonment(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Batch twin of the watermarked stream-stream LEFT-OUTER join — the
    # funnel-abandonment shape: clicks with NO purchase inside the 30-min
    # conversion window. Streaming, the null-padded rows emit only once
    # the watermark proves no match can still arrive (state eviction is
    # what makes the join feasible at all — the real-stream parity test in
    # tests/test_streaming.py pins stream==batch, advancing the final
    # watermark with a sentinel event); in batch mode watermarks are
    # no-ops and the LEFT JOIN is exact, which is what the driver checks.
    from etl_hiscox_spark.streaming.ops import stream_stream_join

    ev = load_table(spark, "events", sf_dir)
    clicks = ev.filter(F.col("event_type") == "click").select("user_id", "ts")
    purchases = ev.filter(F.col("event_type") == "purchase").select("user_id", "ts")
    joined = stream_stream_join(
        clicks,
        purchases,
        key="user_id",
        watermark="10 minutes",
        max_delay="30 minutes",
        how="leftOuter",
    )
    return (
        joined.filter(F.col("r.ts").isNull())
        .groupBy(F.col("l.user_id").alias("user_id"))
        .agg(
            F.count(F.lit(1)).alias("n_abandoned"),
            F.max(F.col("l.ts")).alias("last_abandoned_ts"),
        )
    )


@register(
    "x13_exactly_once_txn_sink",
    oracle="""
    SELECT event_type, COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM events WHERE value IS NOT NULL
    GROUP BY event_type
    """,
)
def x13_exactly_once_txn_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Exactly-once streaming sink, driver-executed for real: events →
    # readStream → foreachBatch txn-append (each micro-batch = one
    # manifest commit tagged (app_id, batch_id)) — then the WHOLE stream
    # runs a SECOND time against a fresh checkpoint with the same app_id.
    # The replayed batch ids are already committed, so run 2 must be a
    # complete no-op: if the idempotency protocol leaked, every count
    # below doubles and the driver's hash compare goes red. The final
    # table is a pure function of events, hence the SQL twin.
    import os

    from etl_hiscox_spark.queries.writes import _scratch
    from etl_hiscox_spark.sources.txnlog import TxnTable
    from etl_hiscox_spark.streaming.ops import foreach_batch_txn_append, stream_from_parquet

    root = _scratch("x13_txn", sf_dir)
    src, tbl = os.path.join(root, "src"), os.path.join(root, "table")
    ev = load_table(spark, "events", sf_dir).select(
        "event_id",
        F.col("ts").cast("timestamp").alias("ts"),
        "event_type",
        "value",
    )
    ev.write.mode("overwrite").parquet(src)

    def run(ckpt_name: str) -> None:
        stream = (
            stream_from_parquet(spark, src, ev.schema)
            .filter(F.col("value").isNotNull())
            .select("event_id", "event_type", "value")
        )
        q = (
            stream.writeStream.foreachBatch(foreach_batch_txn_append(tbl, spark, "x13"))
            .option("checkpointLocation", os.path.join(root, ckpt_name))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run("ckpt1")
    run("ckpt2")  # full replay, fresh checkpoint, same app_id -> no-op
    table = TxnTable(spark, tbl).read()
    return table.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
    )


@register(
    "x14_txn_optimize_compaction",
    oracle="""
    SELECT event_type, COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM events WHERE value IS NOT NULL
    GROUP BY event_type
    """,
)
def x14_txn_optimize_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Manifest-aware compaction of the streaming txn sink (VERDICT r10
    # item 3), driver-executed for real: events → readStream with
    # maxFilesPerTrigger=2 (forcing MULTIPLE micro-batches) →
    # foreachBatch txn-append (one manifest commit per batch) → TxnTable.
    # compact(), Delta's OPTIMIZE split: the head's row set is rewritten
    # into target-sized files and committed as a NEW version; no prior
    # manifest or data file is touched. Loud invariants before the oracle
    # sees the result: (1) the content checksum of EVERY pre-compaction
    # version is identical before and after compact — time travel reads
    # byte-identical history or this query goes driver-red; (2) the head
    # file count strictly drops — a no-op "compaction" is a lie; (3) the
    # WHOLE stream replays against a fresh checkpoint with the same
    # app_id AFTER compaction and must be a complete no-op — the
    # exactly-once txn lookup scans past the OPTIMIZE commit, so
    # maintenance must not break idempotent recovery (the composed claim
    # x13 cannot see). The final table is a pure function of events,
    # hence the SQL twin.
    import os

    from etl_hiscox_spark.queries.writes import _scratch
    from etl_hiscox_spark.sources.txnlog import TxnTable
    from etl_hiscox_spark.streaming.ops import foreach_batch_txn_append, stream_from_parquet

    root = _scratch("x14_txn", sf_dir)
    src, tbl = os.path.join(root, "src"), os.path.join(root, "table")
    ev = load_table(spark, "events", sf_dir).select(
        "event_id",
        F.col("ts").cast("timestamp").alias("ts"),
        "event_type",
        "value",
    )
    ev.repartition(6).write.mode("overwrite").parquet(src)

    def run(ckpt_name: str) -> None:
        stream = (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", 2)
            .parquet(src)
            .filter(F.col("value").isNotNull())
            .select("event_id", "event_type", "value")
        )
        q = (
            stream.writeStream.foreachBatch(foreach_batch_txn_append(tbl, spark, "x14"))
            .option("checkpointLocation", os.path.join(root, ckpt_name))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    def checksum(df: DataFrame) -> tuple:
        row = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.xxhash64(*[F.col(c) for c in sorted(df.columns)]).cast("decimal(38,0)")
            ).alias("h"),
        ).first()
        return (row["n"], row["h"])

    from etl_hiscox_spark.concurrency import run_overlapped

    run("ckpt1")
    t = TxnTable(spark, tbl)
    versions = t._versions()
    if len(versions) < 2:
        raise ValueError(
            f"maxFilesPerTrigger did not split the stream: {len(versions)} commit(s)"
        )
    # per-version checksums are independent reads — overlap them
    # (guide §2.6); dict shape and values unchanged
    sums_before = dict(
        zip(
            versions,
            run_overlapped([lambda v=v: checksum(t.read(v)) for v in versions]),
        )
    )
    head_files_before = len(t._read_manifest(versions[-1])["files"])

    new_v = t.compact(target_file_mb=256)
    if new_v is None:
        raise ValueError("compact() no-opped on a fragmented head")
    head_files_after = len(t._read_manifest(new_v)["files"])
    if head_files_after >= head_files_before:
        raise ValueError(
            f"OPTIMIZE did not defragment: {head_files_before} -> {head_files_after} files"
        )
    after = run_overlapped(
        [lambda v=v: checksum(t.read(v)) for v in sums_before] +
        [lambda: checksum(t.read(new_v))]
    )
    for (v, sig), now in zip(sums_before.items(), after):
        if now != sig:
            raise ValueError(f"compaction changed version {v}: {sig} -> {now}")
    if after[-1] != sums_before[versions[-1]]:
        raise ValueError("OPTIMIZE head differs from the pre-compaction head")

    run("ckpt2")  # full replay, fresh checkpoint, same app_id -> no-op
    if t.latest_version() != new_v:
        raise ValueError(
            "post-compaction replay was not a no-op: exactly-once protocol "
            "broken by OPTIMIZE commit"
        )
    table = t.read()
    return table.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
    )


@register(
    "x16_txn_checkpoint_head",
    oracle="""
    SELECT event_type, COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM events GROUP BY event_type
    """,
)
def x16_txn_checkpoint_head(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Checkpointed head resolution at streaming-append cadence (r13,
    # VERDICT r12 item 5 — Delta's _last_checkpoint analog): 8 appends
    # land as versions v0..v7 with checkpoint_interval=3, so the head
    # hint is recorded at v3 and v6 and every head read PROBES forward
    # from the checkpoint instead of LISTing the whole manifest dir —
    # O(commits-since-checkpoint), the property that keeps a months-old
    # streaming sink's per-batch read cost flat. Loud invariants before
    # the oracle sees the result: (1) the checkpoint records v6 and head
    # resolution runs in checkpoint mode with exactly 2 forward probes
    # (v7 hit, v8 miss); (2) expire_versions(keep_last=2) ADVANCES the
    # checkpoint to v7 before deleting v0..v5, and the next head read
    # needs exactly 1 probe; (3) time travel to an expired version is a
    # loud FileNotFoundError; (4) the head still reads every slice (the
    # append manifests are cumulative). The final table is the 8 slices'
    # union == events, hence the SQL twin.
    import os

    from etl_hiscox_spark.queries.writes import _scratch
    from etl_hiscox_spark.sources.txnlog import TxnTable

    root = _scratch("x16_txn_ckpt", sf_dir)
    ev = load_table(spark, "events", sf_dir).select("event_id", "event_type", "value")
    t = TxnTable(spark, os.path.join(root, "table"), checkpoint_interval=3)
    for i in range(8):
        t.write(ev.filter(F.col("event_id") % 8 == i))
    if t.log.read_hint() != 6:
        raise ValueError(f"checkpoint records {t.log.read_hint()}, expected 6")
    head = t.latest_version()
    if head != 7 or t.last_head_resolution != {"mode": "checkpoint", "entries": 2}:
        raise ValueError(
            f"head {head} resolved {t.last_head_resolution}, expected "
            "checkpoint mode with 2 probes"
        )
    if t.expire_versions(keep_last=2) != 6:
        raise ValueError("expected v0..v5 to expire")
    if t.log.read_hint() != 7:
        raise ValueError(
            f"expiry left the checkpoint at {t.log.read_hint()} — the "
            "forward probe would hit the deleted range"
        )
    if t.latest_version() != 7 or t.last_head_resolution != {
        "mode": "checkpoint",
        "entries": 1,
    }:
        raise ValueError(f"post-expiry resolution: {t.last_head_resolution}")
    try:
        t.read(2)
    except FileNotFoundError:
        pass
    else:
        raise ValueError("time travel to an expired version must fail loudly")
    return t.read().groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
    )


@register(
    "x17_txn_object_store_roundtrip",
    oracle="""
    SELECT event_type, COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM events WHERE event_id % 97 <> 3
    GROUP BY event_type
    """,
)
def x17_txn_object_store_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The txn protocols on a URI root (r13, VERDICT r12 item 2): the
    # table lives at file://<root>, and every manifest list / read /
    # size / delete runs through the same pyarrow.fs code an
    # s3://hdfs:// deployment runs (tests/test_txnlog_fs.py traps any
    # os.* manifest IO on such a root) — append, exactly-once write_txn
    # replay, OPTIMIZE compaction, GDPR erase-across-versions, and time
    # travel, end to end. Loud invariants before the oracle sees the
    # result: (1) the duplicate (app_id, txn_version) replay is a no-op;
    # (2) OPTIMIZE strictly defragments the head file count; (3) the
    # erased keys are gone from EVERY version, including pre-OPTIMIZE
    # history. The final table is events minus the erased keys, hence
    # the SQL twin.
    from etl_hiscox_spark.queries.writes import _scratch
    from etl_hiscox_spark.sources.txnlog import TxnTable

    root = "file://" + _scratch("x17_txn_fs", sf_dir) + "/table"
    ev = load_table(spark, "events", sf_dir).select("event_id", "event_type", "value")
    t = TxnTable(spark, root, checkpoint_interval=5)
    t.write(ev.filter(F.col("event_id") % 2 == 0).repartition(4))
    if not t.write_txn(ev.filter(F.col("event_id") % 2 == 1), "x17", 1):
        raise ValueError("first (app, txn) write must land")
    if t.write_txn(ev.filter(F.col("event_id") % 2 == 1), "x17", 1):
        raise ValueError("duplicate (app, txn) replay landed twice")
    pre_head = t.latest_version()
    files_before = len(t._read_manifest(pre_head)["files"])
    new_v = t.compact(target_file_mb=256)
    if new_v is None or len(t._read_manifest(new_v)["files"]) >= files_before:
        raise ValueError("OPTIMIZE did not defragment the URI-rooted head")
    erase = ev.filter(F.col("event_id") % 97 == 3).select("event_id")
    if t.erase_keys("event_id", erase) < 1:
        raise ValueError("erase rewrote no files")
    gone = erase.withColumnRenamed("event_id", "k")
    from etl_hiscox_spark.concurrency import run_overlapped

    # per-version residual scans are independent reads — overlap them
    # (guide §2.6); the per-version assertion is unchanged
    residuals = run_overlapped(
        [
            (
                lambda v=v: t.read(v)
                .join(F.broadcast(gone), F.col("event_id") == F.col("k"), "left_semi")
                .count()
            )
            for v in range(t.latest_version() + 1)
        ]
    )
    for v, residual in enumerate(residuals):
        if residual:
            raise ValueError(f"version {v} still holds {residual} erased rows")
    return t.read().groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
    )


@register(
    "x18_txn_time_travel",
    oracle="""
    SELECT c_mktsegment,
           COUNT(*) AS n_customers,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_acctbal
    FROM customer
    WHERE c_custkey % 3 < 2
    GROUP BY c_mktsegment
    """,
)
def x18_txn_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    # timestampAsOf time travel (r13 — TxnTable.version_as_of/read_as_of,
    # Delta's wall-clock snapshot resolution; the audit question "what
    # did the table say at 3pm?"): three appends commit thirds of the
    # customer table, then the snapshot is read AT an instant strictly
    # between the second and third commits and must contain EXACTLY the
    # first two slices — a resolver that rounds the wrong way (or reads
    # the head) picks up the third slice and hash-fails. Loud invariants
    # before the oracle sees the result: commit timestamps are strictly
    # increasing (ties would make any timestamp resolution ambiguous —
    # refuse rather than flake); an instant BEFORE all history raises
    # (after retention the honest answer is "expired", never silently
    # the oldest surviving version — Delta errors the same way); an
    # instant after the last commit resolves the head.
    import os as _os

    from etl_hiscox_spark.queries.writes import _scratch
    from etl_hiscox_spark.sources.txnlog import TxnTable

    import time as _time

    cust = load_table(spark, "customer", sf_dir).select(
        "c_custkey", "c_mktsegment", F.col("c_acctbal").cast("double").alias("c_acctbal")
    )
    root = _os.path.join(_scratch("x18_tt", sf_dir), "table")
    t = TxnTable(spark, root)
    for m in (0, 1, 2):
        t.write(cust.filter(F.col("c_custkey") % 3 == m), mode="append")
        # GUARANTEE strictly-increasing commit timestamps instead of
        # refusing after the fact (ADVICE r13: time.time() can quantize
        # on some VMs, and a tie would deterministically fail the probe
        # rather than test time travel): spin until the clock strictly
        # passes the commit just landed before starting the next one
        last = t.history()[-1]["committed_at"]
        while _time.time() <= last:
            _time.sleep(0.001)
    ts = [m["committed_at"] for m in t.history()]
    if not (ts[0] < ts[1] < ts[2]):
        raise ValueError(f"commit timestamps not strictly increasing: {ts}")
    try:
        t.version_as_of(ts[0] - 1.0)
        raise ValueError("version_as_of BEFORE all history must raise, not resolve")
    except FileNotFoundError:
        pass
    if t.version_as_of(ts[2] + 1.0) != t.latest_version():
        raise ValueError("an instant after the last commit must resolve the head")
    snap = t.read_as_of((ts[1] + ts[2]) / 2.0)
    return snap.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.sum(F.col("c_acctbal").cast("decimal(18,2)")).cast("double").alias("sum_acctbal"),
    )
