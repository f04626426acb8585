"""Custom stateful streaming operators via ``applyInPandasWithState``
(SURVEY.md §2.10 extension — the escape hatch when built-in windows/dedup
can't express the state machine).

One operator, :func:`threshold_alert_stream`: it emits a row only when a
key's cumulative value first crosses a threshold (cross-batch edge
detection — genuinely inexpressible with windowed aggs, which re-emit per
window).

State is a single tuple per key (Arrow-serialized), so state-store size is
O(distinct keys), partitioned by ``spark.sql.shuffle.partitions``. Batch
input runs a window twin with identical per-key math — the batch twin is
the correctness oracle, same policy as the windowed ops.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

ALERT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("cumulative_value", T.DoubleType()),
        T.StructField("crossed_at_n", T.LongType()),
    ]
)

_ALERT_STATE_SCHEMA = T.StructType(
    [
        T.StructField("total_cents", T.LongType()),
        T.StructField("n", T.LongType()),
        T.StructField("fired", T.BooleanType()),
    ]
)


def make_threshold_updater(threshold: float):
    from decimal import ROUND_HALF_UP, Decimal

    def _update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        total_cents, n, fired = state.get if state.exists else (0, 0, False)
        out = []
        # Concatenate ALL Arrow chunks of this group's micro-batch before
        # sorting — per-chunk sorting would make the crossing point depend
        # on chunk boundaries (maxRecordsPerBatch) for large groups.
        batch = pd.concat(list(pdfs), ignore_index=True) if pdfs else pd.DataFrame()
        if len(batch):
            if "ts" in batch.columns and "event_id" in batch.columns:
                batch = batch.sort_values(["ts", "event_id"])
            for v in batch["value"].dropna():
                # Money semantics, matching the batch twin's DECIMAL(18,2)
                # cast: accumulate exact integer cents (HALF_UP like SQL).
                cents = int(
                    Decimal(str(float(v))).quantize(Decimal("0.01"), ROUND_HALF_UP) * 100
                )
                total_cents += cents
                n += 1
                if not fired and total_cents >= int(round(threshold * 100)):
                    fired = True
                    out.append(
                        {
                            "user_id": user_id,
                            "cumulative_value": total_cents / 100.0,
                            "crossed_at_n": n,
                        }
                    )
        state.update((total_cents, n, fired))
        yield pd.DataFrame(out, columns=[f.name for f in ALERT_SCHEMA.fields])

    return _update


def threshold_alert_stream(events: DataFrame, threshold: float) -> DataFrame:
    """Emit exactly ONE alert per key, when its cumulative value first
    crosses ``threshold`` — cross-batch edge detection. The 'fired' bit in
    state is what windowed aggregations cannot express (they would re-emit
    every trigger)."""
    if events.isStreaming:
        return events.groupBy("user_id").applyInPandasWithState(
            make_threshold_updater(threshold),
            outputStructType=ALERT_SCHEMA,
            stateStructType=_ALERT_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )

    # Batch twin: order events per user (ts, event_id), find the first
    # prefix-sum crossing.
    from pyspark.sql import Window

    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # Null values are ignored entirely (not counted, not summed) — same
    # contract as the streaming updater's dropna.
    events = events.filter(F.col("value").isNotNull())
    # Decimal-exact prefix sums: engines disagree on float window-sum
    # association (DuckDB uses segment trees), exact decimals don't. The
    # DECIMAL(18,2) cast is the money contract both twins share (the
    # streaming path accumulates exact integer cents).
    cum = events.select(
        "user_id",
        "ts",
        "event_id",
        F.sum(F.col("value").cast("decimal(18,2)")).over(w).cast("double").alias(
            "cumulative_value"
        ),
        F.count(F.lit(1)).over(w).alias("crossed_at_n"),
    )
    first_cross = (
        cum.filter(F.col("cumulative_value") >= threshold)
        .groupBy("user_id")
        .agg(F.min_by(F.struct("cumulative_value", "crossed_at_n"), "crossed_at_n").alias("s"))
    )
    return first_cross.select(
        "user_id",
        F.col("s.cumulative_value").alias("cumulative_value"),
        F.col("s.crossed_at_n").alias("crossed_at_n"),
    )
