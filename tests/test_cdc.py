"""Snapshot-diff (CDC) operator — op labeling, null-safety, plan shape."""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_hiscox_spark.operators.cdc import snapshot_diff


def _snap(spark, rows):
    return spark.createDataFrame(rows, "id long, status string, amount double")


def test_snapshot_diff_labels_ops(spark):
    old = _snap(spark, [(1, "A", 10.0), (2, "B", 20.0), (3, "C", 30.0), (4, "D", None)])
    new = _snap(
        spark,
        [
            (1, "A", 10.0),      # unchanged -> dropped
            (2, "B", 25.0),      # amount update
            (4, "D", None),      # NULL == NULL -> unchanged
            (5, "E", 50.0),      # insert
        ],
    )
    out = {r["id"]: (r["op"], r["changed_cols"]) for r in snapshot_diff(old, new, ["id"]).collect()}
    assert out == {2: ("U", "amount"), 3: ("D", ""), 5: ("I", "")}


def test_snapshot_diff_null_transitions_are_updates(spark):
    old = _snap(spark, [(1, "A", None), (2, "B", 20.0)])
    new = _snap(spark, [(1, "A", 1.0), (2, None, 20.0)])
    out = {r["id"]: (r["op"], r["changed_cols"]) for r in snapshot_diff(old, new, ["id"]).collect()}
    assert out[1] == ("U", "amount")   # NULL -> value is a change
    assert out[2] == ("U", "status")   # value -> NULL is a change


def test_snapshot_diff_null_key_matches_itself(spark):
    # A key NULL in both snapshots must join null-safely: one matched row
    # compared normally — not a phantom insert+delete pair.
    old = _snap(spark, [(None, "A", 10.0), (1, "B", 20.0)])
    new = _snap(spark, [(None, "A", 99.0), (1, "B", 20.0)])
    rows = snapshot_diff(old, new, ["id"]).collect()
    assert len(rows) == 1
    assert rows[0]["id"] is None and rows[0]["op"] == "U" and rows[0]["changed_cols"] == "amount"
    # and unchanged under a NULL key -> dropped entirely
    assert snapshot_diff(old, old, ["id"]).count() == 0


def test_snapshot_diff_multi_change_and_subset_cols(spark):
    old = _snap(spark, [(1, "A", 10.0)])
    new = _snap(spark, [(1, "Z", 99.0)])
    full = snapshot_diff(old, new, ["id"]).collect()[0]
    assert full["op"] == "U" and full["changed_cols"] == "amount,status"
    only_status = snapshot_diff(old, new, ["id"], compare_cols=["status"]).collect()[0]
    assert only_status["changed_cols"] == "status"


def test_snapshot_diff_is_single_cocluster_join(spark):
    # One full-outer join on the key — both sides exchange on the same
    # key once; no nested loop, no extra shuffles.
    old = _snap(spark, [(1, "A", 10.0)])
    new = _snap(spark, [(1, "A", 11.0)])
    plan = snapshot_diff(old, new, ["id"])._jdf.queryExecution().executedPlan().toString()
    assert "FullOuter" in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
