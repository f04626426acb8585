"""End-to-end right-to-be-forgotten composition (plans/gdpr.erase_subject):
one subject planted across all four store kinds must leave zero residuals
in each — including every time-travel version and both index layouts."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F


def _stores(spark, tmp_path):
    """Plant subject doc_id=7 in a base table, a txn table (two versions),
    an IVF index, and a minhash index."""
    from etl_hiscox_spark.operators.dedup import write_minhash_index
    from etl_hiscox_spark.operators.similarity import write_ivf_index
    from etl_hiscox_spark.sources.txnlog import TxnTable

    rng = np.random.default_rng(41)
    rows = [
        (i, f"document body number {i} with shared filler text tokens", 
         [float(x) for x in rng.standard_normal(4)])
        for i in range(20)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, embedding array<float>")

    base = str(tmp_path / "base")
    df.select("doc_id", "text").write.mode("overwrite").parquet(base)

    txn = str(tmp_path / "txn")
    t = TxnTable(spark, txn)
    t.write(df.select("doc_id", "text").filter("doc_id < 10"), mode="append")
    t.write(df.select("doc_id", "text").filter("doc_id >= 10"), mode="append")

    ivf = str(tmp_path / "ivf")
    write_ivf_index(df, ivf, "embedding", "doc_id", n_clusters=3, max_iter=2)

    mh = str(tmp_path / "mh")
    write_minhash_index(df, "text", "doc_id", mh)
    return base, txn, ivf, mh


def test_erase_subject_reaches_all_four_stores(spark, tmp_path):
    from etl_hiscox_spark.plans.gdpr import erase_subject
    from etl_hiscox_spark.sources.txnlog import TxnTable

    base, txn, ivf, mh = _stores(spark, tmp_path)
    keys = spark.createDataFrame([(7,)], "doc_id long")
    report = erase_subject(
        spark,
        keys,
        base_tables=[(base, "doc_id")],
        txn_tables=[(txn, "doc_id")],
        ivf_indexes=[(ivf, "doc_id")],
        minhash_indexes=[(mh, "doc_id")],
    )
    by_kind = {r["kind"]: r for r in report}
    assert set(by_kind) == {"base", "txn_history", "ivf_index", "minhash_index"}
    assert by_kind["base"]["n_erased"] == 1
    assert by_kind["txn_history"]["n_files_rewritten"] >= 1
    assert "n_erased" not in by_kind["txn_history"]  # files, not rows — honest field
    assert by_kind["ivf_index"]["n_erased"] == 1
    assert by_kind["minhash_index"]["n_erased"] == 6  # num_bands rows

    # belt-and-braces residual sweep outside the operator's own verify
    assert spark.read.parquet(base).filter("doc_id = 7").count() == 0
    t = TxnTable(spark, txn)
    for v in t._versions():
        assert t.read(v).filter("doc_id = 7").count() == 0
    from etl_hiscox_spark.operators.dedup import _LSH
    from etl_hiscox_spark.operators.segindex import live_rows
    from etl_hiscox_spark.operators.similarity import _IVF

    assert live_rows(spark, ivf, _IVF).filter("doc_id = 7").count() == 0
    assert live_rows(spark, mh, _LSH).filter("doc = 7").count() == 0
    # other subjects untouched
    assert spark.read.parquet(base).count() == 19
    assert t.read().count() == 19

    # idempotent: a re-run (the crash-recovery story) erases nothing more
    report2 = erase_subject(
        spark,
        keys,
        base_tables=[(base, "doc_id")],
        txn_tables=[(txn, "doc_id")],
        ivf_indexes=[(ivf, "doc_id")],
        minhash_indexes=[(mh, "doc_id")],
    )
    assert all(
        r.get("n_erased", r.get("n_files_rewritten")) == 0 for r in report2
    )

    # an empty erasure request is a zero-IO no-op with a full report
    t0 = __import__("time").monotonic()
    report3 = erase_subject(
        spark,
        spark.createDataFrame([], "doc_id long"),
        base_tables=[(base, "doc_id")],
        txn_tables=[(txn, "doc_id")],
        ivf_indexes=[(ivf, "doc_id")],
        minhash_indexes=[(mh, "doc_id")],
    )
    assert {r["kind"] for r in report3} == {
        "base", "txn_history", "ivf_index", "minhash_index"
    }
    assert all(
        r.get("n_erased", r.get("n_files_rewritten")) == 0 for r in report3
    )
    assert __import__("time").monotonic() - t0 < 2.0, "empty request ran Spark jobs"


def test_erase_subject_rejects_bad_requests(spark, tmp_path):
    import pytest

    from etl_hiscox_spark.plans.gdpr import erase_subject

    with pytest.raises(ValueError, match="1-column"):
        erase_subject(spark, spark.createDataFrame([(1, 2)], "a long, b long"))
    with pytest.raises(ValueError, match="NULL subject key"):
        erase_subject(
            spark,
            spark.createDataFrame([(None,)], "doc_id long"),
        )


def test_erase_subject_bulk_keys_never_materialize_on_driver(spark, tmp_path, monkeypatch):
    """VERDICT r11 item 5: a bulk purge (100k keys) must flow as a FRAME
    — broadcast semi/anti joins end-to-end, no driver collect of the key
    set and no IN-literal plan. Pinned by capping every DataFrame.collect
    during the composition at a bounded driver-scalar size."""
    from pyspark.sql import DataFrame

    from etl_hiscox_spark.plans.gdpr import erase_subject
    from etl_hiscox_spark.sources.txnlog import TxnTable

    rows = [(i, f"body {i}") for i in range(500)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    base = str(tmp_path / "base")
    df.write.mode("overwrite").parquet(base)
    txn = str(tmp_path / "txn")
    t = TxnTable(spark, txn)
    t.write(df.filter("doc_id < 250"))
    t.write(df.filter("doc_id >= 250"))

    # 100k-key request; 300 of them actually exist in the stores
    keys = spark.range(200, 100200).select(F.col("id").alias("doc_id"))

    real_collect = DataFrame.collect

    def capped_collect(self):
        out = real_collect(self)
        assert len(out) <= 1000, (
            f"driver materialized {len(out)} rows during erase_subject — "
            "the key set leaked out of the frame path"
        )
        return out

    monkeypatch.setattr(DataFrame, "collect", capped_collect)
    report = erase_subject(
        spark,
        keys,
        base_tables=[(base, "doc_id")],
        txn_tables=[(txn, "doc_id")],
    )
    monkeypatch.undo()
    by_kind = {r["kind"]: r for r in report}
    assert by_kind["base"]["n_erased"] == 300
    assert by_kind["txn_history"]["n_files_rewritten"] >= 1
    assert spark.read.parquet(base).count() == 200
    assert t.read().filter("doc_id >= 200").count() == 0


def test_erase_subject_rejects_null_key_without_collecting(spark, tmp_path):
    import pytest

    from etl_hiscox_spark.plans.gdpr import erase_subject

    keys = spark.createDataFrame([(1,), (None,)], "doc_id long")
    with pytest.raises(ValueError, match="NULL subject key"):
        erase_subject(spark, keys, base_tables=[])
