"""Train/test decontamination operator — planted-overlap behavior checks."""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_hiscox_spark.operators.decontamination import (
    contamination_report,
    decontaminate,
)

TEST_DOC = "alpha beta gamma delta epsilon zeta eta theta"


def _corpora(spark):
    train = spark.createDataFrame(
        [
            # contains the test doc's "beta gamma delta epsilon zeta" 5-gram
            (1, "prefix words beta gamma delta epsilon zeta suffix words here"),
            # shares only single words, never a 5-gram
            (2, "beta unrelated gamma padding delta noise epsilon filler zeta"),
            # completely disjoint vocabulary
            (3, "one two three four five six seven eight nine ten"),
            # a short doc (<5 tokens) that exactly equals a short test doc
            (4, "tiny snippet"),
        ],
        "doc_id long, text string",
    )
    test = spark.createDataFrame(
        [(100, TEST_DOC), (101, "tiny snippet")],
        "doc_id long, text string",
    )
    return train, test


def test_contamination_report_flags_planted_overlap(spark):
    train, test = _corpora(spark)
    rep = {
        r["doc_id"]: r["n_shared_grams"]
        for r in contamination_report(train, test, "text", "doc_id", ngram=5).collect()
    }
    assert 1 in rep and rep[1] >= 1  # 5-gram overlap caught
    assert 2 not in rep  # word-level overlap is not contamination
    assert 3 not in rep
    assert rep.get(4) == 1  # short docs compare whole-text shingles


def test_decontaminate_drops_only_contaminated(spark):
    train, test = _corpora(spark)
    kept = {r["doc_id"] for r in decontaminate(train, test, "text", "doc_id", ngram=5).collect()}
    assert kept == {2, 3}


def test_hashed_and_string_paths_agree(spark):
    # The declared oracle query uses string grams (SQL-expressible); the
    # scale path joins on xxhash64(gram). Same answers, pinned here.
    train, test = _corpora(spark)
    for broadcast_test in (True, False):
        a = contamination_report(
            train, test, "text", "doc_id", ngram=5, hashed=True, broadcast_test=broadcast_test
        )
        b = contamination_report(
            train, test, "text", "doc_id", ngram=5, hashed=False, broadcast_test=broadcast_test
        )
        assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_broadcast_plan_has_no_shuffle_on_train_side(spark):
    # The contamination probe must be a broadcast hash join: the train gram
    # table (the 100 TB side) should not appear below a shuffle exchange.
    train, test = _corpora(spark)
    rep = contamination_report(train, test, "text", "doc_id", ngram=5, hashed=True)
    plan = rep._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan


def test_semantic_contamination_flags_planted_neighbor(spark):
    # A train vector nearly parallel to an eval vector must be flagged with
    # that eval id as nearest; orthogonal vectors must not be. Malformed
    # embeddings (NULL) quarantine silently.
    import numpy as np

    from etl_hiscox_spark.operators.decontamination import semantic_contamination_report

    rng = np.random.default_rng(5)
    e0 = rng.standard_normal(16)
    e1 = rng.standard_normal(16)
    near = e0 + 0.01 * rng.standard_normal(16)  # planted leak of eval 100
    far = np.zeros(16); far[0] = 1.0
    ortho = np.zeros(16); ortho[1] = 1.0  # orthogonal to `far`, low sim to e0/e1
    rows = [
        (1, [float(x) for x in near]),
        (2, [float(x) for x in ortho]),
        (3, None),
    ]
    train = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    test = spark.createDataFrame(
        [(100, [float(x) for x in e0]), (101, [float(x) for x in e1])],
        "vec_id long, embedding array<float>",
    )
    rep = {r["vec_id"]: r for r in
           semantic_contamination_report(train, test, "embedding", "vec_id", 0.9).collect()}
    assert set(rep) == {1}
    assert rep[1]["nearest_eval_id"] == 100 and rep[1]["max_sim"] > 0.99

    # empty eval set: nothing flagged, schema intact
    empty = spark.createDataFrame([], "vec_id long, embedding array<float>")
    rep0 = semantic_contamination_report(train, empty, "embedding", "vec_id", 0.5)
    assert rep0.count() == 0
    assert rep0.columns == ["vec_id", "nearest_eval_id", "max_sim"]


def test_semantic_report_quarantines_malformed_eval_embeddings(spark):
    # NULL / ragged / non-finite EVAL embeddings must be excluded from the
    # matrix, not crash np.vstack before the job starts.
    from etl_hiscox_spark.operators.decontamination import semantic_contamination_report

    tr = spark.createDataFrame([(1, [1.0, 0.0]), (2, [0.0, 1.0])], "vec_id long, embedding array<double>")
    ev = spark.createDataFrame(
        [(10, [1.0, 0.0]), (11, None), (12, [1.0]), (13, [float("nan"), 0.0])],
        "vec_id long, embedding array<double>",
    )
    out = semantic_contamination_report(tr, ev, "embedding", "vec_id", threshold=0.9).collect()
    assert [(r["vec_id"], r["nearest_eval_id"]) for r in out] == [(1, 10)]


def test_semantic_report_all_eval_malformed_yields_empty(spark):
    from etl_hiscox_spark.operators.decontamination import semantic_contamination_report

    tr = spark.createDataFrame([(1, [1.0, 0.0])], "vec_id long, embedding array<double>")
    ev = spark.createDataFrame([(10, None)], "vec_id long, embedding array<double>")
    assert semantic_contamination_report(tr, ev, "embedding", "vec_id").count() == 0


def test_semantic_eval_set_size_guard(spark):
    """The eval-side collect is bounded by design; passing an oversized
    frame as `test` must refuse loudly (count-first) instead of OOMing the
    driver. The count is a cheap aggregate, so the guard itself is lazy-
    safe even on a billion-row frame."""
    import pytest

    from etl_hiscox_spark.operators.decontamination import semantic_contamination_report

    train = spark.range(3).selectExpr("id AS vec_id", "array(1.0d, 0.0d) AS embedding")
    oversized = spark.range(1_000_001).selectExpr(
        "id AS vec_id", "array(1.0d, 0.0d) AS embedding"
    )
    with pytest.raises(ValueError, match="bounded eval suite"):
        semantic_contamination_report(train, oversized, "embedding", "vec_id")
