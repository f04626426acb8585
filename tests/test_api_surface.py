"""Coverage for the smaller public APIs not exercised by the query
inventory: aggregate helpers, text features, multimodal audio/frames,
streaming parquet sink, registry conveniences, dup-group report."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from etl_hiscox_spark.functions.text import quality_features, quality_score, word_count
from etl_hiscox_spark.operators.aggregates import (
    conditional_count,
    grouped_summary,
    money_avg,
    money_sum,
    rollup_summary,
)
from etl_hiscox_spark.registry import load_all, register_temp_views


def test_grouped_and_rollup_summary_helpers(spark):
    df = spark.createDataFrame(
        [("A", "X", 10.0), ("A", "Y", 20.0), ("B", "X", 5.0)], "k1 string, k2 string, v double"
    )
    g = grouped_summary(
        df,
        keys=["k1"],
        metrics={
            "n": F.count(F.lit(1)),
            "total": money_sum("v", "ignored"),
            "avg_v": money_avg("v", "ignored"),
            "n_big": conditional_count(F.col("v") >= 10, "ignored"),
        },
    )
    got = {r["k1"]: (r["n"], r["total"], r["avg_v"], r["n_big"]) for r in g.collect()}
    assert got == {"A": (2, 30.0, 15.0, 2), "B": (1, 5.0, 5.0, 0)}
    r = rollup_summary(df, keys=["k1", "k2"], metrics={"n": F.count(F.lit(1))})
    # rollup: 3 leaf + 2 subtotal + 1 grand total
    assert r.count() == 6


def test_quality_features_and_scores(spark):
    df = spark.createDataFrame(
        [("the cat sat on the mat with a hat and a bat near the flat door now",)], ["text"]
    )
    row = df.select(*quality_features("text"), quality_score("text").alias("q")).first()
    assert row["n_words"] == 17
    assert row["n_chars"] > 0
    assert 0 <= row["punct_ratio"] <= 1
    assert row["stopword_ratio"] > 0  # 'the', 'with', 'and' hit
    assert row["q"] == 1.0  # in-band length, no punctuation, non-empty


def test_word_count(spark):
    df = spark.createDataFrame([("  hello   world  ",), ("one",)], ["t"])
    got = [r["n"] for r in df.select(word_count("t").alias("n")).collect()]
    assert got == [2, 1]


def test_audio_and_frame_stubs(spark):
    from etl_hiscox_spark.operators.multimodal import audio_features_stub, frame_sample_plan

    df = spark.createDataFrame(
        [("a.wav", "audio", bytearray(b"\x00\x10\x20\x30"), 4000)],
        "path string, modality string, content binary, length long",
    )
    out = audio_features_stub(df).first()
    assert out["rms_energy"] > 0
    frames = frame_sample_plan(df, every_n=30).collect()
    assert len(frames) >= 2
    assert frames[0]["frame_index"] == 0 and frames[1]["frame_index"] == 30


def test_write_stream_parquet_sink(spark, sf_dir, tmp_path):
    from etl_hiscox_spark.registry import load_table
    from etl_hiscox_spark.streaming.ops import stream_from_parquet, write_stream_parquet

    src = str(tmp_path / "src")
    load_table(spark, "events", sf_dir).write.parquet(src)
    q = write_stream_parquet(
        stream_from_parquet(spark, src),
        path=str(tmp_path / "out"),
        checkpoint=str(tmp_path / "ckpt"),
    )
    q.awaitTermination()
    assert spark.read.parquet(str(tmp_path / "out")).count() == 1000


def test_hash_split_deterministic_and_weighted(spark):
    from etl_hiscox_spark.operators.sampling import hash_split

    df = spark.range(5000).withColumnRenamed("id", "doc_id")
    w = {"train": 0.8, "val": 0.1, "test": 0.1}
    a = hash_split(df, "doc_id", w).groupBy("split").count().collect()
    b = hash_split(df.repartition(13), "doc_id", w).groupBy("split").count().collect()
    # deterministic under re-partitioning
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    counts = {r["split"]: r["count"] for r in a}
    assert abs(counts["train"] / 5000 - 0.8) < 0.03
    assert abs(counts["val"] / 5000 - 0.1) < 0.03
    with pytest.raises(ValueError, match="sum to 1.0"):
        hash_split(df, "doc_id", {"train": 0.5})


def test_stratified_sample_and_reservoir(spark):
    from etl_hiscox_spark.operators.sampling import reservoir_per_key, stratified_sample

    df = spark.range(4000).withColumn("lang", F.when(F.col("id") % 4 == 0, "en").otherwise("de"))
    sampled = stratified_sample(df, "lang", {"en": 1.0, "de": 0.1}, seed=7)
    counts = {r["lang"]: r["count"] for r in sampled.groupBy("lang").count().collect()}
    assert counts["en"] == 1000  # fraction 1.0 keeps every row
    assert 150 < counts["de"] < 450  # ~10% of 3000
    res = reservoir_per_key(df, keys=["lang"], k=5, order_key="id")
    got = {r["lang"]: r["count"] for r in res.groupBy("lang").count().collect()}
    assert got == {"en": 5, "de": 5}
    # deterministic
    res2 = reservoir_per_key(df.repartition(7), keys=["lang"], k=5, order_key="id")
    assert sorted(r["id"] for r in res.collect()) == sorted(r["id"] for r in res2.collect())


def test_registry_conveniences(spark, sf_dir):
    tables = load_all(spark, sf_dir)
    assert set(tables) >= {"lineitem", "orders", "documents"}
    register_temp_views(spark, sf_dir)
    assert spark.sql("SELECT COUNT(*) AS n FROM region").first()["n"] == 5


# The driver hash-checks only the first DRIVER_WINDOW entries of
# ``queries()`` each round.
DRIVER_WINDOW = 50


def _latest_green_rounds() -> dict[str, int]:
    """Shared parser in queries/__init__ — repo-root-anchored, so these
    guards work from any cwd and cannot diverge from served_order()'s
    view of the artifacts (r8 review: two copies had already diverged on
    path anchoring)."""
    from etl_hiscox_spark.queries import latest_green_rounds

    return latest_green_rounds()


def _served_window() -> list[str]:
    from etl_hiscox_spark.queries import all_queries

    return list(all_queries())[:DRIVER_WINDOW]


def _rows_only() -> set[str]:
    """Queries with NO SQL twin even in partial-invariant form (today only
    s7_object_listing: filesystem mtimes/paths, pinned by
    tests/test_pipeline.py::test_object_listing_and_binary_read). A
    driver ``no_oracle`` entry is a rows-only smoke signal, not a
    verification, so these never bank a hash-green."""
    from etl_hiscox_spark.queries import all_queries

    return {n for n, q in all_queries().items() if q.oracle is None}


def test_driver_window_rotation():
    """The driver checks only the first 50 registered queries; the order
    that decides which ones is computed from the banked CORRECTNESS files
    (``served_order``). Guards: every registered query is served exactly
    once, oracle-backed queries come first in (latest green round, name)
    order with never-green ones (round 0) leading, and oracle-less
    queries come last."""
    from etl_hiscox_spark.queries import QUERIES, all_queries

    qs = all_queries()
    order = list(qs)
    assert sorted(order) == sorted(QUERIES)
    checked = [n for n in order if qs[n].oracle is not None]
    assert order[: len(checked)] == checked, "oracle-less queries must come last"
    last = _latest_green_rounds()
    keys = [(last.get(n, 0), n) for n in checked]
    assert keys == sorted(keys)


def test_served_order_on_synthetic_artifacts():
    from etl_hiscox_spark.queries import Q, served_order

    names = ("b_green_r3", "a_green_r3", "c_never", "d_green_r1", "e_rows_only", "f_never")
    qs = {n: Q(lambda spark, sf: None, None if n == "e_rows_only" else "SELECT 1") for n in names}
    last = {"b_green_r3": 3, "a_green_r3": 3, "d_green_r1": 1}
    assert served_order(qs, last) == [
        "c_never",  # never hash-green lead
        "f_never",
        "d_green_r1",  # then rounds ascend
        "a_green_r3",  # ties break by name
        "b_green_r3",
        "e_rows_only",  # oracle-less last
    ]
    # oracle-less stays last even if an artifact lists it green
    assert served_order(qs, {**last, "e_rows_only": 1})[-1] == "e_rows_only"
    # no CORRECTNESS artifacts: name order (oracle-less still last)
    assert served_order(qs, {}) == sorted(set(names) - {"e_rows_only"}) + ["e_rows_only"]
    all_sql = {n: Q(q.fn, "SELECT 1") for n, q in qs.items()}
    assert served_order(all_sql, {}) == sorted(names)


def test_current_window_leaves_no_query_stale_beyond_four_rounds():
    """Mechanized staleness invariant (VERDICT r5 item 7; bound relaxed in
    r7 and again in r16): at window-freeze time, every query whose latest
    driver signal would be MORE than four rounds old after this round's
    check must be in the current window. Current round = max CORRECTNESS
    round + 1; anything last checked at or before (current - 5) and not in
    the window fails loudly.

    Bound history (each relaxation is the same arithmetic): a 50-slot
    window at bound N sustains 50*(N+1) queries (every query needs a slot
    every (N+1)th round). Bound 2 saturated at the r7 population of 150;
    bound 3 saturated at the r15 population of 200 (VERDICT r15 "What's
    missing" #4 flagged the zero headroom and asked for an explicit policy
    BEFORE the next declaration). r16 policy decision: relax to bound 4
    (capacity 250) rather than retire probes — every one of the 200
    oracle-checked queries exercises a distinct code path or lifecycle
    stage (e.g. l3_ann_topk pins the hyperplane-LSH family the IVF probes
    do not touch), so retirement would trade real coverage for slots,
    while a 4-round-stale hash-green remains a current signal because the
    FULL 201-query sweep (VERIFY_LOCAL_r{N}.txt) re-verifies every query
    at every closing commit regardless of the driver window.

    Checked against the served window, so this stays green across the
    driver's banking instead of demanding a not-yet-written list."""
    win = _served_window()
    last = _latest_green_rounds()
    current = max(last.values()) + 1
    too_stale = [n for n, r in last.items() if r <= current - 5 and n not in win]
    assert not too_stale, f"stale-beyond-4-rounds queries missing from the active window: {too_stale}"


def test_never_checked_queries_lead_the_window():
    """New declarations outrank stale greens: every registered query with
    NO hash-verified driver signal must occupy the earliest window slots
    (oracle-less queries are exempt: they can never bank a hash-green)."""
    from etl_hiscox_spark.queries import all_queries

    win = _served_window()
    last = _latest_green_rounds()
    exempt = _rows_only()
    never = [n for n in all_queries() if n not in last and n not in exempt]
    head = set(win[: max(len(never), 1)])
    missing = [n for n in never if n not in head]
    assert not missing, f"never-checked queries not leading the active window: {missing}"


def test_every_query_has_driver_coverage_plan():
    """Every registered query must either have a hash-verified driver
    signal (CORRECTNESS_r*.json), be in the served window, or be
    oracle-less by design. Declaring a query without a driver signal is
    how coverage gaps grew in r1/r2 — this fails loudly instead (e.g. more
    never-green declarations than window slots)."""
    from etl_hiscox_spark.queries import all_queries

    checked = set(_served_window()) | set(_latest_green_rounds()) | _rows_only()
    unplanned = [n for n in all_queries() if n not in checked]
    assert not unplanned, f"queries with no driver-coverage plan: {unplanned}"


def test_sources_never_import_operators():
    """The storage layer sits below the operators: no module under
    ``etl_hiscox_spark/sources`` imports ``etl_hiscox_spark.operators``
    (the driver-local path check lives in ``sources/listing``)."""
    import ast
    from pathlib import Path

    import etl_hiscox_spark.sources as sources

    def imported(node):
        if isinstance(node, ast.Import):
            return [a.name for a in node.names]
        if isinstance(node, ast.ImportFrom) and node.module:
            return [node.module] + [f"{node.module}.{a.name}" for a in node.names]
        return []

    offenders = [
        f"{path.name}:{node.lineno} imports {mod}"
        for path in sorted(Path(sources.__file__).parent.glob("*.py"))
        for node in ast.walk(ast.parse(path.read_text()))
        for mod in imported(node)
        if mod == "etl_hiscox_spark.operators"
        or mod.startswith("etl_hiscox_spark.operators.")
    ]
    assert offenders == []


def test_index_layout_is_known_in_one_place():
    """The generation-pointer layout is the only index layout, and one
    place knows it: under ``operators/`` nothing but ``segindex.py`` asks
    ``genlog.is_generational`` — every other entry point resolves the head
    through genlog, which rejects a root without a pointer log — and no
    call anywhere in the package passes ``generational=``. No index module
    renames or moves a path: every index op commits by pointer, which is
    what keeps the layout correct on object stores. Neither index module
    forks on ``_meta_is_local`` or reaches into the JVM: every segment's
    commit record and partition listing goes through ``pyarrow.fs``, the
    seam the pointer log runs on."""
    import ast
    from pathlib import Path

    import etl_hiscox_spark as pkg

    root = Path(pkg.__file__).parent
    index_modules = {
        "operators/dedup.py", "operators/similarity.py",
        "operators/segindex.py", "sources/genlog.py",
    }
    moves = {("os", "rename"), ("os", "replace"), ("shutil", "move")}
    asks, switches, renames = [], [], []

    class Scan(ast.NodeVisitor):
        def __init__(self, rel):
            self.rel = rel

        def visit_Call(self, node):
            f = node.func
            name = f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", None)
            where = f"{self.rel}:{node.lineno}"
            if (
                name == "is_generational"
                and self.rel.startswith("operators/")
                and self.rel != "operators/segindex.py"
            ):
                asks.append(where)
            if any(k.arg == "generational" for k in node.keywords):
                switches.append(where)
            if (
                isinstance(f, ast.Attribute)
                and isinstance(f.value, ast.Name)
                and (f.value.id, f.attr) in moves
                and self.rel in index_modules
            ):
                renames.append(where)
            self.generic_visit(node)

    for path in sorted(root.rglob("*.py")):
        Scan(path.relative_to(root).as_posix()).visit(ast.parse(path.read_text()))
    assert asks == []
    assert switches == []
    assert renames == []

    def names(node):
        if isinstance(node, (ast.Import, ast.ImportFrom)):
            return {a.name for a in node.names}
        return {getattr(node, "id", None), getattr(node, "attr", None)}

    forks = [
        f"{rel}:{node.lineno}"
        for rel in ("operators/dedup.py", "operators/similarity.py")
        for node in ast.walk(ast.parse((root / rel).read_text()))
        if names(node) & {"_meta_is_local", "_jvm"}
    ]
    assert forks == []


def test_engine_reads_of_engine_written_trees_pin_their_schema():
    """An index segment or a TxnTable data file is a tree the engine wrote
    itself, so its read never asks Spark to infer the schema (a job per
    call): in the index and txn modules every ``read ... .parquet(`` chain
    carries ``.schema(``. One module reads footer facts: only
    ``sources/listing.py`` names Spark's footer schema key, and every
    engine import names a module that exists, so no import of a deleted
    footer helper survives."""
    import ast
    import importlib.util
    from pathlib import Path

    import etl_hiscox_spark as pkg

    root = Path(pkg.__file__).parent

    def chain(node):
        names = []
        while isinstance(node, (ast.Call, ast.Attribute)):
            if isinstance(node, ast.Attribute):
                names.append(node.attr)
                node = node.value
            else:
                node = node.func
        return names

    unpinned = []
    for rel in (
        "operators/dedup.py", "operators/similarity.py",
        "operators/segindex.py", "sources/txnlog.py",
    ):
        for node in ast.walk(ast.parse((root / rel).read_text())):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "parquet"
            ):
                names = chain(node.func.value)
                if "read" in names and "schema" not in names:
                    unpinned.append(f"{rel}:{node.lineno}")
    assert unpinned == []

    footer_key = "org.apache.spark.sql.parquet.row.metadata"
    sources = {p.relative_to(root).as_posix(): p.read_text() for p in sorted(root.rglob("*.py"))}
    assert [rel for rel, text in sources.items() if footer_key in text] == ["sources/listing.py"]

    missing = []
    for rel, text in sources.items():
        for node in ast.walk(ast.parse(text)):
            if isinstance(node, ast.Import):
                mods = [a.name for a in node.names]
            elif isinstance(node, ast.ImportFrom) and node.module:
                mods = [node.module]
            else:
                continue
            missing += [
                f"{rel}:{node.lineno} {m}"
                for m in mods
                if m.startswith("etl_hiscox_spark") and importlib.util.find_spec(m) is None
            ]
    assert missing == []
