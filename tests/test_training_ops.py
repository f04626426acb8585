"""Tests for corpus-composition operators: mixture_sample (target source
mix, deterministic by key hash) and pack_sequences (token-budget shard
packing via per-group best-fit-decreasing)."""

from __future__ import annotations

import bisect
import random
from collections import defaultdict

import pytest
from pyspark.sql import functions as F

from etl_hiscox_spark.operators.sampling import PACK_FOLD_CAP, mixture_sample, pack_sequences


def _corpus(spark, name, n):
    return spark.range(n).select(
        F.concat(F.lit(name + "-"), F.col("id")).alias("doc_id"),
        F.lit(name).alias("origin"),
    )


def test_mixture_sample_hits_target_proportions(spark):
    # web is abundant, code is scarce: code caps the total (T = n_code/0.3),
    # so ~all code survives and web is downsampled to 0.7/0.3 × n_code.
    web, code = _corpus(spark, "web", 20000), _corpus(spark, "code", 3000)
    out = mixture_sample(
        {"web": web, "code": code}, {"web": 0.7, "code": 0.3}, key="doc_id"
    )
    counts = {r.source: r.n for r in out.groupBy("source").agg(F.count("*").alias("n")).collect()}
    assert counts["code"] == 3000  # scarcest source kept whole (frac == 1)
    expected_web = 0.7 / 0.3 * 3000
    assert abs(counts["web"] - expected_web) / expected_web < 0.05


def test_mixture_sample_deterministic_across_partitioning(spark):
    web, code = _corpus(spark, "web", 5000), _corpus(spark, "code", 1000)
    a = mixture_sample({"web": web, "code": code}, {"web": 0.5, "code": 0.5}, key="doc_id")
    b = mixture_sample(
        {"web": web.repartition(13), "code": code.repartition(7)},
        {"web": 0.5, "code": 0.5},
        key="doc_id",
    )
    assert {r.doc_id for r in a.collect()} == {r.doc_id for r in b.collect()}
    # A different seed draws a different corpus.
    c = mixture_sample({"web": web, "code": code}, {"web": 0.5, "code": 0.5}, key="doc_id", seed=1)
    assert {r.doc_id for r in a.collect()} != {r.doc_id for r in c.collect()}


def test_mixture_sample_rejects_mismatch_and_empty(spark):
    web = _corpus(spark, "web", 10)
    with pytest.raises(ValueError, match="!= weights"):
        mixture_sample({"web": web}, {"web": 0.5, "code": 0.5}, key="doc_id")
    empty = web.filter(F.lit(False))
    with pytest.raises(ValueError, match="empty"):
        mixture_sample({"web": web, "code": empty}, {"web": 0.5, "code": 0.5}, key="doc_id")


def test_pack_sequences_respects_budget(spark):
    df = spark.range(2000).select(
        F.concat(F.lit("d"), F.col("id")).alias("doc_id"),
        (F.shiftrightunsigned(F.xxhash64("id"), 1) % 900 + 50).alias("n_tokens"),
    )
    packed = pack_sequences(df, "doc_id", "n_tokens", budget=2048, n_groups=8)
    # Every doc exactly once.
    assert packed.count() == 2000
    assert packed.select("doc_id").distinct().count() == 2000
    # Every pack within budget (max token here is 949 < budget, so no
    # singleton-overflow exception applies).
    sums = packed.groupBy("pack_id").agg(F.sum("n_tokens").alias("s")).collect()
    assert all(r.s <= 2048 for r in sums)
    # BFD should land well above half-full on average (not one doc per pack).
    import statistics

    fills = [r.s / 2048 for r in sums]
    assert statistics.mean(fills) > 0.5


def test_pack_sequences_oversized_doc_gets_singleton(spark):
    df = spark.createDataFrame(
        [("big", 5000), ("a", 100), ("b", 200)], ["doc_id", "n_tokens"]
    )
    packed = pack_sequences(df, "doc_id", "n_tokens", budget=1024, n_groups=2)
    rows = {r.doc_id: r.pack_id for r in packed.collect()}
    mates = [d for d, p in rows.items() if p == rows["big"] and d != "big"]
    assert mates == []  # nothing shares the oversized doc's pack


def test_pack_sequences_deterministic(spark):
    df = spark.range(500).select(
        F.concat(F.lit("d"), F.col("id")).alias("doc_id"),
        (F.col("id") % 300 + 1).alias("n_tokens"),
    )
    a = {(r.doc_id, r.pack_id) for r in pack_sequences(df, "doc_id", "n_tokens", 1024).collect()}
    b = {
        (r.doc_id, r.pack_id)
        for r in pack_sequences(df.repartition(11), "doc_id", "n_tokens", 1024).collect()
    }
    assert a == b


def test_pack_sequences_by_matches_per_split_packing(spark):
    """One grouped pass over every split assigns exactly the pack ids a
    per-split loop assigns once each is prefixed with its split name:
    BFD runs per (split, hash group) either way. Equal token counts make
    the id tie-break decide, and one row exceeds the budget."""
    rows = [(f"c{i}", ("train", "val", "test")[i % 3], (i * 37) % 400 + 1) for i in range(300)]
    rows += [(f"t{i}", ("train", "val", "test")[i % 3], 256) for i in range(12)]  # ties
    rows.append(("huge", "val", 5000))  # oversized -> singleton pack
    df = spark.createDataFrame(rows, "key string, split string, n_tokens int")

    grouped = pack_sequences(df, "key", "n_tokens", budget=1024, n_groups=4, by="split")
    assert grouped.columns == ["key", "split", "n_tokens", "pack_id"]  # rows pass through
    got = {(r.key, r.pack_id) for r in grouped.collect()}

    want = set()
    for name in ("train", "val", "test"):
        part = pack_sequences(
            df.filter(F.col("split") == name).select("key", "n_tokens"),
            "key",
            "n_tokens",
            budget=1024,
            n_groups=4,
        )
        want |= {(r.key, f"{name}/{r.pack_id}") for r in part.collect()}
    assert len(got) == len(rows)
    assert got == want
    huge = dict(got)["huge"]
    assert [k for k, p in got if p == huge] == ["huge"]


def bfd_pack(toks, budget):
    """Best-fit-decreasing over ``toks`` (already in packing order): the
    pack index of each item. Best fit is the open pack with the SMALLEST
    remaining capacity that still holds the item, ties to the lowest pack
    index; a pack whose remaining capacity reaches 0, or an oversized
    item's singleton, is closed."""
    open_bins: list[tuple[int, int]] = []  # sorted (remaining, bin_idx)
    n_bins = 0
    assign = []
    for t in toks:
        j = bisect.bisect_left(open_bins, (t, -1))
        if j < len(open_bins):
            rem, idx = open_bins.pop(j)
            if rem - t > 0:
                bisect.insort(open_bins, (rem - t, idx))
        else:
            idx = n_bins
            n_bins += 1
            if budget - t > 0:
                bisect.insort(open_bins, (budget - t, idx))
        assign.append(idx)
    return assign


def reference_pack_ids(rows, budget, cap=PACK_FOLD_CAP):
    """Pure-Python pack_sequences: ``rows`` are (id, tokens, grp, h, by)
    with ``grp`` the hash group, ``h`` the sub-group hash and ``by`` None
    when unused. Returns the sorted (id, pack_id) pairs. A group of m >
    ``cap`` items is cut into k = ceil(m / cap) sub-groups by rank of
    (h, id, -tokens): sub-group s holds ranks [ceil(s·m/k), ceil((s+1)·m/k))."""
    groups = defaultdict(list)
    for id_, tok, grp, h, by in rows:
        groups[(by, grp)].append((h, id_, -tok))
    out = []
    for (by, grp), items in groups.items():
        prefix = "" if by is None else f"{by}/"
        m = len(items)
        k = -(-m // cap)
        items.sort()
        for s in range(k):
            run = sorted((neg, id_) for _, id_, neg in items[-(-s * m // k) : -(-(s + 1) * m // k)])
            label = f"{grp}" if k == 1 else f"{grp}.{s}"
            for (neg, id_), idx in zip(run, bfd_pack([-n for n, _ in run], budget)):
                out.append((id_, f"{prefix}{label}-{idx}"))
    return sorted(out)


def _reference_rows(df, id_col, token_col, n_groups, by=None):
    grp = F.shiftrightunsigned(F.xxhash64(F.col(id_col)), 1) % n_groups
    sel = [id_col, token_col, grp, F.hash(id_col), F.col(by) if by else F.lit(None)]
    return [tuple(r) for r in df.select(*sel).collect()]


def _random_frame(spark, seed, n):
    """Seeded rows with many token ties, zero-token rows, rows above the
    1024 budget and three split values."""
    rng = random.Random(seed)
    rows = []
    for i in range(n):
        roll = rng.random()
        if roll < 0.05:
            tok = 0
        elif roll < 0.08:
            tok = rng.randint(1100, 3000)  # oversized
        elif roll < 0.3:
            tok = rng.choice([64, 128, 256])  # ties
        else:
            tok = rng.randint(1, 700)
        rows.append((f"k{rng.randrange(10**9):09d}-{i}", rng.choice(["train", "val", "test"]), tok))
    return spark.createDataFrame(rows, "key string, split string, n_tokens int")


@pytest.mark.parametrize("seed", [11, 12, 13])
def test_pack_sequences_matches_python_bfd_reference(spark, seed):
    df = _random_frame(spark, seed, 700)
    packed = pack_sequences(df, "key", "n_tokens", budget=1024, n_groups=4)
    got = sorted((r.key, r.pack_id) for r in packed.collect())
    assert got == reference_pack_ids(_reference_rows(df, "key", "n_tokens", 4), 1024)
    by_split = pack_sequences(df, "key", "n_tokens", budget=1024, n_groups=4, by="split")
    got = sorted((r.key, r.pack_id) for r in by_split.collect())
    assert got == reference_pack_ids(_reference_rows(df, "key", "n_tokens", 4, by="split"), 1024)


def test_pack_sequences_splits_a_group_above_the_cap(spark):
    """One hash group of 2·cap + 100 items folds as three sub-groups of
    1399, 1399 and 1398 items; a group at the cap stays whole and keeps
    the plain "{grp}-{idx}" ids."""
    m = 2 * PACK_FOLD_CAP + 100
    df = spark.range(m).select(
        F.concat(F.lit("d"), F.col("id")).alias("doc_id"),
        (F.shiftrightunsigned(F.xxhash64("id"), 1) % 300).cast("int").alias("n_tokens"),
    )
    packed = pack_sequences(df, "doc_id", "n_tokens", budget=1024, n_groups=1)
    got = sorted((r.doc_id, r.pack_id) for r in packed.collect())
    assert got == reference_pack_ids(_reference_rows(df, "doc_id", "n_tokens", 1), 1024)
    assert {p.split("-")[0] for _, p in got} == {"0.0", "0.1", "0.2"}

    whole = df.limit(PACK_FOLD_CAP)
    packed = pack_sequences(whole, "doc_id", "n_tokens", budget=1024, n_groups=1)
    got = sorted((r.doc_id, r.pack_id) for r in packed.collect())
    assert got == reference_pack_ids(_reference_rows(whole, "doc_id", "n_tokens", 1), 1024)
    assert {p.split("-")[0] for _, p in got} == {"0"}


PYTHON_PLAN_NODES = ("FlatMapGroupsInPandas", "ArrowEvalPython", "BatchEvalPython", "PythonUDF")


def test_packing_plans_start_no_python_worker(spark, sf_dir):
    from etl_hiscox_spark.operators.caching import release_caches
    from etl_hiscox_spark.plans.llm_pipeline import prepare_corpus
    from etl_hiscox_spark.queries.llm import t8_pack_sequences
    from etl_hiscox_spark.registry import load_table

    docs = load_table(spark, "documents", sf_dir)
    res = prepare_corpus(docs, count_stages=False, pack_budget=512)
    try:
        for df in (res.chunks, t8_pack_sequences(spark, sf_dir)):
            plan = df._jdf.queryExecution().optimizedPlan().toString()
            assert not [n for n in PYTHON_PLAN_NODES if n in plan], plan
    finally:
        release_caches(res.chunks)


def test_weighted_sample_rates_and_determinism(spark):
    from etl_hiscox_spark.operators.sampling import weighted_sample

    n = 20000
    df = spark.range(n).select(
        F.concat(F.lit("d"), F.col("id")).alias("doc_id"),
        F.when(F.col("id") % 2 == 0, F.lit(0.9)).otherwise(F.lit(0.1)).alias("w"),
    )
    kept = weighted_sample(df, "w", key="doc_id", seed=3)
    counts = {
        r.w: r.n for r in kept.groupBy("w").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert abs(counts[0.9] - 0.9 * n / 2) / (0.9 * n / 2) < 0.05
    assert abs(counts[0.1] - 0.1 * n / 2) / (0.1 * n / 2) < 0.15
    # deterministic across repartition; weights outside [0,1] clamp
    a = sorted(r.doc_id for r in kept.collect())
    b = sorted(r.doc_id for r in weighted_sample(df.repartition(13), "w", "doc_id", seed=3).collect())
    assert a == b
    all_kept = weighted_sample(df.withColumn("w", F.lit(7.0)), "w", "doc_id")
    assert all_kept.count() == n
    none_kept = weighted_sample(df.withColumn("w", F.lit(-1.0)), "w", "doc_id")
    assert none_kept.count() == 0


def test_weighted_sample_portable_draw_matches_duckdb(spark):
    # The portable=True selection must be re-derivable OUTSIDE Spark: the
    # same sha256 hex-prefix draw in DuckDB picks the identical row set.
    import duckdb

    from etl_hiscox_spark.operators.sampling import weighted_sample

    n = 5000
    df = spark.range(n).select(
        F.col("id").alias("doc_id"),
        ((F.col("id") % 10) / 10.0).alias("w"),
    )
    kept = sorted(
        r.doc_id for r in weighted_sample(df, "w", key="doc_id", portable=True).collect()
    )
    dd = duckdb.sql(
        f"""
        WITH t AS (
          SELECT range AS doc_id, (range % 10) / 10.0 AS w FROM range({n})
        )
        SELECT doc_id FROM t
        WHERE w >= 1.0 OR substring(sha256(CAST(doc_id AS VARCHAR) || ':2:0'), 1, 13)
              < lpad(lower(to_hex(CAST(floor(w * 16**13) AS BIGINT))), 13, '0')
        ORDER BY doc_id
        """
    ).fetchall()
    assert kept == [r[0] for r in dd]
    # rates: E[kept] = sum of weights
    expect = sum((i % 10) / 10.0 for i in range(n))
    assert abs(len(kept) - expect) / expect < 0.05


def test_weighted_sample_portable_keeps_weight_one_unconditionally(spark):
    # w >= 1 must short-circuit: its 14-hex threshold would be TRUNCATED
    # by lpad (both engines truncate overlong input), silently halving the
    # keep rate without the guard.
    from etl_hiscox_spark.operators.sampling import weighted_sample

    df = spark.range(500).select(F.col("id").alias("doc_id"), F.lit(1.0).alias("w"))
    assert weighted_sample(df, "w", key="doc_id", portable=True).count() == 500


def test_mixture_sample_portable_matches_duckdb(spark):
    # portable=True mixture: DuckDB re-derives the per-source fractions
    # from exact counts and the sha256 draw picks the identical corpus.
    import duckdb

    from etl_hiscox_spark.operators.sampling import mixture_sample

    n = 3000
    df = spark.range(n).select(
        F.col("id").alias("doc_id"), (F.col("id") % 3 == 0).alias("is_a")
    )
    a, b = df.filter("is_a"), df.filter("NOT is_a")
    mixed = mixture_sample({"a": a, "b": b}, {"a": 0.5, "b": 0.5}, key="doc_id", portable=True)
    got = sorted((r.doc_id, r.source) for r in mixed.collect())
    dd = duckdb.sql(
        f"""
        WITH src AS (
          SELECT range AS doc_id,
                 CASE WHEN range % 3 = 0 THEN 'a' ELSE 'b' END AS s,
                 CAST(0.5 AS DOUBLE) AS w
          FROM range({n})
        ), counts AS (SELECT s, w, COUNT(*) AS n FROM src GROUP BY s, w),
        tmax AS (SELECT MIN(n / w) AS t FROM counts),
        fracs AS (SELECT s, LEAST(1.0, (w * (SELECT t FROM tmax)) / n) AS frac FROM counts)
        SELECT doc_id, s FROM src JOIN fracs USING (s)
        WHERE frac >= 1.0 OR substring(sha256(CAST(doc_id AS VARCHAR) || ':1:0'), 1, 13)
              < lpad(lower(to_hex(CAST(floor(frac * 16**13) AS BIGINT))), 13, '0')
        ORDER BY doc_id
        """
    ).fetchall()
    assert got == [(r[0], r[1]) for r in dd]
    # the scarce source (a: n/3 rows, target 50%) survives whole
    assert sum(1 for _, s in got if s == "a") == n // 3


def test_upsample_expected_copies_and_determinism(spark):
    from pyspark.sql import functions as F

    from etl_hiscox_spark.operators.sampling import upsample

    df = spark.range(4000).withColumnRenamed("id", "doc_id").withColumn(
        "w", (F.col("doc_id") % 5).cast("double") / F.lit(2.0)  # 0, .5, 1, 1.5, 2
    )
    out = upsample(df, "w", key="doc_id", seed=1)
    got = {r["doc_id"]: r["n"] for r in out.groupBy("doc_id").count().withColumnRenamed("count", "n").collect()}
    # w=0 rows never appear; integer weights are exact; E over fractional
    assert all(d % 5 != 0 for d in got)
    assert all(got[d] == 1 for d in got if d % 5 == 2)
    assert all(got[d] == 2 for d in got if d % 5 == 4)
    half = [got.get(d, 0) for d in range(4000) if d % 5 == 1]  # w = 0.5
    assert abs(sum(half) / len(half) - 0.5) < 0.06
    sesq = [got.get(d, 0) for d in range(4000) if d % 5 == 3]  # w = 1.5
    assert set(sesq) <= {1, 2} and abs(sum(sesq) / len(sesq) - 1.5) < 0.06
    # deterministic under re-partitioning, copy ids dense from 0
    out2 = upsample(df.repartition(13), "w", key="doc_id", seed=1)
    assert sorted(map(tuple, out.select("doc_id", "copy_id").collect())) == sorted(
        map(tuple, out2.select("doc_id", "copy_id").collect())
    )
    copies = {
        (r["doc_id"], r["copy_id"]) for r in out.filter(F.col("doc_id") % 5 == 4).collect()
    }
    assert all((d, 0) in copies and (d, 1) in copies for d, _ in copies)


def test_upsample_null_handling(spark):
    import pytest
    from pyspark.sql import functions as F

    from etl_hiscox_spark.operators.sampling import upsample

    df = spark.createDataFrame([(1, None), (2, float("nan")), (3, 2.0)], "doc_id long, w double")
    got = upsample(df, "w", key="doc_id").groupBy("doc_id").count().collect()
    assert {r["doc_id"]: r["count"] for r in got} == {3: 2}  # null/nan -> 0 copies
    bad = spark.createDataFrame([(None, 1.0)], "doc_id long, w double")
    with pytest.raises(Exception, match="NULL doc_id"):
        upsample(bad, "w", key="doc_id").collect()


def test_upsample_rejects_runaway_weights(spark):
    import pytest
    from pyspark.sql import functions as F

    from etl_hiscox_spark.operators.sampling import upsample

    df = spark.createDataFrame([(1, 1e9)], "doc_id long, w double")
    with pytest.raises(Exception, match="max_weight"):
        upsample(df, "w", key="doc_id").collect()
    # raising the ceiling consciously works
    df2 = spark.createDataFrame([(1, 150.0)], "doc_id long, w double")
    assert upsample(df2, "w", key="doc_id", max_weight=200.0).count() == 150


def test_token_budget_sample_greedy_prefix_and_determinism(spark):
    from etl_hiscox_spark.operators.sampling import token_budget_sample

    df = spark.range(40).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % 2).cast("string").alias("src"),
        F.lit(10).alias("nt"),
    )
    out = token_budget_sample(df, "src", F.col("nt"), key="doc_id", budget=55)
    rows = out.collect()
    # 10-token docs, budget 55 -> exactly 5 per group fit (50 <= 55 < 60)
    per = {r["src"]: 0 for r in rows}
    for r in rows:
        per[r["src"]] += 1
        assert r["cum_tokens"] <= 55
    assert per == {"0": 5, "1": 5}
    # deterministic under repartitioning
    out2 = token_budget_sample(df.repartition(7), "src", F.col("nt"), key="doc_id", budget=55)
    assert sorted(r["doc_id"] for r in rows) == sorted(r["doc_id"] for r in out2.collect())
    # budget below the smallest doc keeps nothing
    assert token_budget_sample(df, "src", F.col("nt"), key="doc_id", budget=9).count() == 0


def test_token_budget_sample_first_crossing_doc_dropped(spark):
    from etl_hiscox_spark.operators.sampling import token_budget_sample

    # one group, doc sizes chosen so the greedy prefix stops mid-list:
    # whichever order the hash picks, a 100-token doc can never fit a
    # 50-token budget, and smaller docs after a crossing are NOT back-filled
    df = spark.createDataFrame(
        [(1, "a", 100), (2, "a", 30), (3, "a", 30)], "doc_id long, src string, nt int"
    )
    rows = token_budget_sample(df, "src", F.col("nt"), key="doc_id", budget=50).collect()
    kept = sorted(r["doc_id"] for r in rows)
    # the 100-token doc is always excluded; at most one 30-token doc fits,
    # and only if it precedes the 100-token doc in priority order
    assert 1 not in kept and len(kept) <= 1


def test_dsir_weights_favor_target_like_docs(spark):
    from etl_hiscox_spark.operators.dsir import importance_weights

    raw = spark.createDataFrame(
        [(1, "alpha beta alpha beta"), (2, "gamma delta gamma delta"), (3, "alpha delta")],
        "doc_id long, text string",
    )
    target = raw.filter(F.col("doc_id") == 1)  # target distribution = alpha/beta
    out = {r["doc_id"]: r for r in importance_weights(raw, target, "text", "doc_id").collect()}
    # absolute signs are unreliable at toy scale (smoothing + 64-bucket
    # collisions dominate); the ORDERING is the invariant
    assert out[1]["log_weight"] > out[3]["log_weight"] > out[2]["log_weight"]
    assert all(out[i]["n_tokens"] in (2, 4) for i in (1, 2, 3))
    # determinism under repartitioning (fixed 6-dp contract)
    out2 = {
        r["doc_id"]: round(r["log_weight"], 6)
        for r in importance_weights(raw.repartition(5), target, "text", "doc_id").collect()
    }
    assert out2 == {i: round(out[i]["log_weight"], 6) for i in (1, 2, 3)}


def test_remove_boilerplate_lines_rebuild_and_empty_doc(spark):
    from etl_hiscox_spark.operators.boilerplate import remove_boilerplate_lines

    chrome = "accept cookies"
    docs = [(i, f"{chrome}\nunique body {i}\nfooter") for i in range(4)]
    docs.append((99, f"{chrome}\nfooter"))  # fully boilerplate
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = {r["doc_id"]: r for r in remove_boilerplate_lines(df, "text", "doc_id", min_docs=4).collect()}
    assert len(out) == 5  # fully-boilerplate doc still present
    assert out[99]["n_lines_kept"] == 0 and out[99]["text_clean"] == ""
    assert out[0]["text_clean"] == "unique body 0"  # chrome + footer dropped, order kept
    assert out[0]["n_lines"] == 3 and out[0]["n_lines_kept"] == 1
    # line order preserved when multiple lines survive
    df2 = spark.createDataFrame([(1, "keep one\nkeep two\nkeep three")], "doc_id long, text string")
    got = remove_boilerplate_lines(df2, "text", "doc_id", min_docs=4).first()
    assert got["text_clean"] == "keep one\nkeep two\nkeep three"


def test_remove_boilerplate_lines_null_text_doc_survives(spark):
    # ADVICE r7 item 3: split(NULL) explodes to zero rows, which silently
    # dropped NULL-text docs. They must survive as one empty line
    # (NULL normalized to ''), keeping the one-row-per-doc contract.
    from etl_hiscox_spark.operators.boilerplate import remove_boilerplate_lines

    df = spark.createDataFrame(
        [(1, "body one"), (2, None), (3, "body three")], "doc_id long, text string"
    )
    out = {r["doc_id"]: r for r in remove_boilerplate_lines(df, "text", "doc_id", min_docs=5).collect()}
    assert set(out) == {1, 2, 3}
    assert out[2]["n_lines"] == 1  # the normalized empty line
    assert out[2]["text_clean"] == ""


def test_top_fraction_per_group_boundaries(spark):
    from etl_hiscox_spark.operators.windows import top_fraction_per_group

    df = spark.createDataFrame(
        [("a", i, float(i)) for i in range(10)] + [("b", 100, 1.0)],
        "grp string, doc_id long, score double",
    )
    out = top_fraction_per_group(
        df, keys=["grp"], order_by=[F.col("score"), -F.col("doc_id")], fraction=0.3
    ).collect()
    got = {r["grp"]: sorted(r2["doc_id"] for r2 in out if r2["grp"] == r["grp"]) for r in out}
    assert got["a"] == [7, 8, 9]  # ceil(10 * 0.3) = 3, best scores
    assert got["b"] == [100]  # singleton group always keeps its row
    with pytest.raises(ValueError, match="fraction"):
        top_fraction_per_group(df, ["grp"], [F.col("score")], fraction=0.0)


def test_gumbel_topk_is_weight_monotone_and_portable(spark):
    """Statistical sanity: across disjoint seed draws, heavy rows win more
    often; exact selection is pinned by the t29 oracle, so here we check
    determinism, the zero-weight exclusion, and the k contract."""
    from etl_hiscox_spark.operators.sampling import gumbel_topk

    df = spark.range(200).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") < 100, 0.0).otherwise(5.0).alias("wt"),
    )
    out = gumbel_topk(df, F.col("wt"), "doc_id", k=30, seed=1).collect()
    assert len(out) == 30
    assert all(r["doc_id"] >= 100 for r in out)  # zero-weight never sampled
    out2 = gumbel_topk(df.repartition(9), F.col("wt"), "doc_id", k=30, seed=1).collect()
    assert sorted(r["doc_id"] for r in out) == sorted(r["doc_id"] for r in out2)
    # k larger than the positive-weight population: returns all of it
    assert gumbel_topk(df, F.col("wt"), "doc_id", k=500).count() == 100


def test_ngram_novelty_orders_boilerplate_below_fresh(spark):
    """Novelty semantics: a doc repeating an earlier doc's shingles scores
    ~0; unique content scores 1.0; first occurrence owns its shingles."""
    from etl_hiscox_spark.queries import all_queries
    import tempfile, os
    import pyarrow as pa, pyarrow.parquet as pq

    d = tempfile.mkdtemp()
    docs = [
        (0, "alpha beta gamma delta epsilon zeta", "en", "web", 1),
        (1, "alpha beta gamma delta epsilon zeta", "en", "web", 1),  # full repeat
        (2, "one two three four five six seven", "en", "web", 1),    # fresh
    ]
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array([r[0] for r in docs], pa.int64()),
                "text": [r[1] for r in docs],
                "lang": [r[2] for r in docs],
                "source": [r[3] for r in docs],
                "n_chars": pa.array([r[4] for r in docs], pa.int64()),
            }
        ),
        os.path.join(d, "documents.parquet"),
    )
    out = {
        r["doc_id"]: (r["n_novel"], r["novelty"])
        for r in all_queries()["t34_ngram_novelty_score"].fn(spark, d).collect()
    }
    assert out[0][1] == 1.0          # first occurrence owns everything
    assert out[1] == (0, 0.0)        # verbatim repeat: zero novelty
    assert out[2][1] == 1.0          # disjoint fresh content
