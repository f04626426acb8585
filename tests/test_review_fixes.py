"""Regression tests for the round-1 code-review findings — each test pins
the fixed behavior of one finding."""

from __future__ import annotations

from datetime import datetime

import pytest
from pyspark.sql import functions as F

from etl_hiscox_spark.observability import write_with_metrics
from etl_hiscox_spark.operators.dedup import connected_components, minhash_candidates
from etl_hiscox_spark.operators.joins import asof_join
from etl_hiscox_spark.operators.similarity import cosine_topk
from etl_hiscox_spark.plans.pipeline import Model, Pipeline, sql_model
from etl_hiscox_spark.quality.engine import QualityEngine
from etl_hiscox_spark.quality.rules import RuleSet, Unique
from etl_hiscox_spark.streaming.ops import foreach_batch_upsert


def test_upsert_survives_stream_restart(spark, tmp_path):
    # run 1 reaches batch id 5; a restarted stream resets to batch id 0 —
    # the fresh data must still win (ordering is per-target __seq, not
    # the resettable batch id).
    target = str(tmp_path / "t")
    upsert = foreach_batch_upsert(target, ["k"], spark)
    upsert(spark.createDataFrame([(1, "old")], "k int, v string"), 5)
    upsert(spark.createDataFrame([(1, "new")], "k int, v string"), 0)  # restart
    got = {r["k"]: r["v"] for r in spark.read.parquet(target).collect()}
    assert got == {1: "new"}


def test_asof_join_tie_on_right_ts(spark):
    ts = datetime(2024, 1, 1, 12)
    right = spark.createDataFrame(
        [(1, ts, 10.0, 100), (1, ts, 99.0, 200)], "k long, ts timestamp, v double, seq long"
    )
    left = spark.createDataFrame([(1, ts)], "k long, ts timestamp")
    out = asof_join(
        left, right, key="k", left_ts="ts", right_ts="ts",
        right_values=["v"], right_tiebreakers=["seq"],
    ).first()
    assert out["v_asof"] == 99.0  # highest tiebreaker wins, deterministically


def test_cosine_topk_ignores_zero_vectors(spark):
    df = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.9, 0.1]), (2, [0.0, 0.0])],
        "vec_id long, embedding array<float>",
    )
    out = cosine_topk(df, "embedding", "vec_id", [1.0, 0.0], k=3).collect()
    ids = [r["vec_id"] for r in out]
    assert 2 not in ids  # NaN cosine must not win rank 1
    assert ids[0] == 0


def test_write_with_metrics_empty_frame(spark, tmp_path):
    df = spark.range(0).withColumn("v", F.col("id"))
    m = write_with_metrics(
        df, str(tmp_path / "empty"), step="s", valid_predicate=F.col("v") > 0
    )
    assert m.records_processed == 0 and m.records_valid == 0
    assert m.quality_rate == 1.0  # vacuous


def test_connected_components_strict_nonconvergence(spark):
    chain = spark.createDataFrame([(i, i + 1) for i in range(8)], "id_a long, id_b long")
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(chain, max_iterations=2, strict=True)
    # non-strict returns (possibly partial) labels without raising
    labels = connected_components(chain, max_iterations=2, strict=False)
    assert labels.count() == 9
    # and enough iterations converges the whole chain to component 0
    full = connected_components(chain, max_iterations=10)
    assert {r["component"] for r in full.collect()} == {0}


def test_sql_model_layer_name_collision(spark):
    def mk(v):
        def fn(s, _):
            return s.createDataFrame([(v,)], "layer string")

        return fn

    p = Pipeline(spark)
    p.add(Model(name="bronze.claims", fn=mk("bronze")))
    p.add(Model(name="silver.claims", fn=mk("silver")))
    p.add(
        sql_model(
            "gold.compare",
            "SELECT (SELECT layer FROM bronze_claims) AS b, "
            "(SELECT layer FROM silver_claims) AS s",
            deps=("bronze.claims", "silver.claims"),
        )
    )
    report = p.run()
    assert report.success, report.summary()
    # rebuild to inspect output
    outs = {
        "bronze.claims": mk("bronze")(spark, {}),
        "silver.claims": mk("silver")(spark, {}),
    }
    row = p.models["gold.compare"].fn(spark, outs).first()
    assert (row["b"], row["s"]) == ("bronze", "silver")


def test_unique_rule_ignores_nulls(spark):
    df = spark.createDataFrame(
        [(1, "a"), (2, None), (3, "b"), (4, None)], "id int, x string"
    )
    report = QualityEngine().profile(df, RuleSet("t", (Unique("x"),)))
    # 2 distinct non-null / 2 non-null = 1.0 (dbt unique semantics)
    assert report.uniqueness["x"] == 1.0


def test_hash_split_null_keys_error_and_opt_in(spark):
    from etl_hiscox_spark.operators.sampling import hash_split

    df = spark.createDataFrame([(1,), (None,)], "doc_id int")
    w = {"train": 0.8, "test": 0.2}
    with pytest.raises(Exception, match="NULL doc_id"):
        hash_split(df, "doc_id", w).collect()
    rows = {r["doc_id"]: r["split"] for r in hash_split(df, "doc_id", w, on_null="last").collect()}
    assert rows[None] == "test"


def test_missing_source_matcher_not_overbroad():
    from etl_hiscox_spark.plans.errors import is_missing_source_error

    assert is_missing_source_error(FileNotFoundError("x"))
    assert is_missing_source_error(RuntimeError("[PATH_NOT_FOUND] /a/b"))
    # real bugs whose messages merely contain 'does not exist' must NOT skip
    assert not is_missing_source_error(RuntimeError("Partition spec does not exist"))
    assert not is_missing_source_error(RuntimeError('relation "x" does not exist'))


def test_retry_skips_deterministic_errors_immediately():
    from etl_hiscox_spark.plans.errors import is_missing_source_error, retry_with_backoff

    calls = {"n": 0}

    def missing():
        calls["n"] += 1
        raise FileNotFoundError("[PATH_NOT_FOUND] gone")

    with pytest.raises(FileNotFoundError):
        retry_with_backoff(
            missing,
            max_retries=5,
            delay_seconds=0.5,
            should_retry=lambda e: not is_missing_source_error(e),
        )
    assert calls["n"] == 1  # no retries, no sleeps


def test_pipeline_unknown_dep_raises(spark):
    p = Pipeline(spark)
    p.add(Model(name="gold.x", fn=lambda s, o: s.range(1), deps=("silver.typo",)))
    with pytest.raises(ValueError, match="unregistered model"):
        p.run()


def test_warned_quality_step_skips_dependents(spark):
    def boom(s, o):
        raise RuntimeError("critical quality alerts")

    p = Pipeline(spark, quality_steps=("quality.claims",))
    p.add(Model(name="quality.claims", fn=boom))
    p.add(Model(name="gold.report", fn=lambda s, o: o["quality.claims"], deps=("quality.claims",)))
    report = p.run()
    by = {s.name: s.status for s in report.steps}
    assert by["quality.claims"] == "warned"
    assert by["gold.report"] == "skipped"  # not a KeyError crash
    assert report.success


def test_stateful_threshold_money_semantics(spark):
    # streaming and batch twins share the DECIMAL(18,2)/integer-cents
    # contract: sub-cent values quantize identically on both paths
    from datetime import datetime

    from etl_hiscox_spark.streaming.stateful import threshold_alert_stream

    rows = [(1, datetime(2024, 1, 1, 10, i % 60, i // 60), i, 0.004) for i in range(1000)]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, event_id long, value double")
    out = threshold_alert_stream(df, threshold=1.0).collect()
    assert out == []  # 0.004 rounds to 0.00 cents in the money contract


def test_minhash_rejects_indivisible_bands(spark):
    df = spark.createDataFrame([(1, "some text here")], "doc_id long, text string")
    with pytest.raises(ValueError, match="divisible"):
        minhash_candidates(df, "text", "doc_id", num_hashes=32, num_bands=6)


# -- round 3 (post-extension review) -----------------------------------------


def test_chunking_rejects_negative_overlap(spark):
    from etl_hiscox_spark.operators.chunking import chunk_documents

    df = spark.createDataFrame([("d", "a b c d e f g h i j")], ["doc_id", "text"])
    with pytest.raises(ValueError, match="overlap"):
        chunk_documents(df, "text", "doc_id", chunk_size=4, overlap=-2)
    with pytest.raises(ValueError, match="chunk_size"):
        chunk_documents(df, "text", "doc_id", chunk_size=0, overlap=0)


def test_mixture_sample_allows_zero_weight_empty_source(spark):
    from pyspark.sql import functions as F

    from etl_hiscox_spark.operators.sampling import mixture_sample

    web = spark.range(100).select(F.concat(F.lit("w"), F.col("id")).alias("doc_id"))
    empty = web.filter(F.lit(False))
    out = mixture_sample({"web": web, "code": empty}, {"web": 1.0, "code": 0.0}, key="doc_id")
    assert out.count() == 100  # zero-weight empty source contributes nothing
    # but a weighted empty source still fails loudly
    with pytest.raises(ValueError, match="empty"):
        mixture_sample({"web": web, "code": empty}, {"web": 0.7, "code": 0.3}, key="doc_id")


def test_jaccard_pairs_construction_runs_no_job(spark):
    # Constructing the DataFrame (e.g. for .explain()) must not trigger an
    # eager materialization of the shingle table.
    from etl_hiscox_spark.operators.dedup import jaccard_pairs

    docs = spark.createDataFrame(
        [(i, f"tok{i} alpha beta gamma delta") for i in range(50)], ["doc_id", "text"]
    )
    pairs = spark.createDataFrame([(1, 2), (3, 4)], ["id_a", "id_b"])
    tracker = spark.sparkContext.statusTracker()
    before = tracker.getJobIdsForGroup(None)
    df = jaccard_pairs(docs, pairs, "text", "doc_id")
    after = tracker.getJobIdsForGroup(None)
    assert before == after  # no Spark job at construction time
    assert df.count() == 2  # and it still evaluates correctly


def test_weighted_sample_nan_null_weights_drop(spark):
    from etl_hiscox_spark.operators.sampling import weighted_sample

    df = spark.range(100).select(
        F.concat(F.lit("d"), F.col("id")).alias("doc_id"),
        F.when(F.col("id") < 50, F.lit(float("nan"))).otherwise(F.lit(None)).alias("w"),
    )
    assert weighted_sample(df, "w", key="doc_id").count() == 0


def test_weighted_sample_null_key_errors(spark):
    from etl_hiscox_spark.operators.sampling import weighted_sample

    df = spark.createDataFrame([(None, 0.5), ("a", 0.5)], "doc_id string, w double")
    with pytest.raises(Exception, match="NULL doc_id"):
        weighted_sample(df, "w", key="doc_id").count()


def test_composed_samplers_draw_independently(spark):
    # mixture_sample then weighted_sample on the same key must approximate
    # p*q joint survival, not min(p, q) (the correlated-draw bug).
    from etl_hiscox_spark.operators.sampling import mixture_sample, weighted_sample

    n = 20000
    df = spark.range(n).select(F.concat(F.lit("d"), F.col("id")).alias("doc_id"))
    half = mixture_sample({"a": df, "b": df}, {"a": 0.5, "b": 0.5}, key="doc_id")
    kept = weighted_sample(half.withColumn("w", F.lit(0.5)), "w", key="doc_id")
    frac = kept.count() / half.count()
    assert abs(frac - 0.5) < 0.05  # min(p,q) correlation would give ~1.0


# --- round-8 review findings -----------------------------------------------


def test_jpeg_fill_byte_before_rst_decodes():
    """T.81 B.1.1.2: markers may be preceded by 0xFF fill bytes — a fill
    byte before RSTn must not terminate the scan (r8 finding 1)."""
    import numpy as np

    from etl_hiscox_spark.operators.jpeg import decode_jpeg, encode_jpeg

    y, x = np.mgrid[0:16, 0:32]
    img = ((y * 3 + x * 2) % 256).astype(np.uint8)
    enc = encode_jpeg(img, restart_interval=2)
    plain = decode_jpeg(enc)
    # inject a fill byte before the first RST marker
    for m in range(8):
        i = enc.find(bytes([0xFF, 0xD0 + m]))
        if i > 0:
            patched = enc[:i] + b"\xff" + enc[i:]
            assert np.array_equal(decode_jpeg(patched), plain)
            return
    pytest.fail("no RST marker found in restart-interval stream")


def test_image_features_quarantines_undecodable_rows(spark):
    """One corrupt/unsupported image must yield a NULL-featured row, not
    fail the task (r8 finding 2 — the audio-tier quarantine policy)."""
    import numpy as np

    from etl_hiscox_spark.operators.jpeg import encode_jpeg
    from etl_hiscox_spark.operators.multimodal import image_channel_stats, image_features

    good = encode_jpeg(np.full((8, 8), 100, dtype=np.uint8))
    progressive = b"\xff\xd8\xff\xc2" + bytes([0, 9, 8, 0, 16, 0, 16, 1, 1, 0x11, 0])
    truncated = good[: len(good) // 2]
    df = spark.createDataFrame(
        [("ok", bytearray(good)), ("prog", bytearray(progressive)),
         ("trunc", bytearray(truncated))],
        "path string, content binary",
    )
    feats = {r["path"]: r for r in image_features(df).collect()}
    assert feats["ok"]["mean_intensity"] is not None
    assert feats["prog"]["width"] is None and feats["trunc"]["width"] is None
    stats = {r["path"]: r for r in image_channel_stats(df).collect()}
    assert stats["ok"]["mean_r"] is not None and stats["prog"]["mean_r"] is None


def test_blocklist_rules_lowercased(spark):
    """Mixed-case blocklist entries must match lowercased hosts (r8
    finding 3)."""
    from etl_hiscox_spark.operators.quality_filters import domain_blocklist_tags

    bl = spark.createDataFrame([("Ads.COM",)], "rule string")
    df = spark.createDataFrame([(1, "https://x.ADS.com/")], "doc_id long, url string")
    out = domain_blocklist_tags(df, "url", "doc_id", bl).collect()
    assert out[0]["is_blocked"] is True
    assert out[0]["matched_rule"] == "ads.com"


def test_url_host_ipv6_bracketed(spark):
    """IPv6 authorities keep their brackets instead of truncating at the
    first colon (r8 finding 6)."""
    from etl_hiscox_spark.functions.text import url_host

    df = spark.createDataFrame(
        [("https://[::1]:8080/x",), ("https://[2001:db8::2]/y",)], "url string"
    )
    got = [r[0] for r in df.select(url_host("url")).collect()]
    assert got == ["[::1]", "[2001:db8::2]"]


def test_skew_profile_null_vs_literal_null_string(spark):
    """SQL NULL keys and the string 'NULL' must profile as DIFFERENT
    buckets (r8 finding 5)."""
    from etl_hiscox_spark.operators.diagnostics import key_skew_profile

    rows = [(None,)] * 3 + [("NULL",)] * 2 + [("x",)] * 1
    df = spark.createDataFrame(rows, "k string")
    out = key_skew_profile(df, "k", top_k=10).collect()
    assert [(r["key"], r["n_rows"]) for r in out] == [(None, 3), ("NULL", 2), ("x", 1)]


def test_jpeg_truncated_dri_sof_raise_value_error():
    """Corrupt segment lengths raise ValueError (the quarantine contract),
    never struct.error/IndexError (r8 finding 7)."""
    import struct as _s

    from etl_hiscox_spark.operators.jpeg import decode_jpeg

    def seg(marker, payload):
        return bytes([0xFF, marker]) + _s.pack(">H", len(payload) + 2) + payload

    with pytest.raises(ValueError, match="DRI"):
        decode_jpeg(b"\xff\xd8" + seg(0xDD, b"\x01"))
    with pytest.raises(ValueError, match="SOF"):
        decode_jpeg(b"\xff\xd8" + seg(0xC0, bytes([8, 0, 16])))
    with pytest.raises(ValueError, match="SOF"):
        decode_jpeg(b"\xff\xd8" + seg(0xC0, bytes([8, 0, 16, 0, 16, 3, 1, 0x11, 0])))


def test_image_dhash_locality_and_quarantine(spark):
    """dHash: identical images hash identically, a small edit moves few
    bits, unrelated images are far, and garbage quarantines to NULL."""
    import numpy as np

    from etl_hiscox_spark.operators.multimodal import encode_bmp, image_dhash
    from etl_hiscox_spark.operators.png import encode_png

    y, x = np.mgrid[0:32, 0:32]
    base = ((y * 5 + x * 3) % 256).astype(np.uint8)
    near = base.copy()
    near[0:2, 0:2] = 255  # tiny edit
    # genuinely unstructured content — another smooth gradient would share
    # most left>right comparisons with `base` by construction
    far = np.random.default_rng(5).integers(0, 256, size=(32, 32)).astype(np.uint8)
    rows = [
        ("a", bytearray(encode_png(base))),
        ("a2", bytearray(encode_png(base, filter_type=4))),  # same pixels, other filter
        ("n", bytearray(encode_png(near))),
        ("f", bytearray(encode_png(far))),
        ("rgb", bytearray(encode_bmp(np.stack([base] * 3, axis=-1)))),  # gray-as-RGB
        # recognized-but-corrupt: PNG signature, garbage body -> ValueError
        # -> NULL quarantine (unrecognized formats hit the deterministic
        # stub instead, by the decode_image dispatch contract)
        ("bad", bytearray(b"\x89PNG\r\n\x1a\n" + b"garbage")),
    ]
    df = spark.createDataFrame(rows, "path string, content binary")
    out = {r["path"]: r["dhash"] for r in image_dhash(df).collect()}

    def ham(p, q):
        return sum(c1 != c2 for c1, c2 in zip(out[p], out[q]))

    assert out["a"] == out["a2"]  # encoding filter must not affect the hash
    assert out["a"] == out["rgb"]  # channel-averaged RGB of gray == gray
    assert 0 < ham("a", "n") <= 8  # local edit -> few bits
    assert ham("a", "f") > 12  # unrelated -> far
    assert out["bad"] is None  # quarantine


def test_image_dhash_pairs_via_block_buckets(spark):
    """The simhash pigeonhole machinery pairs near dhashes without
    all-pairs: split the 64-bit string into 4 blocks; any pair within
    Hamming 3 shares a block."""
    import numpy as np
    from pyspark.sql import functions as F

    from etl_hiscox_spark.operators.multimodal import image_dhash
    from etl_hiscox_spark.operators.png import encode_png

    y, x = np.mgrid[0:16, 0:16]
    imgs = {}
    for v in range(4):  # four variants of one base image
        im = ((y * 7 + x * 3) % 256).astype(np.uint8).copy()
        im[v, v] = 250
        imgs[f"v{v}"] = im
    imgs["other"] = ((y * 13 + x * 17 + 9) % 256).astype(np.uint8)
    df = spark.createDataFrame(
        [(k, bytearray(encode_png(v))) for k, v in imgs.items()],
        "path string, content binary",
    )
    h = image_dhash(df)
    blocks = h.select(
        "path",
        F.explode(
            F.array(*[F.struct(F.lit(b).alias("blk"),
                               F.substring("dhash", 1 + 16 * b, 16).alias("bits"))
                      for b in range(4)])
        ).alias("bb"),
    ).select("path", "bb.blk", "bb.bits")
    a, b = blocks.alias("a"), blocks.alias("b")
    cand = (
        a.join(b, (F.col("a.blk") == F.col("b.blk"))
               & (F.col("a.bits") == F.col("b.bits"))
               & (F.col("a.path") < F.col("b.path")))
        .select(F.col("a.path").alias("pa"), F.col("b.path").alias("pb"))
        .distinct()
        .collect()
    )
    pairs = {(r["pa"], r["pb"]) for r in cand}
    assert ("v0", "v1") in pairs or ("v1", "v0") in pairs
    assert not any("other" in p for pair in pairs for p in pair)


def test_local_fs_path_normalizes_both_file_uri_forms():
    """ADVICE r11: Hadoop renders local URIs as single-slash 'file:/x'
    (Path.toString()); both that and the RFC 'file:///x' form must strip
    to the same os-level path."""
    from etl_hiscox_spark.sources.writers import _local_fs_path

    assert _local_fs_path("file:///tmp/idx") == "/tmp/idx"
    assert _local_fs_path("file:/tmp/idx") == "/tmp/idx"
    assert _local_fs_path("file://tmp/idx") == "/tmp/idx"
    assert _local_fs_path("/tmp/idx") == "/tmp/idx"
    assert _local_fs_path("s3a://bucket/idx") == "s3a://bucket/idx"


def test_meta_is_local_accepts_hadoop_single_slash_file_uri(spark):
    """ADVICE r11: 'file:/x' (no '://') must be recognized as driver-local
    even when it would otherwise fall through to the defaultFS check."""
    from etl_hiscox_spark.sources.listing import _meta_is_local

    assert _meta_is_local(spark, "file:/tmp/idx")
    assert _meta_is_local(spark, "file:///tmp/idx")
    assert not _meta_is_local(spark, "s3a://bucket/idx")
    assert not _meta_is_local(spark, "hdfs://nn:8020/warehouse/idx")
