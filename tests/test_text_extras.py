"""PII scrubbing, connected-component near-dedup, language ID on real
phrases (the stopword heuristic on genuinely multilingual text)."""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_hiscox_spark.functions.text import detect_language, pii_counts, scrub_pii
from etl_hiscox_spark.operators.dedup import connected_components, near_dedup_clusters


def test_scrub_pii_masks_all_kinds(spark):
    text = (
        "contact john.doe@example.com or +1 555-123-4567, "
        "server at 192.168.0.1, ssn 123-45-6789"
    )
    df = spark.createDataFrame([(text,)], ["t"])
    out = df.select(scrub_pii("t").alias("s"), *pii_counts("t")).first()
    assert "example.com" not in out["s"]
    assert "192.168.0.1" not in out["s"]
    assert "123-45-6789" not in out["s"]
    assert out["s"].count("<PII>") >= 4
    assert out["n_email"] == 1 and out["n_ipv4"] == 1 and out["n_ssn"] == 1


def test_scrub_pii_leaves_clean_text(spark):
    df = spark.createDataFrame([("just a normal sentence with words",)], ["t"])
    assert df.select(scrub_pii("t").alias("s")).first()["s"] == (
        "just a normal sentence with words"
    )


def test_connected_components_chain_and_islands(spark):
    # chain 1-2-3, island pair 10-11, singleton edges absent
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "id_a long, id_b long"
    )
    comp = {r["node"]: r["component"] for r in connected_components(pairs).collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


def test_near_dedup_clusters_transitive(spark):
    base = (
        "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu "
        "nu xi omicron pi rho sigma tau upsilon phi chi psi omega one two three"
    )
    rows = [
        (0, base),
        (1, base.replace("omega", "ultima")),          # ~0
        (2, base.replace("alpha", "first")),           # ~0 (and ~1 transitively)
        (3, "totally different text about spark sql catalyst optimizer rules "
            "and adaptive query execution with shuffle partition coalescing"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = near_dedup_clusters(df, "text", "doc_id", threshold=0.5, num_bands=16)
    kept = sorted(r["doc_id"] for r in out.collect())
    assert kept == [0, 3]  # one keeper per transitive cluster + the island


def test_detect_language_real_phrases(spark):
    rows = [
        ("the cat is in the house and it is warm", "en"),
        ("el gato está en la casa y es de madrid", "es"),
        ("le chat est dans la maison et les oiseaux", "fr"),
        ("die katze ist in dem haus und das ist gut", "de"),
        ("这 是 一个 测试 的 句子 和 他 的 朋友", "zh"),
        ("zzz qqq xxx", "und"),
    ]
    df = spark.createDataFrame(rows, "t string, expected string")
    out = df.select("expected", detect_language("t").alias("got")).collect()
    for r in out:
        assert r["got"] == r["expected"], r


def test_rolling_fingerprint_portable_and_normalized(spark):
    # The portable fingerprint: engine-reproducible (hand-fold the same
    # modular arithmetic in python), invariant under the normalize_text
    # canonicalization, 0 for empty, NULL for NULL.
    from etl_hiscox_spark.functions.text import (
        ROLLING_BASES,
        ROLLING_MODS,
        rolling_fingerprint64,
    )

    def py_fp(text):
        t = " ".join(text.lower().strip().split())
        hs = []
        for base, mod in zip(ROLLING_BASES, ROLLING_MODS):
            acc = 0
            for ch in t:
                acc = (acc * base + ord(ch)) % mod
            hs.append(acc)
        return hs[0] * 1000000007 + hs[1]

    rows = [(1, "Hello  World"), (2, "hello world"), (3, ""), (4, None), (5, "spark")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: r["fp"]
        for r in df.select("doc_id", rolling_fingerprint64("text").alias("fp")).collect()
    }
    assert got[1] == got[2] == py_fp("Hello  World")  # normalization collapses
    assert got[3] == 0 and got[4] is None
    assert got[5] == py_fp("spark") != got[1]


def test_rolling_fingerprint_no_corpus_collisions(spark, sf_dir):
    from pyspark.sql import functions as F

    from etl_hiscox_spark.functions.text import normalize_text, rolling_fingerprint64

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    n_texts = docs.select(normalize_text("text").alias("t")).distinct().count()
    n_fps = docs.select(rolling_fingerprint64("text").alias("fp")).distinct().count()
    assert n_fps == n_texts


def test_rolling_fingerprint_hypothesis_parity_with_python_fold(spark):
    # Randomized parity: the Spark fold equals the pure-python fold for
    # arbitrary text including BMP and astral codepoints (Spark 4's
    # split('') and ascii() are codepoint-aware, matching DuckDB's
    # string_split/unicode — probed explicitly for U+1F600).
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from etl_hiscox_spark.functions.text import (
        ROLLING_BASES,
        ROLLING_MODS,
        rolling_fingerprint64,
    )
    from pyspark.sql import functions as F

    def py_fp(text):
        t = " ".join(text.lower().strip().split())
        hs = []
        for base, mod in zip(ROLLING_BASES, ROLLING_MODS):
            acc = 0
            for ch in t:
                acc = (acc * base + ord(ch)) % mod
            hs.append(acc)
        return hs[0] * 1000000007 + hs[1]

    # Alphabet excludes whitespace/control/cased-uppercase categories:
    # those exercise normalize_text's engine-specific edges (Java/RE2 \s
    # is ASCII-only while Python's is Unicode; exotic case mappings
    # differ), not the fold under test. ASCII space is added back
    # explicitly so multi-token collapsing is still covered.
    texts = st.lists(
        st.text(
            alphabet=st.one_of(
                st.just(" "),
                st.characters(
                    codec="utf-8",
                    exclude_categories=("Cs", "Cc", "Cf", "Zs", "Zl", "Zp", "Lu", "Lt"),
                    max_codepoint=0x1FFFF,
                ),
            ),
            max_size=40,
        ),
        min_size=1,
        max_size=8,
    )

    @settings(max_examples=10, deadline=None)
    @given(texts)
    def check(batch):
        rows = [(i, t) for i, t in enumerate(batch)]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = {
            r["doc_id"]: r["fp"]
            for r in df.select("doc_id", rolling_fingerprint64("text").alias("fp")).collect()
        }
        for i, t in rows:
            assert got[i] == py_fp(t), repr(t)

    check()
