"""Tests for corpus quality filters: repetition stats and Gopher flags."""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_hiscox_spark.operators.quality_filters import gopher_flags, repetition_stats


def test_repetition_stats_flags_looping_text(spark):
    rows = [
        ("loop", "the cat sat " * 20),          # one bigram dominates
        ("fresh", " ".join(f"w{i}" for i in range(40))),  # all bigrams unique
        ("single", "hello"),                     # shorter than the n-gram
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r.doc_id: r for r in repetition_stats(df, "text", "doc_id", ngram=2).collect()}
    loop = out["loop"]
    assert loop.top_ngram_count > loop.total_ngrams // 3  # dominated by repeats
    assert loop.distinct_ngrams <= 3
    fresh = out["fresh"]
    assert fresh.distinct_ngrams == fresh.total_ngrams == 39
    assert fresh.top_ngram_count == 1
    assert out["single"].total_ngrams == 1  # whole-text fallback gram


def test_gopher_flags_each_gate(spark):
    good = "the quick brown fox jumps over the lazy dog and then it runs away home"
    rows = [
        ("good", good),
        ("short", "too few words here"),                       # fails n_words
        ("symbols", " ".join(["$$$"] * 30)),                   # fails alpha + stopwords
        ("longwords", " ".join(["pneumonoultramicroscopics"] * 30)),  # fails mean len
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r.doc_id: r for r in gopher_flags(df, "text", "doc_id").collect()}
    assert out["good"].keep
    assert not out["short"].ok_n_words and not out["short"].keep
    assert not out["symbols"].ok_alpha_words and not out["symbols"].ok_stopwords
    assert not out["longwords"].ok_mean_word_len
    # signals are exact integers
    g = out["good"]
    assert g.n_words == len(good.split())
    assert g.sum_word_len == sum(len(w) for w in good.split())


def test_gopher_flags_keep_is_conjunction(spark):
    df = spark.createDataFrame(
        [("d", "the cat and the dog sat on the warm mat together all day long")],
        ["doc_id", "text"],
    )
    r = gopher_flags(df, "text", "doc_id").first()
    assert r.keep == (
        r.ok_n_words and r.ok_mean_word_len and r.ok_alpha_words and r.ok_stopwords
    )


def test_url_host_extraction_edges(spark):
    from etl_hiscox_spark.functions.text import url_host

    cases = [
        ("https://A.B.com/x?y#z", "a.b.com"),
        ("http://user:pw@Host.Net:8080/p", "host.net"),
        ("ftp://files.example.org", "files.example.org"),
        ("https://example.com?q=1", "example.com"),
        ("not a url", ""),
        ("", ""),
    ]
    df = spark.createDataFrame([(u,) for u, _ in cases], "url string")
    got = [r[0] for r in df.select(url_host("url")).collect()]
    assert got == [h for _, h in cases]


def test_domain_blocklist_suffix_semantics(spark):
    from etl_hiscox_spark.operators.quality_filters import domain_blocklist_tags

    rows = [
        (1, "https://x.ads.com/a"),      # parent-suffix match: ads.com
        (2, "https://ads.com/b"),        # exact match
        (3, "https://badads.com/c"),     # NOT a match: label boundary
        (4, "https://deep.x.ads.com/d"), # multi-level subdomain
        (5, "https://clean.org/e"),      # no match
        (6, "https://u@spam.net:99/f"),  # userinfo+port stripped, exact
    ]
    bl = spark.createDataFrame([("ads.com",), ("spam.net",)], "rule string")
    df = spark.createDataFrame(rows, "doc_id long, url string")
    out = {r["doc_id"]: r for r in domain_blocklist_tags(df, "url", "doc_id", bl).collect()}
    assert len(out) == 6
    assert [out[i]["is_blocked"] for i in (1, 2, 3, 4, 5, 6)] == [
        True, True, False, True, False, True
    ]
    assert out[1]["matched_rule"] == "ads.com"
    assert out[3]["matched_rule"] is None
    assert out[6]["host"] == "spam.net"


def test_domain_blocklist_deterministic_witness(spark):
    from etl_hiscox_spark.operators.quality_filters import domain_blocklist_tags

    # host matches BOTH rules -> witness is the MIN rule, stable across runs
    bl = spark.createDataFrame([("b.ads.com",), ("ads.com",)], "rule string")
    df = spark.createDataFrame([(1, "https://a.b.ads.com/")], "doc_id long, url string")
    out = domain_blocklist_tags(df, "url", "doc_id", bl).collect()
    assert out[0]["matched_rule"] == "ads.com"


def test_blocked_ids_matches_tag_form(spark):
    """The gating form (no corpus-wide reduce) must select exactly the ids
    the diagnostic tag form marks blocked."""
    from etl_hiscox_spark.operators.quality_filters import blocked_ids, domain_blocklist_tags

    rows = [
        (1, "https://x.ads.com/a"),
        (2, "https://clean.org/b"),
        (3, "https://u@spam.net:99/c"),
        (4, "https://badads.com/d"),
    ]
    bl = spark.createDataFrame([("ads.com",), ("spam.net",)], "rule string")
    df = spark.createDataFrame(rows, "doc_id long, url string")
    via_ids = {r["doc_id"] for r in blocked_ids(df, "url", "doc_id", bl).collect()}
    via_tags = {
        r["doc_id"]
        for r in domain_blocklist_tags(df, "url", "doc_id", bl).collect()
        if r["is_blocked"]
    }
    assert via_ids == via_tags == {1, 3}
