"""Corpus quality filters for LLM training data — the published heuristic
families (C4's cleaning rules, Gopher's repetition/quality signals)
re-expressed as relational Spark plans.

Design rules:

- **Counts, not ratios.** Every signal is an exact integer count; threshold
  decisions are integer cross-multiplications (``3·n_words ≤ sum_len`` ⟺
  mean word length ≥ 3), so flags are bit-identical across engines — no
  float division anywhere.
- **Relational repetition.** Duplicate-n-gram stats reuse the shuffle-free
  shingle stem (`dedup._shingle_grams`) + one groupBy — per-doc state is
  (gram, count) pairs reduced map-side, never a per-row array sort.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from etl_hiscox_spark.functions.text import LANG_STOPWORDS, tokens
from etl_hiscox_spark.operators.dedup import _shingle_grams


def repetition_stats(
    df: DataFrame, text_col: str, id_col: str, ngram: int = 2
) -> DataFrame:
    """Per-doc n-gram repetition profile (Gopher §A1.1 family):
    (id, total_ngrams, distinct_ngrams, top_ngram_count).

    ``total - distinct`` over ``total`` is the duplicate-n-gram fraction;
    ``top_ngram_count / total`` is the top-n-gram share — returned as exact
    integers so callers (and the DuckDB oracle) threshold without float
    error. Plan: shuffle-free gram stem → groupBy(doc, gram) with map-side
    combine → groupBy(doc). Shuffle volume is |distinct grams|, not
    |tokens|.
    """
    grams = _shingle_grams(df, text_col, id_col, ngram)
    per_gram = grams.groupBy("doc", "shingle").agg(F.count(F.lit(1)).alias("__c"))
    return per_gram.groupBy("doc").agg(
        F.sum("__c").alias("total_ngrams"),
        F.count(F.lit(1)).alias("distinct_ngrams"),
        F.max("__c").alias("top_ngram_count"),
    ).withColumnRenamed("doc", id_col)


def gopher_flags(
    df: DataFrame,
    text_col: str,
    id_col: str,
    min_words: int = 10,
    max_words: int = 100_000,
    min_mean_word_len: int = 2,
    max_mean_word_len: int = 10,
    min_stopword_hits: int = 2,
    alpha_word_pct: int = 80,
) -> DataFrame:
    """Gopher-style per-document quality signals + keep decision.

    Integer signals: n_words, sum_word_len, n_alpha_words (contains ≥1
    letter), n_stop_hits (en stopword occurrences). Flags by integer
    cross-multiplication only:

    - ok_n_words:        min_words ≤ n_words ≤ max_words
    - ok_mean_word_len:  min·n ≤ sum_len ≤ max·n
    - ok_alpha_words:    100·n_alpha ≥ pct·n
    - ok_stopwords:      n_stop_hits ≥ min_stopword_hits
    - keep = all of the above
    """
    toks = tokens(F.col(text_col))
    stop = F.array(*[F.lit(w) for w in LANG_STOPWORDS["en"]])
    n_words = F.size(toks)
    sum_len = F.aggregate(toks, F.lit(0), lambda acc, t: acc + F.length(t))
    n_alpha = F.size(F.filter(toks, lambda t: t.rlike("[a-zA-Z]")))
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(stop, t)))
    base = df.select(
        F.col(id_col),
        n_words.alias("n_words"),
        sum_len.alias("sum_word_len"),
        n_alpha.alias("n_alpha_words"),
        n_stop.alias("n_stop_hits"),
    )
    ok_n = (F.col("n_words") >= min_words) & (F.col("n_words") <= max_words)
    ok_len = (
        F.col("sum_word_len") >= F.lit(min_mean_word_len) * F.col("n_words")
    ) & (F.col("sum_word_len") <= F.lit(max_mean_word_len) * F.col("n_words"))
    ok_alpha = F.lit(100) * F.col("n_alpha_words") >= F.lit(alpha_word_pct) * F.col("n_words")
    ok_stop = F.col("n_stop_hits") >= min_stopword_hits
    return base.select(
        "*",
        ok_n.alias("ok_n_words"),
        ok_len.alias("ok_mean_word_len"),
        ok_alpha.alias("ok_alpha_words"),
        ok_stop.alias("ok_stopwords"),
        (ok_n & ok_len & ok_alpha & ok_stop).alias("keep"),
    )


def domain_blocklist_tags(
    df: DataFrame,
    url_col: str,
    id_col: str,
    blocklist: DataFrame,
    rule_col: str = "rule",
) -> DataFrame:
    """Wildcard-domain blocklist tagging via SUFFIX EQUI-JOIN — the scale
    form of "block ads.example.com and every subdomain".

    A rule matches a host when it equals the host or any parent-domain
    suffix (``a.b.c`` is checked as ``a.b.c``, ``b.c``, ``c``). Each host
    explodes to its <= label-count suffixes in the scan stage, equi-joins
    the blocklist, and one tiny (id, host) aggregate picks MIN(rule) as
    the deterministic match witness. No ``LIKE '%suffix'`` scan (which
    can't use join machinery at all), no per-rule OR chain.

    Output: (id, host, is_blocked, matched_rule) — one row per DISTINCT
    (id, host) pair (duplicate input rows collapse; join the result back
    on both columns to preserve input multiplicity). Non-blocked rows
    carry NULL matched_rule. Rules are lowercased to mirror the host
    normalization — mixed-case blocklist entries must still match.

    At 100 TB: blocklists are curated bounded sets (10^5-10^6 rows — the
    eval-set broadcast class, hinted), the suffix explode multiplies the
    corpus by ~4 fixed-width short strings inside the scan, and the only
    shuffle is the (id, host) reduce. AQE handles the 'com'-suffix skew
    the same way it handles every heavy-hitter join key.
    """
    sfx = _host_suffixes(df, url_col, id_col)
    tagged = sfx.join(
        F.broadcast(blocklist.select(F.lower(F.col(rule_col)).alias("_rule"))),
        sfx["_s"] == F.col("_rule"),
        "left",
    )
    return (
        tagged.groupBy(id_col, "host")
        .agg(F.min("_rule").alias("matched_rule"))
        .select(
            id_col,
            "host",
            F.col("matched_rule").isNotNull().alias("is_blocked"),
            "matched_rule",
        )
    )


def _host_suffixes(df: DataFrame, url_col: str, id_col: str) -> DataFrame:
    """(id, host, _s) — one row per parent-domain suffix of each URL's
    host; the shared stem of the tagging and gating forms. Rides the scan
    stage (explode of <= label-count short strings), zero shuffles."""
    from etl_hiscox_spark.functions.text import url_host

    base = df.select(
        F.col(id_col), url_host(F.col(url_col)).alias("host")
    ).select(id_col, "host", F.split(F.col("host"), r"\.").alias("_p"))
    n = F.size("_p")
    return base.select(
        id_col,
        "host",
        "_p",
        F.explode(F.sequence(F.lit(1), n)).alias("_i"),
    ).select(
        id_col,
        "host",
        F.array_join(
            F.slice(F.col("_p"), F.col("_i"), F.size("_p") - F.col("_i") + F.lit(1)),
            ".",
        ).alias("_s"),
    )


def blocked_ids(
    df: DataFrame,
    url_col: str,
    id_col: str,
    blocklist: DataFrame,
    rule_col: str = "rule",
) -> DataFrame:
    """Just the ids whose host matches any blocklist rule — the GATING
    form. Unlike :func:`domain_blocklist_tags` (the per-row diagnostic
    report, which pays a corpus-wide (id, host) reduce for its MIN-rule
    witness), this inner-joins the suffix stem against the broadcast
    rules and distincts only the MATCHED rows — at 100 TB that is a
    reduce over the blocked minority, not the whole corpus (r8 review).
    Feed it to a left-anti join, as ``plans.llm_pipeline`` does."""
    sfx = _host_suffixes(df, url_col, id_col)
    return (
        sfx.join(
            F.broadcast(blocklist.select(F.lower(F.col(rule_col)).alias("_rule"))),
            sfx["_s"] == F.col("_rule"),
        )
        .select(id_col)
        .distinct()
    )
