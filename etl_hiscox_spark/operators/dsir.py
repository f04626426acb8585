"""DSIR-style importance weighting — hashed-feature data selection.

Data Selection via Importance Resampling (Xie et al., 2023, public
NeurIPS paper): score each raw-corpus document by how much more likely
its hashed token features are under a TARGET distribution (the curated
corpus you wish you had more of) than under the RAW distribution, then
sample/keep by that importance weight. The published method uses hashed
n-gram counts into a fixed number of buckets with a bag-of-words
generative model on each side — which is exactly a pair of bucket
histograms and a per-doc sum of log-ratios, i.e. fully relational.

(Reference repo has no equivalent — EXT training-data tier per
SURVEY.md §2.11; the operator exists because a 100 TB pretraining
pipeline selects web data toward a quality target this way.)

Plan at 100 TB: token explode is the zero-shuffle scan stem; each
histogram is one map-side-combined groupBy over a FIXED bucket count
(n_buckets rows — a few KB, genuinely fixed-cardinality regardless of
corpus size, so the broadcast back onto the token stream is always
safe, unlike a raw vocab table); the per-doc reduce is one shuffle on
doc. Smoothing keeps unseen buckets finite on both sides.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from etl_hiscox_spark.functions.text import tokens


def hashed_bucket(token: Column, n_buckets: int) -> Column:
    """Engine-portable token bucket: first 8 sha256 hex chars -> int mod
    n_buckets (DuckDB twin is
    ``CAST(('0x' || substr(sha256(w), 1, 8)) AS BIGINT) % n``)."""
    return F.conv(F.substring(F.sha2(token, 256), 1, 8), 16, 10).cast("long") % n_buckets


def bucket_histogram(
    df: DataFrame, text_col: str, n_buckets: int, alpha: float = 1.0
) -> DataFrame:
    """(bucket, ln_p): add-alpha-smoothed log-probability of each hashed
    token bucket. Exactly ``n_buckets`` rows — missing buckets get the
    smoothing floor via a dense bucket spine, so the downstream join
    never drops a token."""
    occ = df.select(F.explode(tokens(text_col)).alias("w")).select(
        hashed_bucket(F.col("w"), n_buckets).alias("bucket")
    )
    counts = occ.groupBy("bucket").agg(F.count(F.lit(1)).alias("c"))
    total = occ.agg(F.count(F.lit(1)).cast("double").alias("__T"))
    spine = df.sparkSession.range(n_buckets).select(F.col("id").alias("bucket"))
    return (
        spine.join(counts, "bucket", "left")
        .crossJoin(F.broadcast(total))
        .select(
            "bucket",
            F.log(
                (F.coalesce(F.col("c"), F.lit(0)) + F.lit(float(alpha)))
                / (F.col("__T") + F.lit(float(alpha)) * F.lit(float(n_buckets)))
            ).alias("ln_p"),
        )
    )


def importance_weights(
    raw: DataFrame,
    target: DataFrame,
    text_col: str,
    id_col: str,
    n_buckets: int = 64,
    alpha: float = 1.0,
) -> DataFrame:
    """(id, n_tokens, log_weight): per-document DSIR importance score —
    sum over tokens of ln p_target(bucket) − ln p_raw(bucket). Positive
    means the document looks more like the target corpus than the raw
    corpus; select by thresholding or by Gumbel-top-k on the weight.

    Zero-token documents are emitted with log_weight 0 (no evidence —
    neutral), never dropped: silently losing them would skew any
    downstream budget math.

    The two bucket tables are ``n_buckets`` rows each — fixed by the
    CALLER's constant, not by the data — so the join back onto the token
    stream broadcasts unconditionally (this is the legitimate
    fixed-cardinality case of the broadcast-hint policy; contrast the
    unbounded idf table in operators/tfidf.py).
    """
    ratios = (
        bucket_histogram(target, text_col, n_buckets, alpha)
        .withColumnRenamed("ln_p", "ln_pt")
        .join(
            bucket_histogram(raw, text_col, n_buckets, alpha).withColumnRenamed(
                "ln_p", "ln_ps"
            ),
            "bucket",
        )
        .select("bucket", (F.col("ln_pt") - F.col("ln_ps")).alias("ln_ratio"))
    )
    # explode_outer keeps NULL-text docs as a single NULL-token row, so
    # ONE per-doc aggregate covers every document — no second corpus-wide
    # join back to the source to resurrect zero-token docs (that join
    # would be a full extra shuffle of the corpus keyed by id at 100 TB).
    base = raw.select(F.col(id_col).alias("__id"), tokens(text_col).alias("__t"))
    occ = base.select("__id", F.explode_outer("__t").alias("w")).select(
        "__id",
        F.when(F.col("w").isNotNull(), hashed_bucket(F.col("w"), n_buckets)).alias(
            "bucket"
        ),
    )
    return (
        occ.join(F.broadcast(ratios), "bucket", "left")
        .groupBy("__id")
        .agg(
            F.count("bucket").alias("n_tokens"),
            F.coalesce(F.sum("ln_ratio"), F.lit(0.0)).alias("log_weight"),
        )
        .select(
            F.col("__id").alias(id_col),
            "n_tokens",
            "log_weight",
        )
    )
