"""LLM-data-pipeline queries (SURVEY.md §2.11): dedup, similarity search,
text analysis, JSON extraction — over documents/embeddings/events.

Oracle notes: Spark and DuckDB lambda/list function dialects differ but both
can express every deterministic operator here; xxhash64-based operators
(minhash/simhash/fingerprint) have no DuckDB twin and are declared
rows-only (the driver records the weaker check; exact semantics are locked
by unit tests instead).
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_hiscox_spark.functions.text import (
    LANG_STOPWORDS,
    content_hash,
    detect_language,
    fingerprint64,
    normalize_text,
    rolling_fingerprint64,
    quality_score,
    tokens,
)
from etl_hiscox_spark.operators.dedup import (
    _LSH,
    exact_dedup,
    jaccard_pairs,
    near_dedup_minhash,
    simhash_candidates,
)
from etl_hiscox_spark.concurrency import run_overlapped
from etl_hiscox_spark.operators.caching import adopt_caches
from etl_hiscox_spark.operators.segindex import live_rows
from etl_hiscox_spark.operators.similarity import _IVF, cosine_topk
from etl_hiscox_spark.queries import QUERIES, register
from etl_hiscox_spark.registry import load_table
from etl_hiscox_spark.smalldf import local_rows_df


def _probe_pairs(out: DataFrame) -> DataFrame:
    """Declared output of the index-probe queries: ``probe_minhash_index``
    pairs with jaccard rounded, carrying the probe's persisted candidate
    and set frames so ``release_caches`` on the result frees them."""
    return adopt_caches(
        out.select("new_id", "dup_of", F.round("jaccard", 6).alias("jaccard")), out
    )


def _raw_token_count() -> Column:
    """Single-space token count of the raw ``text`` column — the corpus
    size proxy shared by the sampling/packing queries (documents are
    single-spaced, so no whitespace normalization is needed)."""
    return F.size(F.split(F.col("text"), " "))


# ---------------------------------------------------------------------------
# L1: exact dedup
# ---------------------------------------------------------------------------


@register(
    "l1_exact_dedup",
    oracle=r"""
    SELECT doc_id, lang, source, n_chars FROM (
      SELECT doc_id, lang, source, n_chars,
             ROW_NUMBER() OVER (
               PARTITION BY regexp_replace(lower(trim(text)), '\s+', ' ', 'g')
               ORDER BY doc_id ASC) AS rn
      FROM documents
    ) WHERE rn = 1
    """,
)
def l1_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # L1: hash-groupBy exact dedup, deterministic keeper = min doc_id.
    docs = load_table(spark, "documents", sf_dir)
    return exact_dedup(docs, "text", "doc_id").select("doc_id", "lang", "source", "n_chars")


@register(
    "l2_minhash_near_dup",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id, string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS t
      FROM documents
    ), sh AS (
      SELECT doc_id,
             CASE WHEN len(t) >= 3
                  THEN list_distinct(list_transform(range(1, len(t) - 1),
                                                    i -> array_to_string(t[i:i+2], ' ')))
                  ELSE [array_to_string(t, ' ')] END AS s
      FROM toks
    ), grams AS (SELECT doc_id, UNNEST(s) AS g FROM sh),
    n AS (SELECT doc_id, COUNT(*) AS n FROM grams GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS ia, b.doc_id AS ib, COUNT(*) AS i
      FROM grams a JOIN grams b ON a.g = b.g AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    ),
    dropped AS (
      SELECT DISTINCT ib FROM inter
      JOIN n na ON ia = na.doc_id JOIN n nb ON ib = nb.doc_id
      WHERE 5 * i >= 4 * (na.n + nb.n - i)
    )
    SELECT doc_id, lang, source FROM documents
    WHERE doc_id NOT IN (SELECT ib FROM dropped)
    """,
)
def l2_minhash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r5 upgrade from rows-only: the DuckDB twin BRUTE-FORCES exact
    # 3-gram Jaccard over all pairs and drops the higher id of every
    # J>=0.8 pair — the SEMANTIC the banded pipeline approximates. At the
    # driver's scale the 24/6 banding provably catches every J>=0.8 pair
    # (verified survivors == brute force at sf0.001 AND sf0.01, and both
    # sides are fully deterministic), so this is a hard equality oracle —
    # and a recall-regression tripwire: any future banding change that
    # loses a true pair goes driver-red instead of silently shipping.
    # (Float i/u >= 0.8 and integer 5i >= 4u agree for all corpus-scale
    # denominators; the oracle uses the integer form.)
    # L2: MinHash(24)+LSH(6 bands) candidates -> exact Jaccard>=0.8 verify
    # -> survivors. Band width stays 4 (same per-band selectivity as 32/8);
    # LSH recall at the J=0.8 threshold is 1-(1-0.8^4)^6 ≈ 0.96 vs 0.985
    # for 32/8 and 0.88 for 16/4 — the r3 16/4 config was an undocumented
    # recall drop (ADVICE r3); 24/6 restores most of it at the same
    # measured runtime (the shingle-hash stage dominates; signature width
    # is a minor term — profiled at sf0.1: 16/4 1.78s, 24/6 1.84s, 32/8
    # 2.20s e2e). Pinned by test_minhash_24_6_recall_on_planted_dups.
    # Precision is unaffected (exact-Jaccard verify gates every candidate).
    docs = load_table(spark, "documents", sf_dir)
    return near_dedup_minhash(
        docs, "text", "doc_id", threshold=0.8, num_hashes=24, num_bands=6
    ).select("doc_id", "lang", "source")


# ---------------------------------------------------------------------------
# Shared oracle fragments for the exact n-gram pair graph. FOUR oracles
# (l2_incremental_probe, l2_transitive_clusters, t32_cluster_keep_best,
# t33_leakage_safe_split) and the banding-recall pin test replay the same
# shingle -> exact-Jaccard -> (closure) pipeline; the canonical fragments
# below plus the import-time tripwire at the bottom of this module keep a
# future change to the shingle rule or the 5i >= 4(n_a+n_b-i) threshold
# from silently diverging one copy from the others (r9 review).
# ---------------------------------------------------------------------------

_ORACLE_SHINGLE_N_CTE = r"""toks AS (
      SELECT doc_id, string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS t
      FROM documents
    ), sh AS (
      SELECT doc_id,
             CASE WHEN len(t) >= 3
                  THEN list_distinct(list_transform(range(1, len(t) - 1),
                                                    i -> array_to_string(t[i:i+2], ' ')))
                  ELSE [array_to_string(t, ' ')] END AS s
      FROM toks
    ), grams AS (SELECT doc_id, UNNEST(s) AS g FROM sh),
    n AS (SELECT doc_id, COUNT(*) AS n FROM grams GROUP BY doc_id)"""

# Keeper-policy fragment shared by t32 (cluster report) and t35 (survivor
# frame): per-component quality ranking — q DESC, node ASC argmax. One copy,
# tripwire-checked, so the survivorship rule cannot silently diverge
# between the report and the selection (r10 review).
_ORACLE_KEEP_BEST_MEMB_RANK_CTE = r"""memb AS (
      SELECT c.component, c.node, CAST(length(d.text) AS BIGINT) AS q
      FROM comp c JOIN documents d ON d.doc_id = c.node
    ),
    ranked AS (
      SELECT component, node, q,
             ROW_NUMBER() OVER (PARTITION BY component ORDER BY q DESC, node) AS rn,
             COUNT(*) OVER (PARTITION BY component) AS n_members
      FROM memb
    )"""

_ORACLE_PAIR_CLOSURE_CTE = r"""inter AS (
      SELECT a.doc_id AS ia, b.doc_id AS ib, COUNT(*) AS i
      FROM grams a JOIN grams b ON a.g = b.g AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    ),
    pairs AS (
      SELECT ia, ib FROM inter
      JOIN n na ON ia = na.doc_id JOIN n nb ON ib = nb.doc_id
      WHERE 5 * i >= 4 * (na.n + nb.n - i)
    ),
    edges AS (SELECT ia AS src, ib AS dst FROM pairs UNION SELECT ib, ia FROM pairs),
    closure AS (
      SELECT src AS node, src AS reach FROM edges
      UNION
      SELECT c.node, e.dst FROM closure c JOIN edges e ON c.reach = e.src
    ),
    comp AS (SELECT node, MIN(reach) AS component FROM closure GROUP BY node)"""


def _cross_batch_oracle(erased: str = "") -> str:
    """The brute-force cross-batch oracle of the LSH probe queries: every
    (new odd doc, history even doc) pair with exact 3-gram Jaccard >= 0.8.
    ``erased``, when given, is the predicate on ``b.doc_id`` that excludes
    the history docs the query erased from the index before probing."""
    keep = f" AND {erased}" if erased else ""
    return (
        "\n    WITH "
        + _ORACLE_SHINGLE_N_CTE
        + f""",
    inter AS (
      SELECT a.doc_id AS new_id, b.doc_id AS dup_of, COUNT(*) AS i
      FROM grams a JOIN grams b ON a.g = b.g
      WHERE a.doc_id % 2 = 1 AND b.doc_id % 2 = 0{keep}
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT new_id, dup_of,
           ROUND(i / CAST(na.n + nb.n - i AS DOUBLE), 6) AS jaccard
    FROM inter
    JOIN n na ON new_id = na.doc_id JOIN n nb ON dup_of = nb.doc_id
    WHERE 5 * i >= 4 * (na.n + nb.n - i)
    """
    )


@register(
    "l2_incremental_probe",
    # Composed from the canonical shingle fragment — see l2_transitive_clusters.
    oracle=_cross_batch_oracle(),
)
def l2_incremental_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Incremental ingestion dedup: the "historical" half of the corpus
    # (even doc_ids) is persisted as a banded LSH index
    # (operators/dedup.write_minhash_index — banding parameters travel in
    # the index meta, never with the caller), then the "new batch" (odd
    # doc_ids) probes it WITHOUT re-shingling the history and every
    # candidate is confirmed by exact cross-batch Jaccard >= 0.8. The
    # DuckDB twin brute-forces exact 3-gram Jaccard over all new x old
    # pairs — the same hard-equality recall tripwire as
    # l2_minhash_near_dup, applied to the index round-trip: a banding
    # drift between write and probe, a bucket-table corruption, or a
    # missed true pair goes driver-red. (Float j >= 0.8 and integer
    # 5i >= 4u agree exactly — 4/5 rounds to the same double on both
    # sides.)
    import os as _os

    from etl_hiscox_spark.operators.dedup import (
        probe_minhash_index,
        write_minhash_index,
    )
    from etl_hiscox_spark.queries.writes import _scratch

    docs = load_table(spark, "documents", sf_dir)
    path = _os.path.join(_scratch("l2_incr_index", sf_dir), "minhash_index")
    old = docs.filter(F.col("doc_id") % 2 == 0)
    new = docs.filter(F.col("doc_id") % 2 == 1)
    write_minhash_index(old, "text", "doc_id", path, num_hashes=24, num_bands=6)
    out = probe_minhash_index(
        new, "text", "doc_id", path, verify_df=docs, threshold=0.8
    )
    return _probe_pairs(out)


def _parquet_content_checksum(
    spark: SparkSession, root: str, kind, exclude_col: str | None = None
) -> tuple:
    """(row count, exact decimal sum of xxhash64 over every column) of the
    live rows of an index root of ``kind`` (``dedup._LSH`` or
    ``similarity._IVF``; :func:`segindex.live_rows`), in ONE action over
    the segment union — count and the hash-sum are distributive, so
    the union checksum equals the summed per-segment checksums. It is the
    content-equality invariant the index-maintenance queries raise on.
    decimal(38,0): a long sum of ~2^63-scale hashes overflows under ANSI
    mode; decimal is exact at any corpus size. ``exclude_col`` drops one
    column from the hash — the rebuild invariant, where row payloads must
    survive byte-for-byte while the ``__cluster`` label (the thing a
    rebuild exists to change) is left out."""
    d = live_rows(spark, root, kind)
    cols = sorted(c for c in d.columns if c != exclude_col)
    row = d.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(*[F.col(c) for c in cols]).cast("decimal(38,0)")).alias("h"),
    ).first()
    return (row["n"], row["h"] or 0)


def _qvec_and(emb: DataFrame, first_op):
    """(query vector, op result): the pinned query-vector fetch is a
    BASE-TABLE read, independent of the first index-store op every IVF
    lifecycle query runs right after it — overlap the two actions (r17,
    guide §2.6) instead of paying their latencies back-to-back."""
    return run_overlapped(
        [
            lambda: [
                float(x)
                for x in emb.filter(F.col("vec_id") == 0)
                .select("embedding")
                .first()[0]
            ],
            first_op,
        ]
    )


def _live_file_count(spark: SparkSession, root: str, kind) -> int:
    """Data-file count over the live segments of an index root of
    ``kind`` (the IVF ``_centroids`` commit record is not data)."""
    import os as _os

    from etl_hiscox_spark.sources.genlog import live_index_paths

    return sum(
        1
        for p in live_index_paths(spark, root)
        for d, _, files in _os.walk(kind.data(p))
        for f in files
        if f.endswith(".parquet") and _os.sep + "_centroids" not in d
    )


@register(
    "l2_lsh_compact_probe",
    # Same brute-force cross-batch oracle as l2_incremental_probe — the
    # probe's declared output must be unchanged by index maintenance.
    oracle=_cross_batch_oracle(),
)
def l2_lsh_compact_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    # LSH index MAINTENANCE lifecycle (VERDICT r9 item 3): the historical
    # half is ingested in TWO batches (initial write + one append — each
    # append adds a delta segment with its own bucket files), then
    # COMPACTED (operators/dedup.compact_minhash_index: the segments merge
    # into one, range-partitioned + sorted on the (band, bucket) probe
    # key, committed by one pointer flip) before
    # the odd-id batch probes it. Loud invariants before the oracle sees
    # the probe: bucket-table content checksum identical across the
    # rewrite, file count strictly reduced. The declared output is then
    # l2_incremental_probe's exact cross-batch Jaccard contract — proof
    # the probe is byte-equivalent on the compacted index.
    import os as _os

    from etl_hiscox_spark.operators.dedup import (
        compact_minhash_index,
        probe_minhash_index,
        write_minhash_index,
    )
    from etl_hiscox_spark.queries.writes import _scratch

    docs = load_table(spark, "documents", sf_dir)
    path = _os.path.join(_scratch("l2_lsh_compact", sf_dir), "minhash_index")
    new = docs.filter(F.col("doc_id") % 2 == 1)
    write_minhash_index(
        docs.filter(F.col("doc_id") % 4 == 0), "text", "doc_id", path,
        num_hashes=24, num_bands=6,
    )
    write_minhash_index(
        docs.filter(F.col("doc_id") % 4 == 2), "text", "doc_id", path,
        num_hashes=24, num_bands=6, mode="append",
    )
    sig_before = _parquet_content_checksum(spark, path, _LSH)
    files_before = _live_file_count(spark, path, _LSH)
    compact_minhash_index(spark, path)
    sig_after = _parquet_content_checksum(spark, path, _LSH)
    files_after = _live_file_count(spark, path, _LSH)
    if sig_after != sig_before:
        raise ValueError(
            f"compact_minhash_index changed bucket content: {sig_before} -> {sig_after}"
        )
    if files_after >= files_before:
        raise ValueError(
            f"compact_minhash_index did not defragment: {files_before} -> {files_after} files"
        )
    out = probe_minhash_index(
        new, "text", "doc_id", path, verify_df=docs, threshold=0.8
    )
    return _probe_pairs(out)


@register(
    "l2_lsh_erase_probe",
    # l2_incremental_probe's cross-batch oracle MINUS the erased history
    # docs: an erased doc must never surface as dup_of again.
    oracle=_cross_batch_oracle("b.doc_id % 10 <> 6"),
)
def l2_lsh_erase_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    # GDPR erasure inside the LSH index (operators/dedup.
    # erase_from_minhash_index): the index retains a banded fingerprint
    # of every ingested doc, so right-to-be-forgotten reaches it like
    # the primary table. History = even doc_ids; erase doc_id % 10 == 6
    # from the index (a new segment, published by one pointer commit — an
    # interrupted erasure leaves the old head serving); the odd-id batch
    # then probes it and the declared
    # output must equal the exact cross-batch Jaccard graph EXCLUDING
    # the erased docs from the dup_of side — a fingerprint surviving
    # erasure (or collateral bucket loss) hash-fails. Loud invariants:
    # erased bucket-row count = num_bands x erased docs present, zero
    # erased docs remain in the bucket table.
    import os as _os

    from etl_hiscox_spark.operators.dedup import (
        erase_from_minhash_index,
        probe_minhash_index,
        write_minhash_index,
    )
    from etl_hiscox_spark.queries.writes import _scratch

    docs = load_table(spark, "documents", sf_dir)
    path = _os.path.join(_scratch("l2_lsh_erase", sf_dir), "minhash_index")
    old = docs.filter(F.col("doc_id") % 2 == 0)
    new = docs.filter(F.col("doc_id") % 2 == 1)
    write_minhash_index(old, "text", "doc_id", path, num_hashes=24, num_bands=6)
    erase = old.filter(F.col("doc_id") % 10 == 6).select("doc_id")
    expected = erase.count() * 6  # num_bands rows per indexed doc
    n_erased = erase_from_minhash_index(spark, path, erase, "doc_id")
    if n_erased != expected:
        raise ValueError(
            f"erase_from_minhash_index erased {n_erased} bucket rows, expected {expected}"
        )
    remaining = (
        live_rows(spark, path, _LSH).filter(F.col("doc") % 10 == 6).count()
    )
    if remaining:
        raise ValueError(f"{remaining} erased docs still fingerprinted in the index")
    out = probe_minhash_index(
        new, "text", "doc_id", path, verify_df=docs, threshold=0.8
    )
    return _probe_pairs(out)


@register(
    "l2_lsh_rebuild_probe",
    # l2_incremental_probe's cross-batch oracle, unchanged: the banding
    # parameters are an index-internal layout choice, so a rebuild that
    # migrates them must leave the confirmed-pair graph EXACTLY equal —
    # the hard-equality recall tripwire now doubles as proof that the
    # re-banded index lost nothing (more bands can only raise recall;
    # the verify-side exact Jaccard pins precision).
    oracle=_cross_batch_oracle(),
)
def l2_lsh_rebuild_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    # LSH index PARAMETER MIGRATION (r11, completing the lifecycle the
    # IVF side closed with l3_ivf_rebuild_probe): the meta pins the
    # banding forever by design, so changing recall requirements needs
    # operators/dedup.rebuild_minhash_index — re-shingle the supplied
    # corpus under NEW parameters into a fresh segment and publish it by
    # one pointer commit. History = even doc_ids indexed at
    # (24 hashes, 6 bands); rebuild migrates the live index to
    # (32 hashes, 8 bands); the odd-id batch then probes it reading the
    # NEW banding from the meta. Loud invariants before the oracle sees
    # the probe: meta reports the migrated parameters, and the bucket
    # table holds exactly 8 rows per indexed doc (6-per-doc would mean
    # the swap served the stale index).
    import os as _os

    from etl_hiscox_spark.operators.dedup import (
        _read_index_meta,
        probe_minhash_index,
        rebuild_minhash_index,
        write_minhash_index,
    )
    from etl_hiscox_spark.queries.writes import _scratch

    docs = load_table(spark, "documents", sf_dir)
    path = _os.path.join(_scratch("l2_lsh_rebuild", sf_dir), "minhash_index")
    old = docs.filter(F.col("doc_id") % 2 == 0)
    new = docs.filter(F.col("doc_id") % 2 == 1)
    write_minhash_index(old, "text", "doc_id", path, num_hashes=24, num_bands=6)
    migrated = rebuild_minhash_index(
        spark, old, "text", "doc_id", path, num_hashes=32, num_bands=8
    )
    if migrated != (32, 8, 3) or _read_index_meta(spark, path) != (32, 8, 3):
        raise ValueError(
            f"rebuild_minhash_index did not migrate the meta: {migrated}"
        )
    n_docs = old.count()
    n_rows = live_rows(spark, path, _LSH).count()
    if n_rows != 8 * n_docs:
        raise ValueError(
            f"rebuilt bucket table has {n_rows} rows for {n_docs} docs — "
            f"expected 8 per doc (stale 6-band layout would be {6 * n_docs})"
        )
    out = probe_minhash_index(
        new, "text", "doc_id", path, verify_df=docs, threshold=0.8
    )
    return _probe_pairs(out)


@register(
    "l2_lsh_gen_lifecycle_probe",
    # the l2_lsh_erase_probe oracle, unchanged: compact and rebuild are
    # layout/parameter-internal (content-preserving; more bands only add
    # candidate recall and the verify-side exact Jaccard pins precision),
    # so after build -> compact -> erase -> rebuild the confirmed-pair
    # graph must equal the exact cross-batch Jaccard graph MINUS the
    # erased docs — any op that loses a fingerprint, resurrects an erased
    # one, or serves a stale generation hash-fails.
    oracle=_cross_batch_oracle("b.doc_id % 10 <> 6"),
)
def l2_lsh_gen_lifecycle_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    # GENERATION-POINTER minhash lifecycle (r12, VERDICT r11 item 1 —
    # sources/genlog): the index lives on a file://-prefixed root in the
    # object-store layout, and EVERY maintenance op commits a new
    # generation with an atomic pointer flip — no os.rename ever touches
    # a data directory (trap-pinned in tests/test_genlog.py), so the same
    # lifecycle runs verbatim on s3/hdfs. Sequence: build on the even-id
    # history at (24 hashes, 6 bands) -> COMPACT (range-sorted bucket
    # rewrite as a new generation) -> ERASE doc_id % 10 == 6 -> REBUILD
    # migrating to (32, 8) over the erased corpus -> vacuum the three
    # superseded generations -> probe with the odd-id batch, banding read
    # from the live generation's meta. Loud invariants before the oracle
    # sees the probe: the pointer history records exactly
    # [build, compact, erase, rebuild], the live meta reports the
    # migrated parameters, and vacuum removes exactly 3 generations.
    import os as _os

    from etl_hiscox_spark.operators.dedup import (
        _read_index_meta,
        compact_minhash_index,
        erase_from_minhash_index,
        probe_minhash_index,
        rebuild_minhash_index,
        write_minhash_index,
    )
    from etl_hiscox_spark.queries.writes import _scratch
    from etl_hiscox_spark.sources.genlog import list_generations, vacuum_generations

    docs = load_table(spark, "documents", sf_dir)
    # file:// prefix: the probe runs the exact resolution an s3/hdfs
    # deployment would (_scratch wipes the dir, so the build is fresh)
    root = "file://" + _os.path.join(_scratch("l2_lsh_gen", sf_dir), "minhash_index")
    old = docs.filter(F.col("doc_id") % 2 == 0)
    new = docs.filter(F.col("doc_id") % 2 == 1)
    write_minhash_index(
        old, "text", "doc_id", root, num_hashes=24, num_bands=6
    )
    erase = old.filter(F.col("doc_id") % 10 == 6).select("doc_id")
    # the erase-predicate count reads the base table only — overlap it
    # with the compact (r17, guide §2.6)
    n_erase_docs, _ = run_overlapped(
        [erase.count, lambda: compact_minhash_index(spark, root)]
    )
    expected = n_erase_docs * 6  # num_bands rows per indexed doc
    n_erased = erase_from_minhash_index(spark, root, erase, "doc_id")
    if n_erased != expected:
        raise ValueError(
            f"generational erase removed {n_erased} bucket rows, expected {expected}"
        )
    kept = old.filter(F.col("doc_id") % 10 != 6)
    migrated = rebuild_minhash_index(
        spark, kept, "text", "doc_id", root, num_hashes=32, num_bands=8
    )
    if migrated != (32, 8, 3) or _read_index_meta(spark, root) != (32, 8, 3):
        raise ValueError(f"generational rebuild did not migrate the meta: {migrated}")
    ops = [g["operation"] for g in list_generations(spark, root)]
    if ops != ["build", "compact", "erase", "rebuild"]:
        raise ValueError(f"pointer history records {ops}")
    n_vacuumed = vacuum_generations(spark, root, keep_last=1)
    if n_vacuumed != 3:
        raise ValueError(f"vacuum removed {n_vacuumed} generations, expected 3")
    out = probe_minhash_index(
        new, "text", "doc_id", root, verify_df=docs, threshold=0.8
    )
    return _probe_pairs(out)


@register(
    "l2_ngram_jaccard_pairs",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id, source,
             string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS t
      FROM documents
    ), sh AS (
      SELECT doc_id, source,
             CASE WHEN len(t) >= 3
                  THEN list_distinct(list_transform(range(1, len(t) - 1),
                                                    i -> array_to_string(t[i:i+2], ' ')))
                  ELSE [array_to_string(t, ' ')] END AS s
      FROM toks
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
             / len(list_distinct(list_concat(a.s, b.s))) AS jaccard
    FROM sh a JOIN sh b
      ON a.source = b.source AND a.doc_id < b.doc_id AND b.doc_id - a.doc_id <= 25
    """,
)
def l2_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # n-gram Jaccard on a deterministic blocked candidate set (same source,
    # nearby ids) — the exact-verify stage of near-dedup, oracle-checked.
    #
    # The id band is an EQUI-join key (sorted-neighborhood bucketing, same
    # trick as f16_fuzzy_name_pairs): bucket = floor(doc_id/25), the a-side
    # explodes to (bucket, bucket+1), join on (source, bucket) + distance
    # filter. A source-only equi-join would enumerate ALL same-source pairs
    # — O((n/|sources|)²) per source — and band-filter after the fact; with
    # the bucket in the key, work is linear in n × band width at any scale.
    docs = load_table(spark, "documents", sf_dir)
    band = 25
    ids = docs.select("doc_id", "source")
    bkt = F.floor(F.col("doc_id") / band)
    a = ids.withColumn("__bkt", F.explode(F.array(bkt, bkt + 1))).alias("a")
    b = ids.withColumn("__bkt", bkt).alias("b")
    pairs = a.join(
        b,
        (F.col("a.__bkt") == F.col("b.__bkt"))
        & (F.col("a.source") == F.col("b.source"))
        & (F.col("a.doc_id") < F.col("b.doc_id"))
        & (F.col("b.doc_id") - F.col("a.doc_id") <= band),
    ).select(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
    return jaccard_pairs(docs, pairs, "text", "doc_id", shingle_k=3)


_SIMHASH_ORACLE = r"""
    WITH toks AS (
      SELECT doc_id,
             UNNEST(string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS tok
      FROM documents
    ), th AS (
      SELECT doc_id, sha256(tok) AS hx FROM toks
    ), bits AS (
      SELECT doc_id, u.b,
             CASE WHEN ((strpos('0123456789abcdef', substr(hx, CAST(u.b // 4 AS INT) + 1, 1)) - 1)
                        >> CAST(u.b % 4 AS INT)) & 1 = 1
                  THEN 1 ELSE -1 END AS vote
      FROM th, UNNEST(range(0, 64)) AS u(b)
    ), votes AS (
      SELECT doc_id, b, SUM(vote) AS v FROM bits GROUP BY doc_id, b
    ), simbits AS (
      SELECT doc_id, b, CASE WHEN v > 0 THEN 1 ELSE 0 END AS bit FROM votes
    ), blk AS (
      SELECT doc_id, b // 16 AS blk_id, SUM(CAST(bit AS BIGINT) << CAST(b % 16 AS INT)) AS blk
      FROM simbits GROUP BY doc_id, b // 16
    ), pairs AS (
      SELECT DISTINCT a.doc_id AS ia, b.doc_id AS ib
      FROM blk a JOIN blk b ON a.blk_id = b.blk_id AND a.blk = b.blk AND a.doc_id < b.doc_id
    ), hd AS (
      SELECT p.ia, p.ib, SUM(CASE WHEN x.bit != y.bit THEN 1 ELSE 0 END) AS h
      FROM pairs p
      JOIN simbits x ON x.doc_id = p.ia
      JOIN simbits y ON y.doc_id = p.ib AND y.b = x.b
      GROUP BY p.ia, p.ib
    )
    SELECT ia AS id_a, ib AS id_b, CAST(h AS INT) AS hamming FROM hd WHERE h <= 3
"""


@register("l2_simhash_candidates", oracle=_SIMHASH_ORACLE)
def l2_simhash_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    # SimHash near-dup candidates within Hamming distance 3 (pigeonhole
    # 4-block bucketing). r6 upgrade from rows-only: the declared form runs
    # portable=True — token bit b is bit b%4 of hex digit b//4 of
    # sha256(token), re-derivable in any engine (same contract as the
    # sampling tier's sha256 draws) — so the DuckDB twin replays the whole
    # vote -> pack -> block-bucket -> Hamming pipeline bit-for-bit. The
    # xxhash64 fast path keeps identical semantics (unit-tested on
    # perturbed texts in tests/).
    docs = load_table(spark, "documents", sf_dir)
    return simhash_candidates(docs, "text", "doc_id", max_hamming=3, portable=True)


# ---------------------------------------------------------------------------
# L3: similarity search
# ---------------------------------------------------------------------------

def _cosine_oracle(corpus_where: str = "") -> str:
    """Exact brute-force cosine top-10 SQL twin; ``corpus_where`` narrows
    the scored corpus (the erasure query excludes the erased ids)."""
    return f"""
    WITH q AS (
      SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qe
      FROM embeddings WHERE vec_id = 0
    ), e AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
      FROM embeddings{corpus_where}
    ), scored AS (
      SELECT vec_id,
             list_sum(list_transform(range(1, len(emb) + 1), i -> emb[i] * q.qe[i]))
               / (sqrt(list_sum(list_transform(emb, x -> x * x)))
                  * sqrt(list_sum(list_transform(q.qe, x -> x * x)))) AS sim
      FROM e, q
    )
    SELECT vec_id, ROUND(sim, 6) AS cosine_sim,
           ROW_NUMBER() OVER (ORDER BY sim DESC, vec_id ASC) AS rank
    FROM scored ORDER BY sim DESC, vec_id ASC LIMIT 10
"""


_COSINE_ORACLE = _cosine_oracle()


def _mmr_oracle() -> str:
    """DuckDB replay of the full MMR greedy loop (operators/similarity.
    mmr_topk): shortlist by rounded relevance, then TEN chained
    MATERIALIZED CTEs, each selecting the argmax of
    ROUND(0.7·rel − 0.3·max_sim_to_selected, 6) with vec_id tiebreak —
    the same unrolled-iteration pattern as the BPE training-loop replay
    (plain CTEs re-inline exponentially; MATERIALIZED is load-bearing)."""
    head = """
    WITH e AS MATERIALIZED (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings
    ), q AS MATERIALIZED (SELECT v AS qe FROM e WHERE vec_id = 0),
    rel AS MATERIALIZED (
      SELECT e.vec_id, e.v,
             ROUND(list_sum(list_transform(range(1, len(v) + 1), i -> v[i] * q.qe[i]))
               / (sqrt(list_sum(list_transform(v, x -> x * x)))
                  * sqrt(list_sum(list_transform(q.qe, x -> x * x)))), 6) AS rel
      FROM e, q
    ), short AS MATERIALIZED (
      SELECT vec_id, rel, v FROM rel ORDER BY rel DESC, vec_id LIMIT 50
    ), sims AS MATERIALIZED (
      SELECT a.vec_id AS ia, b.vec_id AS ib,
             ROUND(list_sum(list_transform(range(1, len(a.v) + 1), i -> a.v[i] * b.v[i]))
               / (sqrt(list_sum(list_transform(a.v, x -> x * x)))
                  * sqrt(list_sum(list_transform(b.v, x -> x * x)))), 6) AS s
      FROM short a JOIN short b ON a.vec_id <> b.vec_id
    ),
    sel1 AS MATERIALIZED (
      SELECT vec_id, rel, ROUND(0.7 * rel, 6) AS obj, 1 AS mmr_rank
      FROM short ORDER BY ROUND(0.7 * rel, 6) DESC, vec_id LIMIT 1
    )"""
    steps = []
    for t in range(2, 11):
        steps.append(
            f""",
    sel{t} AS MATERIALIZED (
      SELECT * FROM sel{t - 1}
      UNION ALL
      SELECT * FROM (
        SELECT c.vec_id, c.rel,
               ROUND(0.7 * c.rel - 0.3 * (SELECT MAX(s.s) FROM sims s
                      WHERE s.ia = c.vec_id
                        AND s.ib IN (SELECT vec_id FROM sel{t - 1})), 6) AS obj,
               {t} AS mmr_rank
        FROM short c WHERE c.vec_id NOT IN (SELECT vec_id FROM sel{t - 1})
        ORDER BY obj DESC, c.vec_id LIMIT 1
      )
    )"""
        )
    tail = """
    SELECT vec_id, mmr_rank, rel AS relevance, obj AS objective
    FROM sel10 ORDER BY mmr_rank
    """
    return head + "".join(steps) + tail


@register("l3_mmr_topk", oracle=_mmr_oracle())
def l3_mmr_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Diversified retrieval: MMR top-10 for query vec_id 0 over the
    # embeddings table (operators/similarity.mmr_topk — distributed
    # rounded-relevance shortlist via TakeOrderedAndProject, then the
    # bounded 50-row greedy re-rank). The oracle replays the ENTIRE
    # greedy loop step by step; a wrong shortlist cut, redundancy max,
    # objective weight, rounding boundary, or tiebreak hash-fails.
    from etl_hiscox_spark.operators.similarity import mmr_topk

    emb = load_table(spark, "embeddings", sf_dir)
    qvec = [float(x) for x in emb.filter(F.col("vec_id") == 0).select("embedding").first()[0]]
    return mmr_topk(emb, "embedding", "vec_id", qvec, k=10, shortlist=50)


@register("l3_cosine_topk", oracle=_COSINE_ORACLE)
def l3_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # L3 baseline: exact brute-force cosine top-k for one query vector
    # (vec_id 0). Plan: scan -> project -> TakeOrderedAndProject; no shuffle.
    emb = load_table(spark, "embeddings", sf_dir)
    qvec = [float(x) for x in emb.filter(F.col("vec_id") == 0).select("embedding").first()[0]]
    out = cosine_topk(emb, "embedding", "vec_id", qvec, k=10)
    return out.select("vec_id", F.round("cosine_sim", 6).alias("cosine_sim"), "rank")


# THE quantize + integer-scoring + exact-rerank replay — shared verbatim
# by l3_quantized_topk (float corpus, re-quantized in the scan) and
# l3_ivf_quantized_probe (STORED codes inside the partition-pruned IVF
# layout, full probe): at n_probe = n_clusters the two scan paths must
# produce the identical ranking, so one oracle pins both (and any drift
# between the stored-code and re-quantized conventions hash-fails).
_QUANTIZED_REPLAY_ORACLE = """
    WITH q AS (
      SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qe
      FROM embeddings WHERE vec_id = 0
    ), qc AS (
      SELECT qe,
             CASE WHEN list_max(list_transform(qe, x -> abs(x))) = 0
                  THEN list_transform(qe, x -> CAST(0 AS BIGINT))
                  ELSE list_transform(qe, x -> CAST(round(
                       x / (list_max(list_transform(qe, y -> abs(y))) / 127.0))
                       AS BIGINT)) END AS qcodes
      FROM q
    ), e AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ), codes AS (
      SELECT vec_id, v,
             CASE WHEN list_max(list_transform(v, x -> abs(x))) = 0
                  THEN list_transform(v, x -> CAST(0 AS BIGINT))
                  ELSE list_transform(v, x -> CAST(round(
                       x / (list_max(list_transform(v, y -> abs(y))) / 127.0))
                       AS BIGINT)) END AS c
      FROM e
    ), scored AS (
      SELECT vec_id, v,
             CAST(list_sum(list_transform(range(1, len(c) + 1),
                  i -> c[i] * qc.qcodes[i])) AS BIGINT) AS dotq,
             CAST(list_sum(list_transform(c, x -> x * x)) AS BIGINT) AS nc,
             CAST(list_sum(list_transform(qc.qcodes, x -> x * x)) AS BIGINT) AS nq
      FROM codes, qc
    ), approx AS (
      SELECT vec_id, v,
             CAST(dotq AS DOUBLE) / (sqrt(CAST(nc AS DOUBLE)) * sqrt(CAST(nq AS DOUBLE)))
               AS approx_cos
      FROM scored WHERE nc > 0 AND nq > 0
    ), cand AS (
      SELECT * FROM approx ORDER BY approx_cos DESC, vec_id ASC LIMIT 30
    ), rer AS (
      SELECT c.vec_id, c.approx_cos,
             list_sum(list_transform(range(1, len(c.v) + 1), i -> c.v[i] * q.qe[i]))
               / (sqrt(list_sum(list_transform(c.v, x -> x * x)))
                  * sqrt(list_sum(list_transform(q.qe, x -> x * x)))) AS exact_cos
      FROM cand c, q
    )
    SELECT vec_id, ROUND(approx_cos, 6) AS approx_cos,
           ROUND(exact_cos, 6) AS exact_cos,
           ROW_NUMBER() OVER (ORDER BY exact_cos DESC, vec_id ASC) AS rank
    FROM rer ORDER BY exact_cos DESC, vec_id ASC LIMIT 10
    """


@register("l3_quantized_topk", oracle=_QUANTIZED_REPLAY_ORACLE)
def l3_quantized_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # L3 scale path: int8 scalar-quantized ANN (operators/similarity.
    # quantized_topk). The candidate scan runs on integer codes — exact
    # integer dot/norm folds, so the candidate set and ordering are
    # bit-reproducible in DuckDB (no float-summation noise, unlike raw
    # cosine) — then a constant 3k-candidate exact rerank emits the final
    # top-k. approx_cos rides in the output so quantization-recall
    # regressions are hash-visible, not silent. At 100 TB the int8 codes
    # are the stored/scanned representation (4x less IO than float32);
    # the float vectors are touched for 30 rows.
    from etl_hiscox_spark.operators.similarity import quantized_topk

    emb = load_table(spark, "embeddings", sf_dir)
    qvec = [
        float(x)
        for x in emb.filter(F.col("vec_id") == 0).select("embedding").first()[0]
    ]
    out = quantized_topk(emb, "embedding", "vec_id", qvec, k=10, rerank_factor=3)
    return out.select(
        "vec_id",
        F.round("approx_cos", 6).alias("approx_cos"),
        F.round("exact_cos", 6).alias("exact_cos"),
        "rank",
    )


@register("l3_ivf_quantized_probe", oracle=_QUANTIZED_REPLAY_ORACLE)
def l3_ivf_quantized_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Quantized IVF LAYOUT (VERDICT r10 item 8) — the composed 100 TB
    # probe path: write_ivf_index(quantize=True) stores int8 codes +
    # scale INSIDE the cluster partitions (vectors.quantize_int8, the
    # same expression the v2 oracle pins), so the candidate scan reads
    # the codes column only (parquet column pruning — ~4x less IO than
    # the float32 embeddings; ReadSchema plan-gated in
    # tests/test_dedup_similarity.py) within the partition-pruned
    # n_probe clusters, ranks by exact integer code-cosine, and fetches
    # float vectors for the 30-row shortlist rerank only (id IN-literal,
    # row-group skipping). n_probe = n_clusters, so the output is
    # centroid-independent and the oracle is the SAME quantize + integer
    # scoring + rerank replay as l3_quantized_topk — a drift between the
    # STORED codes and the re-quantized convention, a dropped appended
    # row, or a wrong shortlist cut hash-fails. Explicit pinned geometry
    # (seeded hyperplanes), build on evens + append odds: the append
    # must inherit the quantized layout or its rows vanish from the
    # codes-only scan.
    import os as _os

    from etl_hiscox_spark.operators.similarity import (
        append_to_ivf_index,
        ivf_probe_topk_quantized,
        random_hyperplanes,
        write_ivf_index,
    )
    from etl_hiscox_spark.queries.writes import _scratch

    emb = load_table(spark, "embeddings", sf_dir)
    path = _os.path.join(_scratch("l3_ivf_quant", sf_dir), "ivf_index")
    qvec, _ = _qvec_and(
        emb,
        lambda: write_ivf_index(
            emb.filter(F.col("vec_id") % 2 == 0), path, "embedding", "vec_id",
            centroids=random_hyperplanes(dim=64, n_planes=16, seed=42),
            quantize=True,
        ),
    )
    append_to_ivf_index(emb.filter(F.col("vec_id") % 2 == 1), path, "embedding", "vec_id")
    out = ivf_probe_topk_quantized(
        spark, path, "embedding", "vec_id", qvec, k=10, n_probe=16, rerank_factor=3
    )
    return out.select(
        "vec_id",
        F.round("approx_cos", 6).alias("approx_cos"),
        F.round("exact_cos", 6).alias("exact_cos"),
        "rank",
    )


@register(
    "l3_embedding_near_pairs",
    oracle="""
    WITH e AS (
      SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
      FROM embeddings
    )
    SELECT a.vec_id AS id_a, b.vec_id AS id_b, a.label AS label,
           ROUND(list_sum(list_transform(range(1, len(a.emb) + 1), i -> a.emb[i] * b.emb[i]))
             / (sqrt(list_sum(list_transform(a.emb, x -> x * x)))
                * sqrt(list_sum(list_transform(b.emb, x -> x * x)))), 6) AS cosine_sim
    FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE list_sum(list_transform(range(1, len(a.emb) + 1), i -> a.emb[i] * b.emb[i]))
            / (sqrt(list_sum(list_transform(a.emb, x -> x * x)))
               * sqrt(list_sum(list_transform(b.emb, x -> x * x)))) > 0.3
    """,
)
def l3_embedding_near_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Embedding-cosine near-dup pairs with a blocking key (label) — the
    # scale pattern: pairs only form inside a block/bucket, never globally.
    # Each block is scored as ONE Arrow-batched BLAS matrix product
    # (blocked_cosine_pairs_pandas) instead of an interpreted per-pair
    # array fold — the n²·dim flops never cross the JVM↔Python boundary.
    from etl_hiscox_spark.operators.similarity import blocked_cosine_pairs_pandas

    emb = load_table(spark, "embeddings", sf_dir)
    pairs = blocked_cosine_pairs_pandas(emb, "embedding", "vec_id", "label", threshold=0.3)
    return pairs.select(
        "id_a", "id_b", "label", F.round(F.col("cosine_sim"), 6).alias("cosine_sim")
    )


@register(
    "v1_embedding_norms",
    oracle="""
    WITH e AS (
      SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ), n AS (
      SELECT vec_id, label, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm
      FROM e
    )
    SELECT vec_id, label, len(v) AS dim,
           ROUND(nrm, 6) AS norm,
           ROUND(CASE WHEN nrm = 0 THEN v[1] ELSE v[1] / nrm END, 6) AS first_unit
    FROM n
    """,
)
def v1_embedding_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Vector ops (operators/vectors): L2 norm + normalization, expression
    # tier. first_unit pins the normalized content, not just the norm.
    from etl_hiscox_spark.operators.similarity import l2_norm
    from etl_hiscox_spark.operators.vectors import l2_normalize

    emb = load_table(spark, "embeddings", sf_dir)
    v = F.col("embedding").cast("array<double>")
    return emb.select(
        "vec_id",
        "label",
        F.size(v).alias("dim"),
        F.round(l2_norm(v), 6).alias("norm"),
        F.round(F.element_at(l2_normalize(v), 1), 6).alias("first_unit"),
    )


@register(
    "v2_quantize_int8",
    oracle="""
    WITH e AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ), s AS (
      SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale
      FROM e
    ), q AS (
      SELECT vec_id, scale, v,
             CASE WHEN scale = 0
                  THEN list_transform(v, x -> CAST(0 AS BIGINT))
                  ELSE list_transform(v, x -> CAST(round(x / scale) AS BIGINT)) END AS codes
      FROM s
    )
    SELECT vec_id, scale,
           CAST(list_sum(codes) AS BIGINT) AS code_sum,
           list_max(list_transform(range(1, len(v) + 1),
                                   i -> abs(codes[i] * scale - v[i]))) AS max_err
    FROM q
    """,
)
def v2_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Symmetric int8 quantization (operators/vectors.quantize_int8):
    # scale = max|x|/127 and per-component values are arithmetic only (no
    # float summation), so scale and max_err hash bit-exact vs DuckDB;
    # code_sum is integer-exact.
    from etl_hiscox_spark.operators.vectors import dequantize_int8, quantize_int8

    emb = load_table(spark, "embeddings", sf_dir)
    v = F.col("embedding").cast("array<double>")
    codes, scale = quantize_int8(v)
    base = emb.select("vec_id", v.alias("v"), codes.alias("codes"), scale.alias("scale"))
    err = F.zip_with(
        dequantize_int8(F.col("codes"), F.col("scale")),
        F.col("v"),
        lambda d, x: F.abs(d - x),
    )
    return base.select(
        "vec_id",
        "scale",
        F.aggregate(
            F.col("codes"), F.lit(0).cast("long"), lambda acc, q: acc + q.cast("long")
        ).alias("code_sum"),
        F.aggregate(err, F.lit(0.0), lambda m, x: F.greatest(m, x)).alias("max_err"),
    )


_RP_DIM_OUT = 4


def _rp_matrix():
    from etl_hiscox_spark.operators.vectors import random_projection_matrix

    return random_projection_matrix(dim_in=64, dim_out=_RP_DIM_OUT, seed=7)


def _rp_oracle() -> str:
    rows = _rp_matrix()
    outs = ", ".join(
        f"ROUND(list_dot_product(v, [{', '.join(repr(float(x)) for x in row)}]), 6) AS p{i}"
        for i, row in enumerate(rows)
    )
    return f"""
    WITH e AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    )
    SELECT vec_id, {outs} FROM e
    """


@register("v3_random_projection", oracle=_rp_oracle())
def v3_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Johnson–Lindenstrauss random projection 64→4, seeded matrix shipped
    # as literals to BOTH engines (the oracle SQL embeds the same numpy
    # matrix).
    from etl_hiscox_spark.operators.vectors import project_expr

    emb = load_table(spark, "embeddings", sf_dir)
    v = F.col("embedding").cast("array<double>")
    proj = project_expr(v, _rp_matrix())
    return emb.select(
        "vec_id",
        *[
            F.round(F.element_at(proj, i + 1), 6).alias(f"p{i}")
            for i in range(_RP_DIM_OUT)
        ],
    )


# ---------------------------------------------------------------------------
# L4/L5: text stats, tokenization
# ---------------------------------------------------------------------------


@register(
    "l4_text_stats",
    oracle=r"""
    SELECT doc_id, lang,
           length(text) AS text_len,
           len(string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS n_words
    FROM documents
    """,
)
def l4_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    return docs.select(
        "doc_id",
        "lang",
        F.length("text").alias("text_len"),
        F.size(tokens("text")).alias("n_words"),
    )


_EN_STOP_SQL = "['" + "', '".join(LANG_STOPWORDS["en"]) + "']"


@register(
    "l5_token_stats",
    oracle=rf"""
    WITH toks AS (
      SELECT doc_id,
             string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS t
      FROM documents
    )
    SELECT doc_id,
           len(t) AS n_tokens,
           len(list_distinct(t)) AS n_distinct_tokens,
           len(list_filter(t, x -> NOT list_contains({_EN_STOP_SQL}, x))) AS n_content_tokens
    FROM toks
    """,
)
def l5_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    # L5: tokenize + stopword removal, expression-only.
    stop = F.array(*[F.lit(w) for w in LANG_STOPWORDS["en"]])
    docs = load_table(spark, "documents", sf_dir)
    t = tokens("text")
    return docs.select(
        "doc_id",
        F.size(t).alias("n_tokens"),
        F.size(F.array_distinct(t)).alias("n_distinct_tokens"),
        F.size(F.filter(t, lambda x: ~F.array_contains(stop, x))).alias("n_content_tokens"),
    )


# ---------------------------------------------------------------------------
# L6: JSON prop extraction (events.props)
# ---------------------------------------------------------------------------


@register(
    "l6_json_extraction",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
           MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
    FROM events GROUP BY event_type
    """,
)
def l6_json_extraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    k = F.get_json_object("props", "$.k").cast("long")
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(k).alias("sum_k"),
        F.max(k).alias("max_k"),
    )


# ---------------------------------------------------------------------------
# Text analysis: language ID, quality score, fingerprint
# ---------------------------------------------------------------------------

_LANGID_ORACLE = r"""
    WITH toks AS (
      SELECT doc_id, lang,
             string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS t
      FROM documents
    ), hits AS (
      SELECT doc_id, lang,
             len(list_intersect(t, ['the','and','of','to','is','in','that','it','for','with'])) AS h_en,
             len(list_intersect(t, ['el','la','de','que','y','los','en','un','por','con'])) AS h_es,
             len(list_intersect(t, ['le','la','de','et','les','des','en','un','du','que'])) AS h_fr,
             len(list_intersect(t, ['der','die','und','das','ist','von','den','mit','für','auf'])) AS h_de,
             len(list_intersect(t, ['的','是','了','在','和','有','我','不','这','他'])) AS h_zh
      FROM toks
    )
    SELECT lang, detected_lang, COUNT(*) AS n_docs FROM (
      SELECT lang,
             CASE WHEN greatest(h_en, h_es, h_fr, h_de, h_zh) = 0 THEN 'und'
                  WHEN h_zh = greatest(h_en, h_es, h_fr, h_de, h_zh) THEN 'zh'
                  WHEN h_fr = greatest(h_en, h_es, h_fr, h_de, h_zh) THEN 'fr'
                  WHEN h_es = greatest(h_en, h_es, h_fr, h_de, h_zh) THEN 'es'
                  WHEN h_en = greatest(h_en, h_es, h_fr, h_de, h_zh) THEN 'en'
                  ELSE 'de' END AS detected_lang
      FROM hits
    ) GROUP BY lang, detected_lang
"""


@register("t1_language_id", oracle=_LANGID_ORACLE)
def t1_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Language-ID confusion matrix: corpus tag vs stopword-heuristic result.
    # Tiebreak = lang code DESC (struct array_max), mirrored in the oracle's
    # CASE order (zh > fr > es > en > de).
    docs = load_table(spark, "documents", sf_dir)
    return (
        docs.select("lang", detect_language("text").alias("detected_lang"))
        .groupBy("lang", "detected_lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


@register(
    "t2_quality_score",
    oracle=r"""
    WITH feats AS (
      SELECT doc_id,
             length(text) AS n_chars,
             len(string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS n_words,
             length(text) - length(regexp_replace(text, '[^\w\s]', '', 'g')) AS n_punct
      FROM documents
    )
    SELECT doc_id,
           ((CASE WHEN n_words BETWEEN 10 AND 100000 THEN 1.0 ELSE 0.0 END)
            + (CASE WHEN CAST(n_punct AS DOUBLE) / greatest(n_chars, 1) <= 0.2 THEN 1.0 ELSE 0.0 END)
            + (CASE WHEN n_chars > 0 THEN 1.0 ELSE 0.0 END)) / 3.0 AS quality
    FROM feats
    """,
)
def t2_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    return docs.select("doc_id", quality_score("text").alias("quality"))


@register(
    "t4_vocabulary",
    oracle=r"""
    SELECT tok, COUNT(*) AS n_occurrences FROM (
      SELECT UNNEST(string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS tok
      FROM documents
    ) GROUP BY tok ORDER BY n_occurrences DESC, tok ASC LIMIT 100
    """,
)
def t4_vocabulary(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Vocabulary building (the BPE-training first pass): token -> corpus
    # frequency, top-k. explode -> groupBy with map-side combine; shuffle
    # volume is |vocab|, not |tokens|.
    docs = load_table(spark, "documents", sf_dir)
    return (
        docs.select(F.explode(tokens("text")).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
        .orderBy(F.col("n_occurrences").desc(), F.col("tok").asc())
        .limit(100)
    )


@register(
    "t5_bigram_frequency",
    oracle=r"""
    SELECT bigram, COUNT(*) AS n_occurrences FROM (
      SELECT UNNEST(list_transform(range(1, len(t)),
                                   i -> t[i] || ' ' || t[i+1])) AS bigram
      FROM (SELECT string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS t
            FROM documents)
      WHERE len(t) >= 2
    ) GROUP BY bigram ORDER BY n_occurrences DESC, bigram ASC LIMIT 50
    """,
)
def t5_bigram_frequency(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Word-bigram frequency (language-model n-gram stats). All occurrences
    # (not per-doc distinct), matching the oracle's list_transform walk.
    # explode(sequence)+element_at over a materialized token column stays
    # whole-stage-codegen'd; the transform-lambda form runs interpreted
    # AND re-splits the text per element (the t27 r8 finding).
    docs = load_table(spark, "documents", sf_dir)
    t = docs.select(tokens("text").alias("__t")).filter(F.size("__t") >= 2)
    idx = t.select(
        "__t", F.explode(F.sequence(F.lit(1), F.size("__t") - 1)).alias("__i")
    )
    return (
        idx.select(
            F.concat_ws(
                " ",
                F.element_at("__t", F.col("__i")),
                F.element_at("__t", F.col("__i") + F.lit(1)),
            ).alias("bigram")
        )
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
        .orderBy(F.col("n_occurrences").desc(), F.col("bigram").asc())
        .limit(50)
    )


@register(
    "t16_bigram_lm_nll",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id, string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS t
      FROM documents
    ), bi AS (
      SELECT doc_id,
             UNNEST(list_transform(range(1, len(t)), i -> {'w1': t[i], 'w2': t[i+1]}),
                    recursive := true)
      FROM toks WHERE len(t) >= 2
    ), bc AS (
      SELECT w1, w2, COUNT(*) AS c2 FROM bi GROUP BY w1, w2
    ), uc AS (
      SELECT w, COUNT(*) AS c1
      FROM (SELECT UNNEST(t) AS w FROM toks) GROUP BY w
    )
    SELECT doc_id, COUNT(*) AS n_bigrams,
           ROUND(AVG(-ln((c2 + 1.0) / (c1 + 1.0 * (SELECT COUNT(*) FROM uc)))), 6) AS avg_nll
    FROM bi JOIN bc USING (w1, w2) JOIN uc ON bi.w1 = uc.w
    GROUP BY doc_id
    """,
)
def t16_bigram_lm_nll(spark: SparkSession, sf_dir: str) -> DataFrame:
    # CCNet-style LM quality scoring (operators/lm_score.py), self-trained:
    # add-1-smoothed bigram model over the corpus, each doc scored by avg
    # negative log-likelihood. SQL entry so the vocabulary size plans as a
    # Catalyst scalar Subquery (the g7/g12 mechanism — no driver action,
    # no 1-row crossJoin). Counts are exact integers on both engines; only
    # the final ln/avg is float, rounded to 6 like the cosine tier. Size>=2
    # filter sits UNDER the position explode so ANSI element_at never sees
    # an empty sequence. At scale: broadcast the prob table
    # (lm_score.bigram_nll_scores(broadcast_lm=True)) and the doc stem
    # never shuffles before its per-doc reduce.
    load_table(spark, "documents", sf_dir).createOrReplaceTempView("documents_v")
    return spark.sql(
        r"""
        WITH toks AS (
          SELECT doc_id, split(regexp_replace(lower(trim(text)), '\\s+', ' '), ' ') AS t
          FROM documents_v
        ), bi AS (
          SELECT doc_id, element_at(t, i) AS w1, element_at(t, i + 1) AS w2
          FROM (SELECT * FROM toks WHERE size(t) >= 2)
          LATERAL VIEW explode(sequence(1, size(t) - 1)) AS i
        ), bc AS (
          SELECT w1, w2, COUNT(*) AS c2 FROM bi GROUP BY w1, w2
        ), uc AS (
          SELECT w, COUNT(*) AS c1
          FROM (SELECT explode(t) AS w FROM toks) GROUP BY w
        )
        SELECT doc_id, COUNT(*) AS n_bigrams,
               ROUND(AVG(-ln((c2 + 1.0) / (c1 + 1.0 * (SELECT COUNT(*) FROM uc)))), 6) AS avg_nll
        FROM bi JOIN bc USING (w1, w2) JOIN uc ON bi.w1 = uc.w
        GROUP BY doc_id
        """
    )


@register(
    "t31_perplexity_buckets",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id, string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS t
      FROM documents
    ), bi AS (
      SELECT doc_id,
             UNNEST(list_transform(range(1, len(t)), i -> {'w1': t[i], 'w2': t[i+1]}),
                    recursive := true)
      FROM toks WHERE len(t) >= 2
    ), bc AS (
      SELECT w1, w2, COUNT(*) AS c2 FROM bi GROUP BY w1, w2
    ), uc AS (
      SELECT w, COUNT(*) AS c1
      FROM (SELECT UNNEST(t) AS w FROM toks) GROUP BY w
    ), scored AS (
      SELECT doc_id,
             ROUND(AVG(-ln((c2 + 1.0) / (c1 + 1.0 * (SELECT COUNT(*) FROM uc)))), 6) AS avg_nll
      FROM bi JOIN bc USING (w1, w2) JOIN uc ON bi.w1 = uc.w
      GROUP BY doc_id
    )
    SELECT doc_id, avg_nll,
           CAST(NTILE(3) OVER (ORDER BY avg_nll ASC, doc_id ASC) AS INT) AS ppl_bucket
    FROM scored
    """,
)
def t31_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    # CCNet's head/middle/tail perplexity split (Wenzek et al. 2020): rank
    # every doc by its self-trained bigram-LM NLL (the t16 scorer) and
    # NTILE into three equal buckets — the standard "keep head, sample
    # middle, drop tail" curation input. The window orders by the ROUNDED
    # score with doc_id as tiebreak: rounded-6 NLLs are the values t16
    # proves cross-engine equal, while unrounded doubles carry
    # summation-order ulps that could flip an NTILE boundary between
    # engines. One extra window shuffle over |docs| rows on top of the
    # scoring plan. Scores come from t16's query function DIRECTLY — one
    # scoring definition; a smoothing/tokenization fix there cannot
    # silently diverge from these buckets.
    from pyspark.sql import Window

    scored = t16_bigram_lm_nll(spark, sf_dir).select("doc_id", "avg_nll")
    w = Window.orderBy(F.col("avg_nll").asc(), F.col("doc_id").asc())
    return scored.select(
        "doc_id", "avg_nll", F.ntile(3).over(w).alias("ppl_bucket")
    )


@register(
    "t17_semantic_decontamination",
    oracle="""
    WITH e AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
      FROM embeddings
    ), ev AS (SELECT * FROM e WHERE vec_id % 25 = 0),
    tr AS (SELECT * FROM e WHERE vec_id % 25 <> 0),
    pairs AS (
      SELECT tr.vec_id, ev.vec_id AS eval_id,
             list_sum(list_transform(range(1, len(tr.emb) + 1), i -> tr.emb[i] * ev.emb[i]))
               / (sqrt(list_sum(list_transform(tr.emb, x -> x * x)))
                  * sqrt(list_sum(list_transform(ev.emb, x -> x * x)))) AS sim
      FROM tr, ev
    ), ranked AS (
      SELECT vec_id, eval_id, sim,
             ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY sim DESC, eval_id ASC) AS rn
      FROM pairs
    )
    SELECT vec_id, eval_id AS nearest_eval_id, ROUND(sim, 6) AS max_sim
    FROM ranked WHERE rn = 1 AND sim >= 0.35
    """,
)
def t17_semantic_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Embedding-space decontamination (operators/decontamination.py):
    # flags training vectors within cosine 0.35 of ANY held-out item
    # (every 25th vec_id stands in for the eval suite) — catches the
    # paraphrased leakage the n-gram probe (t15) can't see. Spark side is
    # one Arrow mapInPandas closing over the normalized eval matrix (one
    # BLAS matmul per batch, zero shuffle on the train side); the oracle
    # brute-forces the same max-sim/argmax with a window. 0.35 sits at
    # ~p95 of the synthetic corpus's max-sim distribution so the flagged
    # set is non-trivial in both directions.
    from etl_hiscox_spark.operators.decontamination import semantic_contamination_report

    emb = load_table(spark, "embeddings", sf_dir)
    ev = emb.filter(F.col("vec_id") % 25 == 0)
    tr = emb.filter(F.col("vec_id") % 25 != 0)
    return semantic_contamination_report(tr, ev, "embedding", "vec_id", threshold=0.35)


@register(
    "t18_span_dedup",
    oracle=r"""
    WITH corpus AS (
      SELECT doc_id, text FROM documents WHERE text IS NOT NULL
      UNION ALL
      SELECT doc_id + 100000 AS doc_id, text FROM documents
      WHERE doc_id % 7 = 3 AND text IS NOT NULL
    ), toks AS (
      SELECT doc_id, string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS w
      FROM corpus
    ), spans AS (
      SELECT doc_id, CAST(i AS INT) AS span_idx,
             array_to_string(w[(i*50+1):(i*50+50)], ' ') AS span
      FROM toks,
           LATERAL (SELECT UNNEST(range(CAST(ceil(len(w) / 50.0) AS BIGINT))) AS i) g
    ), ranked AS (
      SELECT doc_id, span_idx, span,
             ROW_NUMBER() OVER (PARTITION BY span ORDER BY doc_id, span_idx) AS rn
      FROM spans
    )
    SELECT doc_id,
           COUNT(*) AS n_spans,
           CAST(SUM(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
           md5(COALESCE(string_agg(CASE WHEN rn = 1 THEN span END, ' ' ORDER BY span_idx), ''))
             AS deduped_md5
    FROM ranked GROUP BY doc_id
    """,
)
def t18_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Span-level exact dedup (operators/span_dedup.py) — the RefinedWeb
    # repeated-block pass: remove every 50-word span whose identical text
    # occurs earlier in corpus order, keep the rest of each document. The
    # synthetic corpus has no natural 50-word repeats, so the query plants
    # them: every doc_id%7==3 document is unioned back at doc_id+100000 —
    # the copies must come out fully emptied (n_removed == n_spans) while
    # every original survives intact. Output hashes the reassembled text
    # (md5, both engines) so the driver compare stays compact. The
    # declared form windows on the raw span string for DuckDB parity;
    # production uses hashed=True (8-byte xxhash64 shuffle keys), pinned
    # equal in tests/test_span_dedup.py.
    from etl_hiscox_spark.operators.span_dedup import span_dedup

    # NULL text filtered on BOTH legs: the operator reports one NULL-span
    # row per NULL doc while the oracle's LATERAL range() emits none — a
    # latent hash divergence if a future corpus regen introduced NULLs
    # (no-op on today's data).
    docs = load_table(spark, "documents", sf_dir).filter(F.col("text").isNotNull())
    planted = docs.filter(F.col("doc_id") % 7 == 3).withColumn(
        "doc_id", F.col("doc_id") + 100000
    )
    corpus = docs.select("doc_id", "text").unionByName(planted.select("doc_id", "text"))
    rep = span_dedup(corpus, "text", "doc_id", span_words=50, hashed=False)
    return rep.select(
        "doc_id", "n_spans", "n_removed", F.md5("deduped_text").alias("deduped_md5")
    )


@register(
    "t19_nb_language_classifier",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id, lang,
             string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS t
      FROM documents
    ), occ AS (
      SELECT doc_id, lang, UNNEST(t) AS word FROM toks
    ), ww AS (
      SELECT lang AS label, word, ln(COUNT(*) + 1.0) AS w
      FROM occ GROUP BY lang, word
    ), cs AS (
      SELECT lang AS label,
             ln(COUNT(*) * 1.0 / (SELECT COUNT(*) FROM toks)) AS ln_prior,
             ln(1.0 / (SUM(len(t)) + 1.0 * (SELECT COUNT(DISTINCT word) FROM occ)))
               AS ln_floor
      FROM toks GROUP BY lang
    ), contrib AS (
      SELECT occ.doc_id, ww.label, SUM(ww.w) AS seen
      FROM occ JOIN ww USING (word) GROUP BY occ.doc_id, ww.label
    ), scored AS (
      SELECT g.doc_id, g.lang, g.label,
             ROUND(g.ln_prior + COALESCE(c.seen, 0) + g.L * g.ln_floor, 6) AS score
      FROM (SELECT toks.doc_id, toks.lang, len(toks.t) AS L, cs.*
            FROM toks CROSS JOIN cs) g
      LEFT JOIN contrib c ON g.doc_id = c.doc_id AND g.label = c.label
    ), ranked AS (
      SELECT doc_id, lang, label, score,
             ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score DESC, label ASC) AS rn
      FROM scored
    )
    SELECT doc_id, lang, label AS predicted_lang, score FROM ranked WHERE rn = 1
    """,
)
def t19_nb_language_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    # fastText-langid-shaped classifier as pure relational algebra
    # (operators/classifier.py): multinomial Naive Bayes self-trained on
    # (text -> lang), every doc scored against every class, argmax over
    # 6-decimal-rounded scores with label-asc tiebreak (discrete outputs
    # never ride an unrounded float — the g12 lesson). Training is two
    # map-side-combined aggs; inference joins a BROADCAST weight table on
    # the token stem, so at 100 TB the corpus shuffles only for the
    # (doc,label) reduce and the per-doc argmax.
    from etl_hiscox_spark.operators.classifier import nb_predict, nb_train

    docs = load_table(spark, "documents", sf_dir)
    ww, cs = nb_train(docs, "text", "lang", alpha=1.0)
    pred = nb_predict(docs, "text", "doc_id", ww, cs, keep_cols=("lang",))
    return pred.select(
        "doc_id", "lang", F.col("predicted_label").alias("predicted_lang"), "score"
    )


@register(
    "t20_tfidf_keywords",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id,
             string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS t
      FROM documents
    ), occ AS (
      SELECT doc_id, UNNEST(t) AS term FROM toks
    ), tf AS (
      SELECT doc_id, term, COUNT(*) AS tf FROM occ GROUP BY doc_id, term
    ), idf AS (
      SELECT term,
             ln(((SELECT COUNT(*) FROM documents) + 1.0) / (COUNT(*) + 1.0)) + 1.0 AS idf
      FROM tf GROUP BY term
    ), ranked AS (
      SELECT tf.doc_id, tf.term, tf.tf,
             ROUND(tf.tf * idf.idf, 6) AS tfidf,
             ROW_NUMBER() OVER (
               PARTITION BY tf.doc_id
               ORDER BY ROUND(tf.tf * idf.idf, 6) DESC, tf.term ASC
             ) AS rank
      FROM tf JOIN idf USING (term)
    )
    SELECT doc_id, term, tf, tfidf, rank FROM ranked WHERE rank <= 5
    """,
)
def t20_tfidf_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Keyword extraction (operators/tfidf.py): smoothed TF-IDF over the
    # corpus, top-5 terms per document — token explode in the scan stage,
    # map-side tf counts, df derived from the tf table (no second token
    # pass), idf broadcast onto tf, rounded-rank window (the g12/t19 rule
    # for discrete outputs). Two real shuffles end to end.
    from etl_hiscox_spark.operators.tfidf import top_keywords

    docs = load_table(spark, "documents", sf_dir)
    return top_keywords(docs, "text", "doc_id", k=5)


@register(
    "t6_train_test_split",
    oracle="""
    WITH assigned AS (
      SELECT doc_id, lang,
             CASE WHEN substring(sha256(CAST(doc_id AS VARCHAR)), 1, 5) < 'ccccc' THEN 'train'
                  WHEN substring(sha256(CAST(doc_id AS VARCHAR)), 1, 5) < 'e6666' THEN 'val'
                  ELSE 'test' END AS split
      FROM documents
    )
    SELECT split, lang, COUNT(*) AS n_docs
    FROM assigned GROUP BY split, lang
    """,
)
def t6_train_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Deterministic leakage-safe train/val/test split: assignment is a pure
    # function of sha256(doc_id) — reproducible across engines, re-runs,
    # and re-shards (unlike randomSplit).
    from etl_hiscox_spark.operators.sampling import hash_split

    docs = load_table(spark, "documents", sf_dir)
    out = hash_split(docs, key="doc_id", weights={"train": 0.8, "val": 0.1, "test": 0.1})
    return out.groupBy("split", "lang").agg(F.count(F.lit(1)).alias("n_docs"))


@register(
    "t3_fingerprint",
    oracle=r"""
    WITH n AS (
      SELECT doc_id, regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS t
      FROM documents
    )
    SELECT doc_id,
           CASE WHEN length(t) = 0 THEN CAST(0 AS BIGINT)
                ELSE list_reduce(
                       list_prepend(CAST(0 AS BIGINT),
                         list_transform(string_split(t, ''), c -> CAST(unicode(c) AS BIGINT))),
                       (acc, x) -> (acc * 131 + x) % 2147483647) END
             * 1000000007
           + CASE WHEN length(t) = 0 THEN CAST(0 AS BIGINT)
                ELSE list_reduce(
                       list_prepend(CAST(0 AS BIGINT),
                         list_transform(string_split(t, ''), c -> CAST(unicode(c) AS BIGINT))),
                       (acc, x) -> (acc * 257 + x) % 1000000007) END AS fp64,
           sha256(t) AS sha256_hash
    FROM n
    """,
)
def t3_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    # 64-bit document fingerprints + exact-dedup content hash. r5 upgrade
    # from rows-only: the declared fingerprint is the engine-portable
    # polynomial rolling hash (functions.text.rolling_fingerprint64 —
    # modular BIGINT folds over codepoints, reproduced bit-for-bit by the
    # DuckDB twin); the xxhash64 form (fingerprint64) stays the production
    # default for hot shingle loops and is pinned by unit tests.
    docs = load_table(spark, "documents", sf_dir)
    return docs.select(
        "doc_id",
        rolling_fingerprint64("text").alias("fp64"),
        content_hash("text").alias("sha256_hash"),
    )


@register(
    "t7_mixture_sample",
    oracle="""
    WITH src AS (
      SELECT doc_id, text,
             CASE WHEN lang = 'en' THEN 'en' ELSE 'other' END AS mix_source,
             CASE WHEN lang = 'en' THEN CAST(0.6 AS DOUBLE) ELSE CAST(0.4 AS DOUBLE) END AS w
      FROM documents
    ), counts AS (
      SELECT mix_source, w, COUNT(*) AS n FROM src GROUP BY mix_source, w
    ), tmax AS (
      SELECT MIN(n / w) AS t FROM counts
    ), fracs AS (
      SELECT mix_source, LEAST(1.0, (w * (SELECT t FROM tmax)) / n) AS frac FROM counts
    ), kept AS (
      SELECT src.mix_source, src.text
      FROM src JOIN fracs USING (mix_source)
      WHERE frac >= 1.0
         OR substring(sha256(CAST(doc_id AS VARCHAR) || ':1:0'), 1, 13)
            < lpad(lower(to_hex(CAST(floor(frac * 16**13) AS BIGINT))), 13, '0')
    )
    SELECT mix_source AS source, COUNT(*) AS n_docs,
           CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
    FROM kept GROUP BY mix_source
    """,
)
def t7_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Corpus composition: draw the largest corpus with a 60/40 en/non-en
    # mix (operators/sampling.mixture_sample). Selection is a pure function
    # of (doc_id, seed), so the drawn corpus is identical across re-runs
    # and re-partitions; the scarcer source caps the total and survives
    # whole. Output: per-source doc counts + token mass. Declared with
    # portable=True (r5 upgrade from rows-only): the per-source fractions
    # are IEEE-double arithmetic on exact counts and the draw is the
    # sha256 hex-prefix form, so the DuckDB twin re-derives the EXACT
    # corpus; production defaults to the xxhash64 draw.
    from etl_hiscox_spark.operators.sampling import mixture_sample

    docs = load_table(spark, "documents", sf_dir)
    en = docs.filter(F.col("lang") == "en")
    rest = docs.filter(F.col("lang") != "en")
    mixed = mixture_sample(
        {"en": en, "other": rest}, {"en": 0.6, "other": 0.4}, key="doc_id", portable=True
    )
    return mixed.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(_raw_token_count()).alias("n_tokens"),
    )


@register(
    "t9_chunk_documents",
    oracle=r"""
    WITH t AS (
      SELECT doc_id, string_split_regex(trim(text), '\s+') AS tk FROM documents
    ), starts AS (
      SELECT doc_id, tk,
             unnest(range(1, greatest(len(tk) - 16, 1) + 1, 48)) AS s
      FROM t
    )
    SELECT doc_id,
           CAST((s - 1) // 48 AS BIGINT) AS chunk_idx,
           len(tk[s:least(s + 63, len(tk))]) AS n_tokens,
           array_to_string(tk[s:least(s + 63, len(tk))], ' ') AS chunk_text
    FROM starts
    """,
)
def t9_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Overlapping token-window chunking (operators/chunking): 64-token
    # chunks, 16-token overlap (stride 48). Zero-shuffle — the explode and
    # slice stay in the scan stage; the oracle materializes the identical
    # start-position arithmetic in DuckDB list SQL.
    from etl_hiscox_spark.operators.chunking import chunk_documents

    docs = load_table(spark, "documents", sf_dir)
    return chunk_documents(docs, "text", "doc_id", chunk_size=64, overlap=16)


@register(
    "t10_repetition_stats",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id,
             string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS t
      FROM documents
    ), grams AS (
      SELECT doc_id,
             unnest(CASE WHEN len(t) >= 2
                    THEN list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])
                    ELSE [array_to_string(t, ' ')] END) AS g
      FROM toks
    ), pg AS (
      SELECT doc_id, g, COUNT(*) AS c FROM grams GROUP BY doc_id, g
    )
    SELECT doc_id,
           CAST(SUM(c) AS BIGINT) AS total_ngrams,
           COUNT(*) AS distinct_ngrams,
           CAST(MAX(c) AS BIGINT) AS top_ngram_count
    FROM pg GROUP BY doc_id
    """,
)
def t10_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Gopher-style duplicate-bigram profile (operators/quality_filters):
    # exact integer counts so thresholding is float-free. Shuffle volume is
    # |distinct grams| (map-side combined), not |tokens|.
    from etl_hiscox_spark.operators.quality_filters import repetition_stats

    docs = load_table(spark, "documents", sf_dir)
    return repetition_stats(docs, "text", "doc_id", ngram=2)


@register(
    "t11_gopher_flags",
    oracle=rf"""
    WITH toks AS (
      SELECT doc_id,
             string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS t
      FROM documents
    ), stats AS (
      SELECT doc_id,
             len(t) AS n_words,
             CAST(list_sum(list_transform(t, x -> length(x))) AS BIGINT) AS sum_word_len,
             len(list_filter(t, x -> regexp_matches(x, '[a-zA-Z]'))) AS n_alpha_words,
             len(list_filter(t, x -> list_contains({_EN_STOP_SQL}, x))) AS n_stop_hits
      FROM toks
    )
    SELECT doc_id, n_words, sum_word_len, n_alpha_words, n_stop_hits,
           CAST(n_words >= 10 AND n_words <= 100000 AS INT) AS ok_n_words,
           CAST(sum_word_len >= 2 * n_words AND sum_word_len <= 10 * n_words AS INT)
             AS ok_mean_word_len,
           CAST(100 * n_alpha_words >= 80 * n_words AS INT) AS ok_alpha_words,
           CAST(n_stop_hits >= 2 AS INT) AS ok_stopwords,
           CAST(n_words >= 10 AND n_words <= 100000
                AND sum_word_len >= 2 * n_words AND sum_word_len <= 10 * n_words
                AND 100 * n_alpha_words >= 80 * n_words
                AND n_stop_hits >= 2 AS INT) AS keep
    FROM stats
    """,
)
def t11_gopher_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Gopher quality gates as integer cross-multiplications — zero float
    # division, so the keep decision is bit-identical in any engine.
    from etl_hiscox_spark.operators.quality_filters import gopher_flags

    docs = load_table(spark, "documents", sf_dir)
    out = gopher_flags(docs, "text", "doc_id")
    return out.select(
        "doc_id",
        "n_words",
        "sum_word_len",
        "n_alpha_words",
        "n_stop_hits",
        *[
            F.col(c).cast("int").alias(c)
            for c in ("ok_n_words", "ok_mean_word_len", "ok_alpha_words", "ok_stopwords", "keep")
        ],
    )


@register(
    "t8_pack_sequences",
    oracle="""
    SELECT COUNT(*) AS n_docs,
           CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
           TRUE AS within_budget,
           TRUE AS packs_lb_ok,
           TRUE AS packs_ub_ok
    FROM documents
    """,
)
def t8_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Token-budget shard packing (operators/sampling.pack_sequences): BFD
    # inside 16 hash groups, globally-unique pack ids, ≤2048 tokens per
    # pack (oversized docs → singleton packs). r5: PARTIAL ORACLE (the a16
    # mechanism) — the greedy assignment itself has no SQL twin, but its
    # INVARIANTS do: every doc packed exactly once (n_docs, n_tokens exact
    # vs DuckDB), every pack within budget or a singleton, and the pack
    # count between the bin-packing lower bound ceil(total/budget) and the
    # BFD-per-group upper bound (all groups' bins but one are > half full,
    # so ≤ 2·lb + n_groups; a group above sampling.PACK_FOLD_CAP docs is
    # folded as sub-groups, each of which may add one more underfull
    # pack — no group reaches the cap up to sf0.1's 5,000 docs). A packing
    # bug — lost docs, split docs, overfull or pathologically-underfull
    # packs — now goes driver-red.
    # Per-pack detail stays pinned by the packing unit tests.
    from etl_hiscox_spark.operators.sampling import pack_sequences

    docs = load_table(spark, "documents", sf_dir).select(
        "doc_id", _raw_token_count().alias("n_tokens")
    )
    packed = pack_sequences(docs, "doc_id", "n_tokens", budget=2048, n_groups=16)
    per_pack = packed.groupBy("pack_id").agg(
        F.count(F.lit(1)).alias("__n"), F.sum("n_tokens").alias("__tok")
    )
    return per_pack.agg(
        F.sum("__n").alias("n_docs"),
        F.sum("__tok").alias("n_tokens"),
        F.count(F.lit(1)).alias("__packs"),
        F.bool_and((F.col("__tok") <= 2048) | (F.col("__n") == 1)).alias("within_budget"),
    ).select(
        "n_docs",
        "n_tokens",
        "within_budget",
        (F.col("__packs") >= F.ceil(F.col("n_tokens") / 2048)).alias("packs_lb_ok"),
        (F.col("__packs") <= 2 * F.ceil(F.col("n_tokens") / 2048) + 16).alias("packs_ub_ok"),
    )


@register(
    "t12_weighted_sample",
    oracle="""
    WITH weighted AS (
      SELECT lang, source, text,
             LEAST(n_chars / 2000.0, 1.0) AS w,
             substring(sha256(CAST(doc_id AS VARCHAR) || ':2:0'), 1, 13) AS u,
             lpad(lower(to_hex(CAST(floor(LEAST(n_chars / 2000.0, 1.0) * 16**13) AS BIGINT))),
                  13, '0') AS threshold
      FROM documents
    )
    SELECT lang, source, COUNT(*) AS n_docs,
           CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
    FROM weighted WHERE w >= 1.0 OR u < threshold
    GROUP BY lang, source
    """,
)
def t12_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Importance sampling (operators/sampling.weighted_sample): keep each
    # doc with probability proportional to a length-based quality weight —
    # deterministic in (doc_id, seed), zero-shuffle. Output: survivors per
    # (lang, source) with token mass. Declared with portable=True (sha256
    # hex-prefix draw vs hex-rendered threshold — r5 upgrade from
    # rows-only): the DuckDB twin re-derives the EXACT selection, proving
    # the sample is engine-portable; production defaults to the xxhash64
    # draw (same semantics, JVM-native hash), rate/determinism pinned in
    # tests/test_training_ops.py.
    from etl_hiscox_spark.operators.sampling import weighted_sample

    docs = load_table(spark, "documents", sf_dir)
    weighted = docs.withColumn(
        "__w", F.least(F.col("n_chars").cast("double") / F.lit(2000.0), F.lit(1.0))
    )
    kept = weighted_sample(weighted, "__w", key="doc_id", portable=True)
    return kept.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(_raw_token_count()).alias("n_tokens"),
    )


def _ann_oracle() -> str:
    """r6 upgrade from rows-only: the seeded hyperplanes are data-independent
    numpy draws, so — like v3's projection matrix — they embed as SQL
    literals and the WHOLE ANN path becomes SQL-expressible: per-vector
    sign-bit bucket, query bucket, the two smallest-|margin| multiprobe
    flips (same tie-break as the Python: |margin| asc, plane index asc),
    bucket-membership filter, exact cosine + rank within the candidates.
    6-dp rounding absorbs BLAS-vs-sequential float summation order."""
    from etl_hiscox_spark.operators.similarity import random_hyperplanes

    planes = random_hyperplanes(dim=64, n_planes=8, seed=42)
    values = ", ".join(
        f"({i}, [{', '.join(repr(float(x)) for x in row)}])"
        for i, row in enumerate(planes)
    )
    return f"""
    WITH q AS (
      SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qe
      FROM embeddings WHERE vec_id = 0
    ), planes(i, p) AS (
      VALUES {values}
    ), qproj AS (
      SELECT i, list_dot_product(q.qe, p) AS d FROM planes, q
    ), qbucket AS (
      SELECT CAST(SUM(CASE WHEN d >= 0 THEN (1::BIGINT << i) ELSE 0 END) AS BIGINT) AS b
      FROM qproj
    ), flips AS (
      SELECT i FROM qproj ORDER BY abs(d) ASC, i ASC LIMIT 2
    ), probes AS (
      SELECT b FROM qbucket
      UNION ALL
      SELECT xor(qbucket.b, (1::BIGINT << flips.i)) FROM qbucket, flips
    ), e AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
      FROM embeddings
    ), bucketed AS (
      SELECT vec_id, emb,
             (SELECT CAST(SUM(CASE WHEN list_dot_product(emb, p) >= 0
                                   THEN (1::BIGINT << i) ELSE 0 END) AS BIGINT)
              FROM planes) AS bucket
      FROM e
    ), cand AS (
      SELECT vec_id, emb FROM bucketed WHERE bucket IN (SELECT b FROM probes)
    ), scored AS (
      SELECT vec_id,
             list_dot_product(emb, q.qe)
               / (sqrt(list_dot_product(emb, emb)) * sqrt(list_dot_product(q.qe, q.qe))) AS sim
      FROM cand, q
    )
    SELECT vec_id, ROUND(sim, 6) AS cosine_sim,
           ROW_NUMBER() OVER (ORDER BY sim DESC, vec_id ASC) AS rank
    FROM scored ORDER BY sim DESC, vec_id ASC LIMIT 10
    """


@register("l3_ann_topk", oracle=_ann_oracle())
def l3_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # L3 ANN: hyperplane-LSH bucket probe (operators/similarity.ann_topk_lsh)
    # for vec_id 0's bucket + 2 multiprobe neighbors, exact cosine within
    # the probed candidates. Deterministic: planes from a fixed seed; the
    # oracle (r6) replays buckets/flips/probe/scoring in SQL with the same
    # plane literals. Recall vs exact top-k is pinned in
    # tests/test_dedup_similarity.py.
    from etl_hiscox_spark.operators.similarity import ann_topk_lsh

    emb = load_table(spark, "embeddings", sf_dir)
    qvec = [float(x) for x in emb.filter(F.col("vec_id") == 0).select("embedding").first()[0]]
    out = ann_topk_lsh(emb, "embedding", "vec_id", qvec, k=10, n_planes=8, multiprobe=2)
    return out.select("vec_id", F.round("cosine_sim", 6).alias("cosine_sim"), "rank")


@register("l3_ivf_probe_topk", oracle=_COSINE_ORACLE)
def l3_ivf_probe_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Oracle upgrade (r8, ADVICE r7 item 1): the k-means assignment has no
    # DuckDB twin, but the probe's OUTPUT does — at the driver's check
    # scale (sf0.01) the seeded n_probe=8/16 probe returns the exact
    # brute-force top-10 (recall@10 = 1.0, pinned row-for-row by
    # tests/test_dedup_similarity.py::test_l3_ivf_matches_exact_at_check_scale),
    # so the same exact-cosine SQL twin as l3_cosine_topk applies
    # verbatim. At other scales IVF stays approximate; the recall floor
    # is pinned separately.
    # L3 ANN, deployment form: write_ivf_index materializes the corpus
    # partitionBy(__cluster) once, then the probe is a PARTITION-PRUNED
    # read of the n_probe nearest clusters (centroid pick is a driver-side
    # (n_clusters, dim) matvec) + exact cosine within them. This is the
    # 100 TB shape — the layout IS the index; unprobed partitions are
    # never opened (PartitionFilters plan-gated in
    # tests/test_engine_extras.py). Deterministic: seeded k-means, full
    # train at this scale. n_probe=8/16 prunes half the corpus while
    # holding recall@10 vs exact at 1.0 on sf0.01 / 0.7 on sf0.001
    # (pinned in tests/test_dedup_similarity.py) — the synthetic
    # embeddings are isotropic Gaussian, IVF's worst case; clustered real
    # corpora get the same recall at much lower probe fractions.
    from etl_hiscox_spark.operators.similarity import ivf_probe_topk, write_ivf_index
    from etl_hiscox_spark.queries.writes import _scratch

    emb = load_table(spark, "embeddings", sf_dir)
    path = os.path.join(_scratch("l3_ivf", sf_dir), "ivf_index")
    qvec, centroids = _qvec_and(
        emb,
        lambda: write_ivf_index(
            emb, path, "embedding", "vec_id", n_clusters=16, seed=42
        ),
    )
    out = ivf_probe_topk(
        spark, path, centroids, "embedding", "vec_id", qvec, k=10, n_probe=8
    )
    return out.select("vec_id", F.round("cosine_sim", 6).alias("cosine_sim"), "rank")


@register("l3_ivf_append_probe", oracle=_COSINE_ORACLE)
def l3_ivf_append_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Incremental vector ingest — the embedding twin of the minhash
    # index's daily-crawl story: the index is built on HALF the corpus
    # (even vec_ids, seeded k-means), the other half arrives later and is
    # APPENDED via operators/similarity.append_to_ivf_index — assigned to
    # the PINNED centroids read from the index (never re-trained, never
    # re-reading history; assignment parity with KMeansModel.predict is
    # test-pinned), landing only in the partitions it belongs to. The
    # probe then reads centroids FROM the index (caller passes none) and
    # must return the exact brute-force top-10 over the FULL corpus —
    # n_probe = n_clusters here so the oracle claim is recall-exact by
    # construction (partition pruning itself is l3_ivf_probe_topk's
    # plan-gated claim; THIS query's claim is the append path): a wrong
    # append assignment, a dropped/duplicated appended row, or stale
    # centroid geometry hash-fails against the same exact-cosine SQL twin.
    from etl_hiscox_spark.operators.similarity import (
        append_to_ivf_index,
        ivf_probe_topk,
        write_ivf_index,
    )
    from etl_hiscox_spark.queries.writes import _scratch

    emb = load_table(spark, "embeddings", sf_dir)
    path = os.path.join(_scratch("l3_ivf_append", sf_dir), "ivf_index")
    # max_iter=4: THIS query's output is centroid-independent (full
    # probe), so the k-means fit is capped — l3_ivf_probe_topk, whose
    # pruned output does depend on centroid placement, keeps the default
    qvec, _ = _qvec_and(
        emb,
        lambda: write_ivf_index(
            emb.filter(F.col("vec_id") % 2 == 0), path, "embedding", "vec_id",
            n_clusters=16, seed=42, max_iter=4,
        ),
    )
    append_to_ivf_index(emb.filter(F.col("vec_id") % 2 == 1), path, "embedding", "vec_id")
    out = ivf_probe_topk(
        spark, path, None, "embedding", "vec_id", qvec, k=10, n_probe=16
    )
    return out.select("vec_id", F.round("cosine_sim", 6).alias("cosine_sim"), "rank")


@register("l3_ivf_compact_probe", oracle=_COSINE_ORACLE)
def l3_ivf_compact_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Index MAINTENANCE lifecycle (VERDICT r9 item 3): build on half the
    # corpus, fragment it with two appends (each append adds one file per
    # touched partition), then COMPACT (operators/similarity.
    # compact_ivf_index) and probe. Two loud invariants guard the rewrite
    # before the oracle ever sees the probe: (1) a content checksum
    # (count + sum of xxhash64 over every column) must be IDENTICAL
    # across compaction — a dropped/duplicated/mutated row raises here
    # and goes driver-red; (2) the data file count must strictly DROP —
    # a no-op "compaction" is a lie about the operator. The probe then
    # reads centroids from the compacted index and must return the exact
    # brute-force top-10 over the full corpus (n_probe = n_clusters, the
    # same recall-exact construction as l3_ivf_append_probe).
    import os as _os

    from etl_hiscox_spark.operators.similarity import (
        append_to_ivf_index,
        compact_ivf_index,
        ivf_probe_topk,
        random_hyperplanes,
        write_ivf_index,
    )
    from etl_hiscox_spark.queries.writes import _scratch

    emb = load_table(spark, "embeddings", sf_dir)
    path = _os.path.join(_scratch("l3_ivf_compact", sf_dir), "ivf_index")
    # explicit pinned geometry: output is centroid-independent (full
    # probe) — see l3_ivf_append_probe
    qvec, _ = _qvec_and(
        emb,
        lambda: write_ivf_index(
            emb.filter(F.col("vec_id") % 2 == 0), path, "embedding", "vec_id",
            centroids=random_hyperplanes(dim=64, n_planes=16, seed=42),
        ),
    )
    append_to_ivf_index(emb.filter(F.col("vec_id") % 4 == 1), path, "embedding", "vec_id")
    append_to_ivf_index(emb.filter(F.col("vec_id") % 4 == 3), path, "embedding", "vec_id")

    sig_before = _parquet_content_checksum(spark, path, _IVF)
    files_before = _live_file_count(spark, path, _IVF)
    compact_ivf_index(spark, path)
    sig_after = _parquet_content_checksum(spark, path, _IVF)
    files_after = _live_file_count(spark, path, _IVF)
    if sig_after != sig_before:
        raise ValueError(
            f"compact_ivf_index changed index content: {sig_before} -> {sig_after}"
        )
    if files_after >= files_before:
        raise ValueError(
            f"compact_ivf_index did not defragment: {files_before} -> {files_after} files"
        )
    out = ivf_probe_topk(
        spark, path, None, "embedding", "vec_id", qvec, k=10, n_probe=16
    )
    return out.select("vec_id", F.round("cosine_sim", 6).alias("cosine_sim"), "rank")


@register(
    "l3_ivf_erase_probe",
    oracle=_cosine_oracle("\n      WHERE vec_id % 10 <> 7"),
)
def l3_ivf_erase_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    # GDPR erasure INSIDE the index layout (operators/similarity.
    # erase_from_ivf_index): table-level erase_keys leaves the IVF index
    # retaining the erased vectors — an index IS a copy of the data.
    # Build on the full corpus, erase vec_id % 10 == 7, then full-probe
    # top-10 (n_probe = n_clusters, recall-exact by construction): the
    # oracle is the brute-force cosine twin over the corpus MINUS the
    # erased ids, so a survivor of erasure, a collaterally dropped
    # vector, or drifted centroid geometry hash-fails. Loud invariants
    # before the oracle sees the probe: the erased count must match the
    # predicate's cardinality and zero erased ids remain readable.
    # Only AFFECTED cluster partitions are rewritten (the erase set
    # semi-joins to its clusters; unaffected partitions and _centroids
    # stay byte-identical) — at 100 TB erasure cost scales with the
    # erased ids' cluster footprint, not the index.
    import os as _os

    from etl_hiscox_spark.operators.similarity import (
        erase_from_ivf_index,
        ivf_probe_topk,
        random_hyperplanes,
        write_ivf_index,
    )
    from etl_hiscox_spark.queries.writes import _scratch

    emb = load_table(spark, "embeddings", sf_dir)
    path = _os.path.join(_scratch("l3_ivf_erase", sf_dir), "ivf_index")
    # explicit pinned geometry: output is centroid-independent (full
    # probe) — see l3_ivf_append_probe
    qvec, _ = _qvec_and(
        emb,
        lambda: write_ivf_index(
            emb, path, "embedding", "vec_id",
            centroids=random_hyperplanes(dim=64, n_planes=16, seed=42),
        ),
    )
    erase = emb.filter(F.col("vec_id") % 10 == 7).select("vec_id")
    expected = erase.count()
    n_erased = erase_from_ivf_index(spark, path, erase, "vec_id")
    if n_erased != expected:
        raise ValueError(
            f"erase_from_ivf_index erased {n_erased} rows, predicate covers {expected}"
        )
    remaining = live_rows(spark, path, _IVF).filter(F.col("vec_id") % 10 == 7).count()
    if remaining:
        raise ValueError(f"{remaining} erased vec_ids still readable in the index")
    out = ivf_probe_topk(
        spark, path, None, "embedding", "vec_id", qvec, k=10, n_probe=16
    )
    return out.select("vec_id", F.round("cosine_sim", 6).alias("cosine_sim"), "rank")


@register(
    "l3_ivf_full_erase_recovery_probe",
    oracle=_cosine_oracle("\n      WHERE vec_id % 2 = 1"),
)
def l3_ivf_full_erase_recovery_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The READABLE-EMPTY lifecycle end-to-end, driver-side (r14: the
    # fc6a9d5 recoverable-full-erase contract + the ADVICE r13 fix that
    # scheduled compaction landing on a fully-erased head must NO-OP,
    # not error until an append or rebuild arrives). Build generational
    # (the r13 DEFAULT — asserted, not assumed) on the EVEN vec_ids,
    # erase EVERYTHING (the head becomes the zero-row schema-carrying
    # placeholder), probe → must answer empty, compact → must return 0
    # WITHOUT committing a pointer (history stays [build, erase]), then
    # append the ODD half beside the placeholder and full-probe: the
    # exact brute-force top-10 over the odds only. A compact that
    # errored, a placeholder that lost the schema, a resurrected erased
    # row, or a dropped appended row all raise in-query or hash-fail
    # against the odds-only cosine twin.
    import os as _os

    from etl_hiscox_spark.operators.similarity import (
        append_to_ivf_index,
        compact_ivf_index,
        erase_from_ivf_index,
        ivf_probe_topk,
        random_hyperplanes,
        write_ivf_index,
    )
    from etl_hiscox_spark.queries.writes import _scratch
    from etl_hiscox_spark.sources import genlog

    emb = load_table(spark, "embeddings", sf_dir)
    path = _os.path.join(_scratch("l3_ivf_full_erase", sf_dir), "ivf_index")
    # explicit pinned geometry: output is centroid-independent (full
    # probe) — see l3_ivf_append_probe
    evens = emb.filter(F.col("vec_id") % 2 == 0)
    qvec, _ = _qvec_and(
        emb,
        lambda: write_ivf_index(
            evens, path, "embedding", "vec_id",
            centroids=random_hyperplanes(dim=64, n_planes=16, seed=42),
        ),
    )
    if not genlog.is_generational(spark, path):
        raise ValueError("a bare build must produce the generational layout (r13)")
    expected = evens.count()
    n_erased = erase_from_ivf_index(spark, path, evens.select("vec_id"), "vec_id")
    if n_erased != expected:
        raise ValueError(
            f"full erase removed {n_erased} rows, the build held {expected}"
        )
    empty = ivf_probe_topk(spark, path, None, "embedding", "vec_id", qvec, k=10, n_probe=16)
    if empty.count() != 0:
        raise ValueError("a fully-erased index must probe EMPTY, not crash or answer")
    if compact_ivf_index(spark, path) != 0:
        raise ValueError("compacting the fully-erased placeholder must no-op (0)")
    ops = [g["operation"] for g in genlog.list_generations(spark, path)]
    if ops != ["build", "erase"]:
        raise ValueError(
            f"pointer history records {ops} — the no-op compact must not commit"
        )
    append_to_ivf_index(emb.filter(F.col("vec_id") % 2 == 1), path, "embedding", "vec_id")
    out = ivf_probe_topk(
        spark, path, None, "embedding", "vec_id", qvec, k=10, n_probe=16
    )
    return out.select("vec_id", F.round("cosine_sim", 6).alias("cosine_sim"), "rank")


def _drift_centroid_values() -> str:
    """The drift query's pinned geometry as a SQL VALUES matrix — seeded
    data-independent numpy draws, the same literal-matrix oracle
    mechanism as the ANN planes / v3 projection."""
    from etl_hiscox_spark.operators.similarity import random_hyperplanes

    C = random_hyperplanes(dim=64, n_planes=8, seed=7)
    return ", ".join(
        f"({i}, [{', '.join(repr(float(x)) for x in row)}])"
        for i, row in enumerate(C)
    )


@register(
    "l3_ivf_drift_diag",
    oracle=f"""
    WITH c(ci, cv) AS (
      VALUES {_drift_centroid_values()}
    ), e AS (
      -- malformed = NULL, wrong-dim, OR any-NaN element: the Spark side
      -- (_centroid_distance_grid) counts a right-length embedding holding
      -- a NaN as malformed too; without the isnan leg the replayed dist
      -- would be NaN (non-NULL) and poison AVG/quantile (ADVICE r10)
      SELECT vec_id,
             CASE WHEN embedding IS NULL OR len(embedding) <> 64
                       OR len(list_filter(embedding, x -> isnan(x))) > 0 THEN NULL
                  ELSE list_transform(embedding, x -> CAST(x AS DOUBLE)) END AS emb
      FROM embeddings
    ), d AS (
      SELECT vec_id,
             CASE WHEN emb IS NULL THEN NULL
                  ELSE ROUND(sqrt(greatest(MIN(
                    list_dot_product(emb, emb)
                    - 2 * list_dot_product(emb, cv)
                    + list_dot_product(cv, cv)), 0)), 6) END AS dist
      FROM e CROSS JOIN c
      GROUP BY vec_id, emb
    )
    SELECT CASE WHEN vec_id % 2 = 0 THEN 'indexed' ELSE 'batch' END AS side,
           CAST(COUNT(dist) AS BIGINT) AS n_vectors,
           CAST(COUNT(*) - COUNT(dist) AS BIGINT) AS n_malformed,
           ROUND(AVG(dist), 6) AS mean_dist,
           ROUND(quantile_cont(dist, 0.5), 6) AS median_dist,
           ROUND(quantile_cont(dist, 0.9), 6) AS p90_dist
    FROM d GROUP BY 1
    """,
)
def l3_ivf_drift_diag(spark: SparkSession, sf_dir: str) -> DataFrame:
    # IVF centroid-DRIFT diagnostic (VERDICT r9 item 4): append assigns
    # to build-time centroids forever, so distribution shift silently
    # degrades partition-pruning quality — this measures it. The index is
    # built on even vec_ids with EXPLICIT pinned geometry
    # (write_ivf_index(centroids=...), seeded data-independent draws so
    # the SQL twin replays the distances literal-for-literal — k-means
    # centroids are data-dependent and have no SQL twin), then
    # operators/similarity.ivf_centroid_drift reports mean/median/p90
    # nearest-centroid distance of the indexed corpus vs the odd-id
    # "appended batch". Per-row distances are 6dp-rounded before
    # aggregating so both engines aggregate identical doubles. Rebuild
    # rule documented on the operator: batch mean > 1.25x indexed mean.
    # Here both halves share a distribution, so the declared output is
    # the ~1.0-ratio baseline; the planted-shift trigger is pinned in
    # tests/test_dedup_similarity.py.
    import os as _os

    from etl_hiscox_spark.operators.similarity import (
        ivf_centroid_drift,
        random_hyperplanes,
        write_ivf_index,
    )
    from etl_hiscox_spark.queries.writes import _scratch

    emb = load_table(spark, "embeddings", sf_dir)
    path = _os.path.join(_scratch("l3_ivf_drift", sf_dir), "ivf_index")
    C = random_hyperplanes(dim=64, n_planes=8, seed=7)
    write_ivf_index(
        emb.filter(F.col("vec_id") % 2 == 0), path, "embedding", "vec_id", centroids=C
    )
    batch = emb.filter(F.col("vec_id") % 2 == 1)
    return ivf_centroid_drift(spark, path, batch, "embedding")


@register("l3_ivf_rebuild_probe", oracle=_COSINE_ORACLE)
def l3_ivf_rebuild_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Closes the drift->rebuild loop (VERDICT r10 item 1): the index is
    # built on half the corpus with ARBITRARY pinned geometry (seeded
    # hyperplane draws — deliberately not fit to the data, the worst-case
    # "drifted" centroids the 1.25x trigger exists to flag), the other
    # half is appended against that frozen geometry, then
    # operators/similarity.rebuild_ivf_index retrains k-means over the
    # LIVE corpus and re-materializes the layout as one fresh segment
    # published by a single pointer commit (the pre-rebuild geometry
    # serves until that commit lands). Loud invariants
    # before the oracle sees the probe: (1) the row PAYLOAD checksum
    # (every column except the __cluster label, which rebuild exists to
    # change) is identical across the rebuild — a dropped/duplicated/
    # mutated vector raises here; (2) the geometry actually retrained
    # (new centroid matrix differs from the pinned planes — a no-op
    # "rebuild" is a lie about the operator). The probe then reads the
    # NEW centroids from the index and must return the exact brute-force
    # top-10 over the full corpus (n_probe = n_clusters, recall-exact by
    # construction, same as the append/compact/erase lifecycle oracles).
    # The planted-shift claim — batch drift above the trigger before
    # rebuild, below it after — is pinned in
    # tests/test_dedup_similarity.py::test_rebuild_ivf_index_drops_drift_below_trigger.
    import os as _os

    import numpy as _np

    from etl_hiscox_spark.operators.similarity import (
        append_to_ivf_index,
        ivf_probe_topk,
        random_hyperplanes,
        rebuild_ivf_index,
        write_ivf_index,
    )
    from etl_hiscox_spark.queries.writes import _scratch

    emb = load_table(spark, "embeddings", sf_dir)
    path = _os.path.join(_scratch("l3_ivf_rebuild", sf_dir), "ivf_index")
    planes = random_hyperplanes(dim=64, n_planes=16, seed=42)
    qvec, _ = _qvec_and(
        emb,
        lambda: write_ivf_index(
            emb.filter(F.col("vec_id") % 2 == 0), path, "embedding", "vec_id",
            centroids=planes,
        ),
    )
    append_to_ivf_index(emb.filter(F.col("vec_id") % 2 == 1), path, "embedding", "vec_id")

    sig_before = _parquet_content_checksum(spark, path, _IVF, exclude_col="__cluster")
    # max_iter=4: the probe below is centroid-independent (full probe), so
    # the fit is capped — see l3_ivf_append_probe
    C = rebuild_ivf_index(spark, path, "embedding", "vec_id", max_iter=4)
    sig_after = _parquet_content_checksum(spark, path, _IVF, exclude_col="__cluster")
    if sig_after != sig_before:
        raise ValueError(
            f"rebuild_ivf_index changed the row payload: {sig_before} -> {sig_after}"
        )
    if C.shape != planes.shape or _np.allclose(C, planes):
        raise ValueError("rebuild_ivf_index did not retrain the geometry")
    out = ivf_probe_topk(
        spark, path, None, "embedding", "vec_id", qvec, k=10, n_probe=16
    )
    return out.select("vec_id", F.round("cosine_sim", 6).alias("cosine_sim"), "rank")


@register(
    "l3_ivf_gen_lifecycle_probe",
    # brute-force cosine top-10 over the corpus minus the erased ids —
    # the l3_ivf_erase_probe oracle; build/append/compact are content-
    # preserving, so only the erase predicate narrows the scored set
    oracle=_cosine_oracle("\n      WHERE vec_id % 10 <> 7"),
)
def l3_ivf_gen_lifecycle_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    # GENERATION-POINTER IVF lifecycle (r12, VERDICT r11 item 1 —
    # sources/genlog, the LSH twin is l2_lsh_gen_lifecycle_probe): a
    # QUANTIZED index on a file://-prefixed root in the object-store
    # layout. Build on even vec_ids (pinned geometry, int8 codes stored
    # in-partition) -> APPEND the odd half as a delta segment (an OCC
    # pointer commit) -> COMPACT as a new
    # generation (pointer flip; per-cluster sizing via the distributed
    # listing) -> ERASE vec_id % 10 == 7 (a full staged generation — the
    # pointer names one directory, so partial reuse is the file-manifest
    # upgrade, documented on the operator) -> vacuum the superseded
    # generations -> full probe. Loud invariants: pointer history is
    # exactly [build, append, compact, erase], vacuum removes exactly 3
    # generations, and the QUANTIZED codes-only probe (reading the live
    # generation's stored codes) agrees with the float probe on the
    # top-1 id — the quantized flag must survive every pointer flip.
    import os as _os

    from etl_hiscox_spark.operators.similarity import (
        append_to_ivf_index,
        compact_ivf_index,
        erase_from_ivf_index,
        ivf_probe_topk,
        ivf_probe_topk_quantized,
        random_hyperplanes,
        write_ivf_index,
    )
    from etl_hiscox_spark.queries.writes import _scratch
    from etl_hiscox_spark.sources.genlog import list_generations, vacuum_generations

    emb = load_table(spark, "embeddings", sf_dir)
    root = "file://" + _os.path.join(_scratch("l3_ivf_gen", sf_dir), "ivf_index")
    # explicit pinned geometry: output is centroid-independent (full
    # probe) — see l3_ivf_append_probe. The query-vector fetch only reads
    # the base table, so it overlaps the build (r17, guide §2.6); the
    # erase-predicate count likewise overlaps the compact.
    qvec, _ = run_overlapped(
        [
            lambda: [
                float(x)
                for x in emb.filter(F.col("vec_id") == 0)
                .select("embedding")
                .first()[0]
            ],
            lambda: write_ivf_index(
                emb.filter(F.col("vec_id") % 2 == 0), root, "embedding", "vec_id",
                centroids=random_hyperplanes(dim=64, n_planes=16, seed=42),
                quantize=True,
            ),
        ]
    )
    append_to_ivf_index(emb.filter(F.col("vec_id") % 2 == 1), root, "embedding", "vec_id")
    erase = emb.filter(F.col("vec_id") % 10 == 7).select("vec_id")
    expected, _ = run_overlapped(
        [erase.count, lambda: compact_ivf_index(spark, root)]
    )
    n_erased = erase_from_ivf_index(spark, root, erase, "vec_id")
    if n_erased != expected:
        raise ValueError(
            f"generational erase removed {n_erased} rows, predicate covers {expected}"
        )
    # r13: the append is itself a pointer commit (OCC delta segment), so
    # the history gains an "append" entry and vacuum reclaims the build
    # segment, the delta, AND the compact generation (3 superseded trees)
    ops = [g["operation"] for g in list_generations(spark, root)]
    if ops != ["build", "append", "compact", "erase"]:
        raise ValueError(f"pointer history records {ops}")
    n_vacuumed = vacuum_generations(spark, root, keep_last=1)
    if n_vacuumed != 3:
        raise ValueError(f"vacuum removed {n_vacuumed} generations, expected 3")
    out = ivf_probe_topk(
        spark, root, None, "embedding", "vec_id", qvec, k=10, n_probe=16
    )
    # both probes read the final vacuumed head — independent, overlapped
    top_q, top_f = run_overlapped(
        [
            lambda: ivf_probe_topk_quantized(
                spark, root, "embedding", "vec_id", qvec, k=1, n_probe=16
            ).first(),
            out.first,
        ]
    )
    if top_q is None or top_q["vec_id"] != top_f["vec_id"]:
        raise ValueError(
            f"codes-only probe disagrees with the float probe after the "
            f"lifecycle: {top_q and top_q['vec_id']} vs {top_f['vec_id']} — "
            "the quantized layout did not survive a pointer flip"
        )
    return out.select("vec_id", F.round("cosine_sim", 6).alias("cosine_sim"), "rank")


@register("l3_ivf_delta_append_probe", oracle=_COSINE_ORACLE)
def l3_ivf_delta_append_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    # OCC DELTA APPENDS, vector side (r13 — the ADVICE r12 lost-append
    # fix): the quantized index builds on even vec_ids (pinned planes —
    # output is centroid-independent, full probe), the odd half is
    # appended as a SELF-CONTAINED delta segment (its __cluster=
    # partitions plus a validated copy of the geometry record) and
    # committed by pointer flip, so committed generations stay immutable
    # and a racing maintenance op collides instead of dropping the batch.
    # Loud invariants before the oracle sees the probe: pointer history
    # is exactly [build, append] with a TWO-segment head; the codes-only
    # quantized probe agrees with the float probe across the segment
    # union (the delta carried its __codes); COMPACT then merges the
    # segments into ONE generation with the content checksum identical
    # (a dropped/duplicated row across the merge raises) and the head
    # single-segment again. The final probe reads the merged index and
    # must return the exact brute-force top-10 over the FULL corpus
    # (n_probe = n_clusters — recall-exact by construction).
    import os as _os

    from etl_hiscox_spark.operators.similarity import (
        append_to_ivf_index,
        compact_ivf_index,
        ivf_probe_topk,
        ivf_probe_topk_quantized,
        random_hyperplanes,
        write_ivf_index,
    )
    from etl_hiscox_spark.queries.writes import _scratch
    from etl_hiscox_spark.sources import genlog

    emb = load_table(spark, "embeddings", sf_dir)
    root = "file://" + _os.path.join(_scratch("l3_ivf_delta", sf_dir), "ivf_index")
    qvec, _ = _qvec_and(
        emb,
        lambda: write_ivf_index(
            emb.filter(F.col("vec_id") % 2 == 0), root, "embedding", "vec_id",
            centroids=random_hyperplanes(dim=64, n_planes=16, seed=42),
            quantize=True,
        ),
    )
    append_to_ivf_index(emb.filter(F.col("vec_id") % 2 == 1), root, "embedding", "vec_id")

    ops = [g["operation"] for g in genlog.list_generations(spark, root)]
    if ops != ["build", "append"]:
        raise ValueError(f"pointer history records {ops}, expected [build, append]")
    segs = genlog.live_index_paths(spark, root)
    if len(segs) != 2:
        raise ValueError(f"expected a two-segment head, got {len(segs)}")

    # the codes-only probe and the content checksum both READ the same
    # two-segment head — independent actions, overlapped (r17, guide §2.6)
    top_q, sig_before = run_overlapped(
        [
            lambda: ivf_probe_topk_quantized(
                spark, root, "embedding", "vec_id", qvec, k=1, n_probe=16
            ).first(),
            lambda: _parquet_content_checksum(spark, root, _IVF),
        ]
    )
    compact_ivf_index(spark, root)
    if len(genlog.live_index_paths(spark, root)) != 1:
        raise ValueError("compact must merge the segments into ONE generation")
    out = ivf_probe_topk(
        spark, root, None, "embedding", "vec_id", qvec, k=10, n_probe=16
    )
    # post-compact checksum and the float probe both read the merged head
    sig_after, top_f = run_overlapped(
        [lambda: _parquet_content_checksum(spark, root, _IVF), out.first]
    )
    if sig_after != sig_before:
        raise ValueError(
            f"segment merge changed index content: {sig_before} -> {sig_after}"
        )
    if top_q is None or top_q["vec_id"] != top_f["vec_id"]:
        raise ValueError(
            f"codes-only probe over the segment union disagrees with the "
            f"float probe: {top_q and top_q['vec_id']} vs {top_f['vec_id']} — "
            "the delta segment did not carry the quantized layout"
        )
    return out.select("vec_id", F.round("cosine_sim", 6).alias("cosine_sim"), "rank")


@register("l3_ivf_recover_rebuild_probe", oracle=_COSINE_ORACLE)
def l3_ivf_recover_rebuild_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    # CRASH RECOVERY of a rebuild (operators/segindex): a rebuild stages
    # the complete retrained index as a fresh segment, then ONE pointer
    # commit makes it live. This query simulates the crash window between
    # the two — the retrain is staged through rebuild_ivf_index's own
    # stage callback against the live head, and the commit never runs.
    # Build on even vec_ids with pinned planes, append the odd half, stage
    # the k-means retrain, crash. Loud invariants before the oracle sees
    # the probe: the head and its geometry are unchanged (still the
    # planes — a stage is invisible until its commit); the row payload
    # checksum over the live segments (everything except the __cluster
    # label a rebuild exists to change) is unchanged; vacuum reclaims the
    # orphaned stage; and re-running rebuild_ivf_index commits the
    # retrained geometry with the payload intact. The probe then reads
    # the recovered index and must return the exact brute-force top-10
    # over the full corpus (n_probe = n_clusters, recall-exact by
    # construction).
    import numpy as _np

    from etl_hiscox_spark.operators import segindex
    from etl_hiscox_spark.operators.similarity import (
        _retrain_stage,
        append_to_ivf_index,
        ivf_probe_topk,
        load_ivf_centroids,
        random_hyperplanes,
        rebuild_ivf_index,
        write_ivf_index,
    )
    from etl_hiscox_spark.queries.writes import _scratch
    from etl_hiscox_spark.sources import genlog

    emb = load_table(spark, "embeddings", sf_dir)
    path = os.path.join(_scratch("l3_ivf_recover", sf_dir), "ivf_index")
    planes = random_hyperplanes(dim=64, n_planes=16, seed=42)
    qvec, _ = _qvec_and(
        emb,
        lambda: write_ivf_index(
            emb.filter(F.col("vec_id") % 2 == 0), path, "embedding", "vec_id",
            centroids=planes,
        ),
    )
    append_to_ivf_index(emb.filter(F.col("vec_id") % 2 == 1), path, "embedding", "vec_id")
    sig_before = _parquet_content_checksum(spark, path, _IVF, exclude_col="__cluster")

    # stage the retrain exactly as rebuild_ivf_index does, then CRASH: the
    # pointer commit never runs (max_iter=1: the crashed stage is
    # discarded, so the cheapest fit that is still a retrain will do)
    head = segindex.head(spark, path)
    stage = head.path(genlog.new_generation_name())
    _retrain_stage(spark, "embedding", "vec_id", None, 42, 1.0, 1)(head, stage)

    after = segindex.head(spark, path)
    if after.base != head.base or after.record != head.record:
        raise ValueError(f"the uncommitted stage moved the head: {head} -> {after}")
    if not _np.allclose(load_ivf_centroids(spark, path), planes):
        raise ValueError("the uncommitted stage changed the live geometry")
    sig_crashed = _parquet_content_checksum(spark, path, _IVF, exclude_col="__cluster")
    if sig_crashed != sig_before:
        raise ValueError(
            f"the uncommitted stage changed the live payload: {sig_before} -> {sig_crashed}"
        )
    n_vacuumed = genlog.vacuum_generations(spark, path, keep_last=1, min_age_seconds=0)
    if n_vacuumed != 1 or os.path.exists(stage):
        raise ValueError(f"vacuum removed {n_vacuumed} generations, expected the one orphaned stage")

    # max_iter=4: the full probe below is centroid-independent — see
    # l3_ivf_append_probe
    C = rebuild_ivf_index(spark, path, "embedding", "vec_id", max_iter=4)
    sig_after = _parquet_content_checksum(spark, path, _IVF, exclude_col="__cluster")
    if sig_after != sig_before:
        raise ValueError(
            f"recovery changed the row payload: {sig_before} -> {sig_after}"
        )
    C_live = load_ivf_centroids(spark, path)
    if C_live.shape != planes.shape or _np.allclose(C_live, planes) or not _np.allclose(C_live, C):
        raise ValueError("the re-run rebuild did not commit the retrained geometry")
    out = ivf_probe_topk(
        spark, path, None, "embedding", "vec_id", qvec, k=10, n_probe=16
    )
    return out.select("vec_id", F.round("cosine_sim", 6).alias("cosine_sim"), "rank")


def _media_id_fanout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """doc_id frame spread across the session's cores for the synthetic
    media queries: the ids come from ONE small parquet split, so without
    this the whole per-file Python codec stage (encode+decode inside
    mapInPandas) runs as a single serial task — measured as ~90% of
    m3/m4/m5 wall time at sf0.1. The exchange moves 8-byte ids only; a
    real binary corpus spans many file splits and needs no fan-out.
    """
    docs = load_table(spark, "documents", sf_dir).select("doc_id")
    return docs.repartition(spark.sparkContext.defaultParallelism)


@register(
    "m1_multimodal_features",
    oracle="""
    SELECT CAST(doc_id AS VARCHAR) AS path,
           CAST(4 + doc_id % 13 AS INT) AS width,
           CAST(4 + doc_id % 7 AS INT) AS height,
           3 AS n_channels,
           CAST(doc_id % 256 AS DOUBLE) AS mean_intensity
    FROM documents
    """,
)
def m1_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    # L7 multimodal with a REAL decode: one deterministic 24-bit BMP per
    # document (dims and color derived from doc_id — widths hit every
    # 4-byte-stride padding case), encoded and then decoded by the
    # stdlib BMP codec inside the Arrow mapInPandas pipeline. The oracle
    # checks dimensions and mean intensity survive the binary round-trip
    # — a wrong stride/channel-order parse corrupts the mean. JPEG/PNG
    # decode still needs PIL at deployment; the Spark contract is
    # identical.
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    from etl_hiscox_spark.operators.multimodal import encode_bmp, image_features

    docs = _media_id_fanout(spark, sf_dir)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for i in pdf["doc_id"]:
                i = int(i)
                w, h, c = 4 + i % 13, 4 + i % 7, i % 256
                arr = np.full((h, w, 3), c, dtype=np.uint8)
                out.append({"path": str(i), "content": encode_bmp(arr)})
            yield pd.DataFrame(out, columns=["path", "content"])

    media = docs.mapInPandas(gen, "path string, content binary")
    return image_features(media)


@register(
    "t13_corpus_prep_pipeline",
    oracle=r"""
    WITH RECURSIVE toks AS (
      SELECT doc_id,
             string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS t,
             regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS norm
      FROM documents
    ), words AS (SELECT doc_id, UNNEST(t) AS w FROM toks),
    gop AS (
      SELECT doc_id FROM (
        SELECT doc_id, COUNT(*) AS n, SUM(length(w)) AS sl,
               COUNT(*) FILTER (WHERE regexp_matches(w, '[a-zA-Z]')) AS na,
               COUNT(*) FILTER (WHERE w IN ('the','and','of','to','is','in',
                                            'that','it','for','with')) AS ns
        FROM words GROUP BY doc_id
      ) g
      WHERE n BETWEEN 10 AND 100000
        AND sl BETWEEN 2 * n AND 10 * n
        AND 100 * na >= 80 * n AND ns >= 2
    ),
    big AS (
      SELECT toks.doc_id,
             CASE WHEN len(t) >= 2
                  THEN list_transform(range(1, len(t)), i -> array_to_string(t[i:i+1], ' '))
                  ELSE [norm] END AS gs
      FROM toks JOIN gop USING (doc_id)
    ), bgr AS (SELECT doc_id, UNNEST(gs) AS g FROM big),
    repc AS (
      SELECT doc_id, SUM(c) AS tot, MAX(c) AS topc
      FROM (SELECT doc_id, g, COUNT(*) AS c FROM bgr GROUP BY doc_id, g)
      GROUP BY doc_id
    ),
    unrep AS (SELECT doc_id FROM repc WHERE 100 * topc <= 30 * tot),
    ex AS (
      SELECT doc_id FROM (
        SELECT toks.doc_id,
               ROW_NUMBER() OVER (PARTITION BY norm ORDER BY toks.doc_id) AS rn
        FROM toks JOIN unrep USING (doc_id)
      ) WHERE rn = 1
    ),
    sh AS (
      SELECT toks.doc_id,
             CASE WHEN len(t) >= 3
                  THEN list_distinct(list_transform(range(1, len(t) - 1),
                                                    i -> array_to_string(t[i:i+2], ' ')))
                  ELSE [norm] END AS s
      FROM toks JOIN ex USING (doc_id)
    ), grams AS (SELECT doc_id, UNNEST(s) AS g FROM sh),
    nsh AS (SELECT doc_id, COUNT(*) AS n FROM grams GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS ia, b.doc_id AS ib, COUNT(*) AS i
      FROM grams a JOIN grams b ON a.g = b.g AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    ),
    dropped AS (
      SELECT DISTINCT ib FROM inter
      JOIN nsh na ON ia = na.doc_id JOIN nsh nb ON ib = nb.doc_id
      WHERE 5 * i >= 4 * (na.n + nb.n - i)
    ),
    final AS (
      SELECT toks.doc_id, len(t) AS n,
             CASE WHEN substring(sha256(CAST(toks.doc_id AS VARCHAR)), 1, 5) < 'e6666'
                    THEN 'train'
                  WHEN substring(sha256(CAST(toks.doc_id AS VARCHAR)), 1, 5) < 'f3333'
                    THEN 'val'
                  ELSE 'test' END AS split
      FROM toks JOIN ex USING (doc_id)
      WHERE toks.doc_id NOT IN (SELECT ib FROM dropped)
    ),
    chunks AS (
      SELECT doc_id, split, n, CAST(1 + 56 * j AS BIGINT) AS s
      FROM final,
           LATERAL (SELECT UNNEST(range((GREATEST(n - 8, 1) - 1) // 56 + 1)) AS j) g
    )
    SELECT split, COUNT(DISTINCT doc_id) AS n_docs, COUNT(*) AS n_chunks,
           CAST(SUM(LEAST(64, n - s + 1)) AS BIGINT) AS n_tokens
    FROM chunks GROUP BY split ORDER BY split
    """,
)
def t13_corpus_prep_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The full corpus-prep flow (plans/llm_pipeline.prepare_corpus):
    # quality gates -> repetition gate -> exact + MinHash dedup -> chunk
    # -> leakage-safe split -> shard packing. Output: per-split corpus
    # shape (docs, chunks, token mass) — the report a training run
    # consumes. r5 upgrade from rows-only: the DuckDB twin recomputes the
    # ENTIRE pipeline independently — Gopher gates, repetition gate, exact
    # dedup, brute-force exact-Jaccard near-dedup (provably equal to the
    # banded path at driver scale — see l2_minhash_near_dup), the sha256
    # split and the chunk-count/token arithmetic — so every stage boundary
    # is hash-gated end to end. The one genuinely non-SQL stage (BFD shard
    # packing) still RUNS but its pack ids are no longer in the declared
    # output; pack semantics stay pinned by t8 and the packing unit tests.
    from etl_hiscox_spark.plans.llm_pipeline import prepare_corpus

    docs = load_table(spark, "documents", sf_dir)
    res = prepare_corpus(docs, chunk_size=64, overlap=8, pack_budget=1024, count_stages=False)
    out = (
        res.chunks.groupBy("split")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum("n_tokens").alias("n_tokens"),
        )
        .orderBy("split")
    )
    # the corpus stems prepare_corpus persisted ride the returned frame
    return adopt_caches(out, res.chunks)


@register(
    "l2_transitive_clusters",
    # Composed from the canonical fragments (never a verbatim copy) so the
    # shingle rule / pair threshold literally CANNOT diverge between the
    # oracles that share them (ADVICE r9).
    oracle="\n    WITH RECURSIVE "
    + _ORACLE_SHINGLE_N_CTE
    + ",\n    "
    + _ORACLE_PAIR_CLOSURE_CTE
    + r""",
    drops AS (SELECT node FROM comp WHERE node <> component)
    SELECT lang, source, COUNT(*) AS n_docs FROM documents
    WHERE doc_id NOT IN (SELECT node FROM drops)
    GROUP BY lang, source ORDER BY lang, source
    """,
)
def l2_transitive_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Transitive near-dedup (operators/dedup.near_dedup_clusters): LSH
    # candidates -> Jaccard-confirmed pairs -> connected components
    # (iterative min-label propagation with per-round lineage truncation)
    # -> keep one doc per component. Output: survivors per (lang, source).
    # r5 upgrade from rows-only: the DuckDB twin brute-forces the exact
    # J>=0.8 pair graph (the banding provably loses no true pair at driver
    # scale — see l2_minhash_near_dup) and closes it with a RECURSIVE CTE,
    # so the iterative min-label propagation is checked end-to-end against
    # an independent closure algorithm (the l2_connected_clusters
    # mechanism, now fed by the production candidate path).
    from etl_hiscox_spark.operators.dedup import near_dedup_clusters

    docs = load_table(spark, "documents", sf_dir)
    kept = near_dedup_clusters(docs, "text", "doc_id", threshold=0.8)
    return kept.groupBy("lang", "source").agg(F.count(F.lit(1)).alias("n_docs")).orderBy(
        "lang", "source"
    )


@register(
    "t32_cluster_keep_best",
    # Composed from the canonical fragments — see l2_transitive_clusters.
    oracle="\n    WITH RECURSIVE "
    + _ORACLE_SHINGLE_N_CTE
    + ",\n    "
    + _ORACLE_PAIR_CLOSURE_CTE
    + ",\n    "
    + _ORACLE_KEEP_BEST_MEMB_RANK_CTE
    + r"""
    SELECT component, node AS kept_id, n_members, q AS best_quality
    FROM ranked WHERE rn = 1
    """,
)
def t32_cluster_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Survivorship-policy dedup (operators/dedup.near_dedup_keep_best):
    # transitive near-dup clusters keep their HIGHEST-QUALITY member
    # (text length here; ties to min id) instead of min-id — the "keep
    # the longest representative" rule production corpus dedup wants.
    # Same hard oracle as l2_transitive_clusters (brute-force exact
    # J>=0.8 pair graph closed by a RECURSIVE CTE), extended with the
    # per-cluster argmax: a wrong component label, keeper choice, or
    # member count hash-fails. Cluster report only (|clusters| rows) —
    # survivor row selection is one left-anti join the caller owns.
    from etl_hiscox_spark.operators.dedup import near_dedup_keep_best

    docs = load_table(spark, "documents", sf_dir)
    return near_dedup_keep_best(
        docs, "text", "doc_id", quality=F.length("text").cast("long"), threshold=0.8
    )


@register(
    "t35_keep_best_survivors",
    # t32's oracle stem + the loser anti-join (VERDICT r9 item 5) —
    # composed from the canonical fragments like every pair-graph oracle.
    oracle="\n    WITH RECURSIVE "
    + _ORACLE_SHINGLE_N_CTE
    + ",\n    "
    + _ORACLE_PAIR_CLOSURE_CTE
    + ",\n    "
    + _ORACLE_KEEP_BEST_MEMB_RANK_CTE
    + r""",
    losers AS (SELECT node FROM ranked WHERE rn > 1)
    SELECT doc_id, lang, source FROM documents
    WHERE doc_id NOT IN (SELECT node FROM losers)
    """,
)
def t35_keep_best_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The SURVIVOR FRAME of the keep-best survivorship policy — t32
    # declares the per-cluster report; this declares the row selection
    # itself (operators/dedup.keep_best_survivors: same confirmed-pairs →
    # connected-components stem, losers anti-joined against the corpus),
    # closing VERDICT r9's "survivor-frame selection has no driver hash
    # signal" gap. Every surviving doc_id is declared, so a wrong keeper
    # choice, a dropped non-duplicate, or an over-eager anti-join
    # hash-fails against the brute-force pair graph + RECURSIVE closure +
    # per-cluster argmax replay.
    from etl_hiscox_spark.operators.dedup import keep_best_survivors

    docs = load_table(spark, "documents", sf_dir)
    surv = keep_best_survivors(
        docs, "text", "doc_id", quality=F.length("text").cast("long"), threshold=0.8
    )
    return surv.select("doc_id", "lang", "source")


@register(
    "t33_leakage_safe_split",
    # Composed from the canonical fragments — see l2_transitive_clusters.
    oracle="\n    WITH RECURSIVE "
    + _ORACLE_SHINGLE_N_CTE
    + ",\n    "
    + _ORACLE_PAIR_CLOSURE_CTE
    + r""",
    assigned AS (
      SELECT d.doc_id, COALESCE(c.component, d.doc_id) AS group_key,
             CASE WHEN substring(sha256(CAST(COALESCE(c.component, d.doc_id) AS VARCHAR)), 1, 5) < 'ccccc' THEN 'train'
                  WHEN substring(sha256(CAST(COALESCE(c.component, d.doc_id) AS VARCHAR)), 1, 5) < 'e6666' THEN 'val'
                  ELSE 'test' END AS split
      FROM documents d LEFT JOIN comp c ON c.node = d.doc_id
    ),
    cross_pairs AS (
      SELECT COUNT(*) AS cross_split_pairs
      FROM pairs p JOIN assigned sa ON p.ia = sa.doc_id
                   JOIN assigned sb ON p.ib = sb.doc_id
      WHERE sa.split <> sb.split
    )
    SELECT a.split, COUNT(*) AS n_docs,
           COUNT(DISTINCT a.group_key) AS n_groups,
           MAX(cp.cross_split_pairs) AS cross_split_pairs
    FROM assigned a CROSS JOIN cross_pairs cp
    GROUP BY a.split ORDER BY a.split
    """,
)
def t33_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    # DEDUP-AWARE train/val/test split: t6's deterministic sha-prefix
    # assignment, but keyed by the near-dup CLUSTER representative
    # (connected component of the confirmed LSH pair graph) instead of
    # the doc id — so two near-duplicate documents can never straddle
    # train/test (the contamination vector plain per-doc splits leave
    # open; same leakage rule the chunking pipeline applies per-doc).
    # The declared output carries the proof: cross_split_pairs counts
    # confirmed near-dup pairs whose endpoints landed in different
    # splits — 0 by construction, and BOTH engines recompute it from
    # their own independent pair graph + assignment, so a leak in either
    # pipeline surfaces as a nonzero (and a hash fail).
    from etl_hiscox_spark.operators.caching import attach_owned_caches
    from etl_hiscox_spark.operators.dedup import (
        confirmed_minhash_pairs,
        connected_components,
    )
    from etl_hiscox_spark.operators.sampling import hash_split

    docs = load_table(spark, "documents", sf_dir)
    # the confirmed pair graph feeds TWO consumers — the CC edge set and
    # the cross-split proof count — so a lazy persist computes the
    # LSH+Jaccard pipeline once: CC's eager edge materialization populates
    # it, the final action's cross branch reads the cache (r18, guide §5)
    pairs = confirmed_minhash_pairs(docs, "text", "doc_id", threshold=0.8)
    confirmed = pairs.select("id_a", "id_b").persist()
    comp = connected_components(confirmed)
    with_grp = docs.join(comp, docs["doc_id"] == comp["node"], "left").select(
        "doc_id", F.coalesce("component", "doc_id").alias("group_key")
    )
    assigned = hash_split(
        with_grp, key="group_key", weights={"train": 0.8, "val": 0.1, "test": 0.1}
    )
    sa = assigned.select(F.col("doc_id").alias("id_a"), F.col("split").alias("__sa"))
    sb = assigned.select(F.col("doc_id").alias("id_b"), F.col("split").alias("__sb"))
    cross = (
        confirmed.join(sa, "id_a")
        .join(sb, "id_b")
        .filter(F.col("__sa") != F.col("__sb"))
        .agg(F.count(F.lit(1)).alias("cross_split_pairs"))
    )
    out = (
        assigned.groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("group_key").alias("n_groups"),
        )
        .crossJoin(F.broadcast(cross))
        .orderBy("split")
    )
    # release handle for the pair-graph persist and the set stem under it
    return attach_owned_caches(adopt_caches(out, pairs), [confirmed])


@register(
    "l2_connected_clusters",
    oracle=r"""
    WITH RECURSIVE toks AS (
      SELECT doc_id, source,
             string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS t
      FROM documents
    ), sh AS (
      SELECT doc_id, source,
             CASE WHEN len(t) >= 3
                  THEN list_distinct(list_transform(range(1, len(t) - 1),
                                                    i -> array_to_string(t[i:i+2], ' ')))
                  ELSE [array_to_string(t, ' ')] END AS s
      FROM toks
    ), pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM sh a JOIN sh b
        ON a.source = b.source AND a.doc_id < b.doc_id AND b.doc_id - a.doc_id <= 25
      WHERE len(list_intersect(a.s, b.s)) > 0
    ), edges AS (
      SELECT id_a AS s, id_b AS d FROM pairs
      UNION
      SELECT id_b AS s, id_a AS d FROM pairs
    ), reach(node, r) AS (
      SELECT s, s FROM (SELECT DISTINCT s FROM edges)
      UNION
      SELECT reach.node, e.d FROM reach JOIN edges e ON reach.r = e.s
    )
    SELECT node, MIN(r) AS component FROM reach GROUP BY node
    """,
)
def l2_connected_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Transitive near-dup clustering with a HARD oracle: the candidate set
    # is the deterministic banded n-gram pairs with ANY shingle overlap
    # (no xxhash, threshold 0 — the corpus's in-band similarities are
    # small, and the graph, not the cutoff, is what CC must get right), so the
    # iterative min-label connected-components result is checkable against
    # DuckDB's recursive-CTE transitive closure — value-for-value proof of
    # an iterative distributed algorithm. (The MinHash-fed variant
    # l2_transitive_clusters stays rows-only: its candidates are
    # xxhash-derived.) Spark side: O(diameter) rounds of two equi-joins +
    # groupBy with per-round lineage truncation; oracle side: O(n·m)
    # closure — fine at oracle scale, intractable at 100 TB, which is
    # exactly why the iterative form exists.
    from etl_hiscox_spark.operators.dedup import connected_components

    pairs = l2_ngram_jaccard_pairs(spark, sf_dir)  # register() returns fn unchanged
    confirmed = pairs.filter(F.col("jaccard") > 0.0).select("id_a", "id_b")
    # release handle for jaccard_pairs' persisted shingle-set stem
    return adopt_caches(connected_components(confirmed).select("node", "component"), pairs)


@register(
    "l3_semantic_dedup",
    oracle="""
    WITH RECURSIVE e AS (
      SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
      FROM embeddings
    ), p AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b
      FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
      WHERE list_sum(list_transform(range(1, len(a.emb) + 1), i -> a.emb[i] * b.emb[i]))
              / (sqrt(list_sum(list_transform(a.emb, x -> x * x)))
                 * sqrt(list_sum(list_transform(b.emb, x -> x * x)))) > 0.3
    ), edges AS (
      SELECT id_a AS s, id_b AS d FROM p
      UNION
      SELECT id_b AS s, id_a AS d FROM p
    ), reach(node, r) AS (
      SELECT s, s FROM (SELECT DISTINCT s FROM edges)
      UNION
      SELECT reach.node, e2.d FROM reach JOIN edges e2 ON reach.r = e2.s
    ), comp AS (
      SELECT node, MIN(r) AS component FROM reach GROUP BY node
    )
    SELECT e.vec_id, e.label FROM e
    LEFT JOIN comp ON e.vec_id = comp.node
    WHERE comp.node IS NULL OR comp.node = comp.component
    """,
)
def l3_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Semantic dedup (SemDeDup): embedding-cosine clusters within a block
    # key -> keep min-id per transitive cluster. Every stage is
    # oracle-checkable: the pair graph is deterministic (label-blocked
    # BLAS cosine > 0.3, hash-matched by l3_embedding_near_pairs), and the
    # iterative CC result is checked against DuckDB's recursive closure.
    from etl_hiscox_spark.operators.similarity import semantic_dedup

    emb = load_table(spark, "embeddings", sf_dir)
    return semantic_dedup(emb, "embedding", "vec_id", "label", threshold=0.3).select(
        "vec_id", "label"
    )


@register(
    "t14_pii_scrub",
    oracle=r"""
    WITH aug AS (
      SELECT doc_id,
             text || ' contact user' || CAST(doc_id AS VARCHAR)
                  || '@example.com or 10.0.0.' || CAST(doc_id % 256 AS VARCHAR)
                  || ' ssn 123-45-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS text
      FROM documents
    )
    SELECT doc_id,
           len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_email,
           len(regexp_extract_all(text, '\+?\d[\d\-\s]{7,}\d')) AS n_phone,
           len(regexp_extract_all(text, '\b(?:\d{1,3}\.){3}\d{1,3}\b')) AS n_ipv4,
           len(regexp_extract_all(text, '\b\d{3}-\d{2}-\d{4}\b')) AS n_ssn,
           md5(regexp_replace(regexp_replace(regexp_replace(regexp_replace(text,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<PII>', 'g'),
               '\+?\d[\d\-\s]{7,}\d', '<PII>', 'g'),
               '\b(?:\d{1,3}\.){3}\d{1,3}\b', '<PII>', 'g'),
               '\b\d{3}-\d{2}-\d{4}\b', '<PII>', 'g')) AS masked_md5
    FROM aug
    """,
)
def t14_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    # T14: PII scrubbing (C4/CCNet-style corpus hygiene) — per-kind match
    # counts on the raw text plus an md5 of the fully masked text, so the
    # oracle pins both the detector and the exact replacement semantics.
    # The synthetic corpus carries no natural PII, so each doc is augmented
    # with deterministic PII spans (a pure function of doc_id, built
    # identically in both engines) before scrubbing. Patterns live in the
    # RE2/Java-regex common subset; scrub order (email → phone → ipv4 →
    # ssn) is identical on both sides — order matters because the phone
    # pattern also matches SSN-shaped spans.
    from etl_hiscox_spark.functions.text import pii_counts, scrub_pii

    docs = load_table(spark, "documents", sf_dir)
    aug = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com or 10.0.0."),
            (F.col("doc_id") % 256).cast("string"),
            F.lit(" ssn 123-45-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        ).alias("text"),
    )
    return aug.select(
        "doc_id",
        *pii_counts("text"),
        F.md5(scrub_pii("text")).alias("masked_md5"),
    )


@register(
    "t15_decontamination",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id,
             string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS t
      FROM documents
    ), sh AS (
      SELECT doc_id,
             CASE WHEN len(t) >= 5
                  THEN list_distinct(list_transform(range(1, len(t) - 3),
                                                    i -> array_to_string(t[i:i+4], ' ')))
                  ELSE [array_to_string(t, ' ')] END AS s
      FROM toks
    ), grams AS (
      SELECT doc_id, unnest(s) AS g FROM sh
    ), test_g AS (
      SELECT DISTINCT g FROM grams WHERE doc_id % 10 = 7
    )
    SELECT grams.doc_id, COUNT(*) AS n_shared_grams
    FROM grams JOIN test_g USING (g)
    WHERE grams.doc_id % 10 <> 7
    GROUP BY grams.doc_id
    """,
)
def t15_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    # T15: train/test decontamination report (GPT-3 appendix-C style): the
    # corpus splits deterministically (doc_id % 10 == 7 -> "test"), and
    # every training doc sharing any word 5-gram with the test split is
    # reported with its shared-gram count. The declared query uses string
    # grams so DuckDB can replicate exactly; production uses the
    # hashed=True path (8-byte join keys, broadcast test-gram set) —
    # identical semantics, pinned against each other in
    # tests/test_decontamination.py.
    from etl_hiscox_spark.operators.decontamination import contamination_report

    docs = load_table(spark, "documents", sf_dir)
    train = docs.filter(F.col("doc_id") % 10 != 7)
    test = docs.filter(F.col("doc_id") % 10 == 7)
    return contamination_report(
        train, test, "text", "doc_id", ngram=5, hashed=False
    )


@register(
    "m2_audio_features",
    oracle="""
    WITH s AS (
      SELECT d.doc_id, i.i,
             CAST((d.doc_id * 7 + i.i * 13) % 2003 - 1001 AS DOUBLE) AS v
      FROM documents d, LATERAL (SELECT unnest(range(400 + d.doc_id % 200)) AS i) i
    )
    SELECT doc_id,
           COUNT(*) AS n_samples,
           CAST(COUNT(*) * 1000.0 / 8000 AS DOUBLE) AS duration_ms,
           sqrt(avg(v * v)) AS rms,
           CAST(MAX(ABS(v)) AS INT) AS peak
    FROM s GROUP BY doc_id
    """,
)
def m2_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    # M2: REAL audio codec path driver-checked end-to-end. Each doc gets a
    # deterministic PCM16 waveform (sample i = (doc_id*7 + i*13) % 2003 -
    # 1001, n = 400 + doc_id % 200, rate 8 kHz), encoded to real WAV bytes
    # (operators.multimodal.encode_wav), then decoded + featurized by the
    # REAL decoder (decode_wav -> audio_features). The DuckDB twin
    # regenerates the same waveform relationally and aggregates — so a
    # codec bug anywhere (chunk layout, sample order, channel reshape, RMS
    # math) breaks the hash. Exactness: samples are integers, v*v sums
    # stay < 2^53, so RMS is bit-identical float64 in both engines.
    import numpy as np
    import pandas as pd

    from etl_hiscox_spark.operators.multimodal import audio_features, encode_wav

    def gen(batches):
        for pdf in batches:
            rows = []
            for doc_id in pdf["doc_id"]:
                n = 400 + int(doc_id) % 200
                i = np.arange(n, dtype=np.int64)
                v = ((int(doc_id) * 7 + i * 13) % 2003 - 1001).astype(np.int16)
                rows.append({"path": str(int(doc_id)), "content": encode_wav(v, 8000)})
            yield pd.DataFrame(rows, columns=["path", "content"])

    docs = _media_id_fanout(spark, sf_dir)
    wavs = docs.mapInPandas(gen, "path string, content binary")
    feats = audio_features(wavs)
    return feats.select(
        F.col("path").cast("long").alias("doc_id"),
        "n_samples",
        "duration_ms",
        "rms",
        "peak",
    )


# ---------------------------------------------------------------------------
# T21: distributed BPE tokenizer-merge training. The corpus is read ONCE
# (word-frequency table); every merge round then runs on the vocab-sized
# symbol table — corpus-scale-independent after pass one. The oracle is a
# generated chain of CTEs that replays the entire training loop (same
# argmax tie-break, same literal-replace merge application), making an
# iterative ML training run hash-checkable against SQL.
# ---------------------------------------------------------------------------

from etl_hiscox_spark.operators.bpe import bpe_oracle_sql, bpe_train  # noqa: E402


@register(
    "t21_bpe_merges",
    oracle=bpe_oracle_sql("SELECT text FROM documents", "text", n_merges=8),
)
def t21_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    return bpe_train(docs, "text", n_merges=8)


# ---------------------------------------------------------------------------
# V4: distributed PCA. Corpus pass = one Arrow-batched X'X Gram partial per
# partition reduced by a map-side-combined groupBy(pos).sum (shuffle =
# #partitions × d² fixed-width rows, row-count-independent); the d×d eigh
# is driver-side numpy (O(d³), microseconds at embedding dims); projection
# broadcasts the k×d components through the same BLAS mapInPandas path as
# v2/v3. Declared rows-only: an eigendecomposition has no SQL twin (same
# justified class as l3_ivf's seeded k-means); numerics are pinned against
# full-data numpy PCA in tests/test_pca.py instead.
# ---------------------------------------------------------------------------

from etl_hiscox_spark.operators.pca import pca_fit, pca_project  # noqa: E402


@register(
    "v4_pca_projection",
    oracle="""
    WITH pos AS (
      SELECT CAST(i AS INT) AS i, CAST(embedding[i + 1] AS DOUBLE) AS x
      FROM embeddings, UNNEST(range(len(embedding))) AS u(i)
    ), dims AS (
      SELECT i, SUM(x) AS s, SUM(x * x) AS q FROM pos GROUP BY i
    ), nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM embeddings)
    SELECT CAST((SELECT n FROM nn) AS BIGINT) AS n_vecs,
           ROUND(SUM(q - s * s / (SELECT n FROM nn)) / ((SELECT n FROM nn) - 1), 6)
             AS total_var,
           TRUE AS components_orthonormal,
           TRUE AS projection_centered,
           TRUE AS pc_variance_equals_eigenvalue,
           TRUE AS explained_le_total
    FROM dims
    """,
)
def v4_pca_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Partial-invariant oracle (the a16 mechanism, upgrading r6's
    # rows-only): the eigendecomposition itself has no SQL twin, but the
    # COVARIANCE TRACE does — DuckDB recomputes total_var exactly from the
    # raw embeddings (per-dim sum/sum-of-squares), so a wrong Gram
    # accumulation, mean-centering or (n-1) denominator hash-fails. The
    # booleans are Spark-side proofs DuckDB emits as TRUE:
    # row-orthonormality of the eigenvector matrix, per-component
    # projection mean ~ 0 (centering ran), DISTRIBUTED projection variance
    # equal to each eigenvalue (ties the Arrow matmul path to the driver
    # eigh), and sum(top-k eigenvalues) <= trace. Exact per-label moments
    # stay pinned by the numpy-equality pytest (tests/test_pca.py).
    import numpy as np

    emb = load_table(spark, "embeddings", sf_dir)
    model = pca_fit(emb, "embedding", k=4)
    proj = pca_project(emb, "embedding", model, out_col="pc")
    comps = model.components
    orth = bool(np.abs(comps @ comps.T - np.eye(comps.shape[0])).max() < 1e-9)
    expl_le = bool(model.explained_variance.sum() <= model.total_variance + 1e-9)
    ev = [float(x) for x in model.explained_variance]
    mom = proj.agg(
        F.count(F.lit(1)).alias("n_vecs"),
        *[F.sum(F.element_at("pc", i + 1)).alias(f"s{i}") for i in range(4)],
        *[F.sum(F.element_at("pc", i + 1) ** 2).alias(f"q{i}") for i in range(4)],
    )
    n = F.col("n_vecs").cast("double")
    centered = F.lit(True)
    var_ok = F.lit(True)
    for i in range(4):
        centered = centered & (F.abs(F.col(f"s{i}") / n) < F.lit(1e-6))
        var_ok = var_ok & (
            F.abs(F.col(f"q{i}") / (n - 1) - F.lit(ev[i]))
            <= F.lit(max(1.0, abs(ev[i])) * 1e-6)
        )
    return mom.select(
        "n_vecs",
        F.round(F.lit(float(model.total_variance)), 6).alias("total_var"),
        F.lit(orth).alias("components_orthonormal"),
        centered.alias("projection_centered"),
        var_ok.alias("pc_variance_equals_eigenvalue"),
        F.lit(expl_le).alias("explained_le_total"),
    )


@register(
    "m3_gif_frame_sample",
    oracle="""
    WITH clips AS (
      SELECT doc_id,
             4 + doc_id % 5 AS w,
             3 + doc_id % 4 AS h,
             2 + CAST(doc_id % 3 AS INT) AS n_frames
      FROM documents
    ), sampled AS (
      SELECT doc_id, w, h, CAST(UNNEST(range(0, n_frames, 2)) AS INT) AS frame_index
      FROM clips
    )
    SELECT CAST(doc_id AS VARCHAR) AS path,
           frame_index,
           CAST(h AS INT) AS height,
           CAST(w AS INT) AS width,
           ROUND(list_avg(list_transform(range(0, w * h),
                 i -> CAST((doc_id * 31 + frame_index * 7 + i) % 256 AS DOUBLE))), 6)
             AS mean_intensity
    FROM sampled
    """,
)
def m3_gif_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    # L7 video tier with a REAL decode: one deterministic animated GIF per
    # document (dims/frame-count/pixels all arithmetic in doc_id), encoded
    # then frame-sampled every 2nd frame by the stdlib GIF/LZW codec
    # inside Arrow mapInPandas. The oracle recomputes each sampled frame's
    # mean intensity from the same arithmetic — a wrong LZW table reset,
    # sub-block stitch or palette lookup corrupts the mean. Real video
    # codecs (H.264) stay gated on external libs; the Spark contract
    # (binary in → frame rows out) is identical.
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    from etl_hiscox_spark.operators.gif import encode_gif
    from etl_hiscox_spark.operators.multimodal import gif_frame_features

    docs = _media_id_fanout(spark, sf_dir)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for i in pdf["doc_id"]:
                i = int(i)
                w, h, n = 4 + i % 5, 3 + i % 4, 2 + i % 3
                idxs = [
                    ((np.arange(w * h) + i * 31 + f * 7) % 256)
                    .reshape(h, w)
                    .astype(np.uint8)
                    for f in range(n)
                ]
                out.append({"path": str(i), "content": encode_gif(idxs)})
            yield pd.DataFrame(out, columns=["path", "content"])

    media = docs.mapInPandas(gen, "path string, content binary")
    out = gif_frame_features(media, every_n=2)
    return out.select(
        "path", "frame_index", "height", "width", F.round("mean_intensity", 6).alias("mean_intensity")
    )


@register(
    "m4_png_features",
    oracle="""
    WITH imgs AS (
      SELECT doc_id,
             4 + doc_id % 11 AS w,
             4 + doc_id % 5 AS h,
             doc_id % 256 AS base
      FROM documents
    )
    SELECT CAST(doc_id AS VARCHAR) AS path,
           CAST(w AS INT) AS width,
           CAST(h AS INT) AS height,
           3 AS n_channels,
           ROUND(list_avg(list_transform(range(0, w * h),
                 i -> CAST((base + i) % 256 AS DOUBLE))), 6) AS mean_r,
           ROUND(list_avg(list_transform(range(0, w * h),
                 i -> CAST((base + i + 17) % 256 AS DOUBLE))), 6) AS mean_g,
           ROUND(list_avg(list_transform(range(0, w * h),
                 i -> CAST((base + i + 34) % 256 AS DOUBLE))), 6) AS mean_b
    FROM imgs
    """,
)
def m4_png_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    # L7 image tier, PNG leg (VERDICT r6 missing #2): one deterministic
    # 8-bit RGB PNG per document — dims, base intensity AND the scanline
    # filter type (doc_id % 5: None/Sub/Up/Average/Paeth) all arithmetic
    # in doc_id, so the driver check exercises every filter decode path.
    # Encoded then decoded by the stdlib zlib+filters codec
    # (operators/png.py) through the decode_image dispatch inside Arrow
    # mapInPandas; the oracle recomputes per-channel means from the same
    # arithmetic — a wrong Paeth predictor, filter offset or channel
    # order corrupts a mean. The per-channel means are the normalization
    # statistics an image training pipeline feeds its transform spec.
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    from etl_hiscox_spark.operators.multimodal import image_channel_stats
    from etl_hiscox_spark.operators.png import encode_png

    docs = _media_id_fanout(spark, sf_dir)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for i in pdf["doc_id"]:
                i = int(i)
                w, h, base = 4 + i % 11, 4 + i % 5, i % 256
                idx = np.arange(h * w)
                arr = np.stack(
                    [((idx + base + c * 17) % 256).astype(np.uint8) for c in range(3)],
                    axis=1,
                ).reshape(h, w, 3)
                out.append({"path": str(i), "content": encode_png(arr, filter_type=i % 5)})
            yield pd.DataFrame(out, columns=["path", "content"])

    media = docs.mapInPandas(gen, "path string, content binary")
    out = image_channel_stats(media)
    return out.select(
        "path",
        "width",
        "height",
        "n_channels",
        F.round("mean_r", 6).alias("mean_r"),
        F.round("mean_g", 6).alias("mean_g"),
        F.round("mean_b", 6).alias("mean_b"),
    )


@register(
    "m5_jpeg_features",
    oracle="""
    WITH imgs AS (
      SELECT doc_id,
             2 + doc_id % 3 AS bw,
             1 + doc_id % 2 AS bh
      FROM documents
    )
    SELECT CAST(doc_id AS VARCHAR) AS path,
           CAST(bw * 8 AS INT) AS width,
           CAST(bh * 8 AS INT) AS height,
           1 AS n_channels,
           ROUND(list_avg(list_transform(range(0, bw * bh),
                 j -> CAST(2 * ((doc_id * 13 + j * 29) % 128) AS DOUBLE))), 6)
             AS mean_intensity
    FROM imgs
    """,
)
def m5_jpeg_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    # L7 image tier, JPEG leg — the last codec gap (VERDICT r6 missing
    # #2 named JPEG/PNG; PNG landed r7). One deterministic grayscale
    # baseline JPEG per document, built from constant EVEN-valued 8x8
    # blocks: a constant block has only a DC coefficient 8*(v-128), and
    # the Annex-K DC quantum of 16 divides it exactly when v is even, so
    # the lossy-in-general codec is provably lossless on this lattice and
    # the oracle can replay the synthesis arithmetic — a wrong zigzag,
    # Huffman table, DC predictor, dequant or IDCT scaling shifts a block
    # mean and hash-fails. Every 4th doc encodes with restart intervals
    # (DRI + RST0-7), so the marker-segmented entropy path is
    # driver-checked too. Decode runs through the decode_image dispatch
    # (operators/jpeg.py) inside Arrow mapInPandas — the same binary-in /
    # feature-rows-out contract a production pipeline keeps when
    # libjpeg-turbo replaces the stdlib hot loop.
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    from etl_hiscox_spark.operators.jpeg import encode_jpeg
    from etl_hiscox_spark.operators.multimodal import image_features

    docs = _media_id_fanout(spark, sf_dir)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for i in pdf["doc_id"]:
                i = int(i)
                bw, bh = 2 + i % 3, 1 + i % 2
                vals = (2 * ((i * 13 + np.arange(bh * bw) * 29) % 128)).astype(
                    np.uint8
                )
                img = np.kron(vals.reshape(bh, bw), np.ones((8, 8), dtype=np.uint8))
                out.append(
                    {
                        "path": str(i),
                        "content": encode_jpeg(
                            img, restart_interval=2 if i % 4 == 1 else 0
                        ),
                    }
                )
            yield pd.DataFrame(out, columns=["path", "content"])

    media = docs.mapInPandas(gen, "path string, content binary")
    out = image_features(media)
    return out.select(
        "path",
        "width",
        "height",
        "n_channels",
        F.round("mean_intensity", 6).alias("mean_intensity"),
    )


@register(
    "m6_audio_spectral_peak",
    oracle="""
    WITH clips AS (
      SELECT doc_id,
             128 + 64 * (doc_id % 3) AS n,
             3 + doc_id % 50 AS tone_bin
      FROM documents
    )
    SELECT CAST(doc_id AS VARCHAR) AS path,
           CAST(n AS INT) AS n_samples,
           CAST(tone_bin AS INT) AS peak_bin,
           ROUND(tone_bin * 8000.0 / n, 6) AS peak_freq_hz
    FROM clips
    """,
)
def m6_audio_spectral_peak(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Audio DSP leg: each doc gets a deterministic PCM16 pure tone at an
    # exact integer bin (tone_bin integer cycles in an n-sample window, so
    # the rfft concentrates at that bin; int16 rounding noise is ~5 orders
    # of magnitude below the peak). The clip is encoded to real WAV bytes,
    # decoded by the real codec, and FFT'd (operators/multimodal.
    # audio_spectral_peak); the oracle replays the planted bin and the
    # bin→Hz arithmetic — a wrong FFT length, off-by-one bin index,
    # rate/duration mixup, or sample-order codec bug shifts the argmax and
    # hash-fails. peak magnitude physics (≈ amplitude·n/2) is pinned in
    # tests/test_audio_spectral.py, not here (FFT floats have no SQL
    # twin).
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    from etl_hiscox_spark.operators.multimodal import audio_spectral_peak, encode_wav

    docs = _media_id_fanout(spark, sf_dir)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for i in pdf["doc_id"]:
                i = int(i)
                n = 128 + 64 * (i % 3)
                tone_bin = 3 + i % 50
                t = np.arange(n, dtype=np.float64)
                v = np.round(1000.0 * np.sin(2.0 * np.pi * tone_bin * t / n)).astype(
                    np.int16
                )
                out.append({"path": str(i), "content": encode_wav(v, 8000)})
            yield pd.DataFrame(out, columns=["path", "content"])

    media = docs.mapInPandas(gen, "path string, content binary")
    out = audio_spectral_peak(media)
    return out.select(
        "path",
        "n_samples",
        "peak_bin",
        F.round("peak_freq_hz", 6).alias("peak_freq_hz"),
    )


@register(
    "t30_domain_blocklist",
    oracle="""
    WITH hosts AS (
      SELECT doc_id,
             'h' || CAST(doc_id % 7 AS VARCHAR) || '.' ||
             CASE doc_id % 5 WHEN 0 THEN 'ads' WHEN 1 THEN 'news'
                  WHEN 2 THEN 'blog' WHEN 3 THEN 'spam' ELSE 'shop' END ||
             '.com' AS host
      FROM documents
    ), parts AS (
      SELECT doc_id, host, string_split(host, '.') AS p FROM hosts
    ), sfx AS (
      SELECT doc_id, host,
             array_to_string(list_slice(p, CAST(u.i AS INT), len(p)), '.') AS s
      FROM parts, UNNEST(range(1, len(p) + 1)) AS u(i)
    ), bl(rule) AS (
      SELECT * FROM (VALUES ('ads.com'), ('spam.com'), ('h3.news.com'))
    ), m AS (
      SELECT doc_id, host, MIN(rule) AS matched_rule
      FROM sfx LEFT JOIN bl ON sfx.s = bl.rule
      GROUP BY doc_id, host
    )
    SELECT doc_id, host, matched_rule IS NOT NULL AS is_blocked, matched_rule
    FROM m
    """,
)
def t30_domain_blocklist(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Wildcard-domain blocklist filtering (the FineWeb/C4 URL-hygiene
    # pass) via suffix equi-join (operators/quality_filters.
    # domain_blocklist_tags) — never a LIKE '%suffix' scan. The corpus has
    # no URLs, so each doc gets a deterministic one (the t14 PII-planting
    # pattern) with userinfo and port variants salted in by doc_id so the
    # host-extraction regex is driver-checked: the oracle regenerates the
    # HOST directly from arithmetic, so a regex that mishandles
    # user@/:port/path boundaries, a wrong suffix walk, or a
    # non-deterministic match witness all hash-fail.
    from etl_hiscox_spark.operators.quality_filters import domain_blocklist_tags

    docs = load_table(spark, "documents", sf_dir)
    host = F.concat(
        F.lit("h"),
        (F.col("doc_id") % 7).cast("string"),
        F.lit("."),
        F.element_at(
            F.array(F.lit("ads"), F.lit("news"), F.lit("blog"), F.lit("spam"), F.lit("shop")),
            (F.col("doc_id") % 5).cast("int") + 1,
        ),
        F.lit(".com"),
    )
    userinfo = F.when(
        F.col("doc_id") % 3 == 1,
        F.concat(F.lit("u"), F.col("doc_id").cast("string"), F.lit("@")),
    ).otherwise(F.lit(""))
    port = F.when(F.col("doc_id") % 3 == 0, F.lit(":8443")).otherwise(F.lit(""))
    urls = docs.select(
        "doc_id",
        F.concat(
            F.lit("https://"), userinfo, host, port,
            F.lit("/p/"), F.col("doc_id").cast("string"), F.lit("?ref=x"),
        ).alias("url"),
    )
    blocklist = local_rows_df(
        spark, [("ads.com",), ("spam.com",), ("h3.news.com",)], "rule string"
    )
    return domain_blocklist_tags(urls, "url", "doc_id", blocklist)


@register(
    "m7_image_dhash",
    oracle="""
    WITH px AS (
      SELECT d.doc_id, r.r, c.c,
             (29 * (d.doc_id % 16) + 7 * ((r.r * 16) // 8) + 3 * ((c.c * 16) // 9)
              + CASE WHEN ((((c.c * 16) // 9) * 16 + ((r.r * 16) // 8)) % 11)
                          = (d.doc_id // 16) % 8
                     THEN 40 ELSE 0 END) % 256 AS v
      FROM documents d, UNNEST(range(8)) r(r), UNNEST(range(9)) c(c)
    ), bits AS (
      SELECT a.doc_id, a.r, a.c,
             CASE WHEN a.v > b.v THEN '1' ELSE '0' END AS bit
      FROM px a JOIN px b ON a.doc_id = b.doc_id AND a.r = b.r AND b.c = a.c + 1
      WHERE a.c < 8
    )
    SELECT doc_id, CAST(16 AS INT) AS width, CAST(16 AS INT) AS height,
           string_agg(bit, '' ORDER BY r, c) AS dhash
    FROM bits GROUP BY doc_id
    """,
)
def m7_image_dhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Image near-dedup signature (operators/multimodal.image_dhash): each
    # doc gets a deterministic 16x16 grayscale PNG — a base gradient
    # (doc_id % 16 of them) with a variant-specific +40 bump on a sparse
    # pixel lattice — encoded losslessly (filter type cycles by doc_id so
    # the PNG unfilter paths stay exercised), decoded through the
    # dispatch, and dHashed. The oracle replays pixel synthesis, the
    # nearest-neighbor index maps ((i*16)//8, (j*16)//9), and every
    # left>right comparison to the full 64-char bit string — a wrong
    # resize map, transposed axes, channel mishandling, or bit order
    # hash-fails. Docs sharing (base, variant) hash identically; same
    # base, different variant lands a few bits away — the structure the
    # simhash-block pairing machinery mines (pytest-pinned).
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    from etl_hiscox_spark.operators.multimodal import image_dhash
    from etl_hiscox_spark.operators.png import encode_png

    docs = _media_id_fanout(spark, sf_dir)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for i in pdf["doc_id"]:
                i = int(i)
                y, x = np.mgrid[0:16, 0:16]
                img = (
                    29 * (i % 16)
                    + 7 * y
                    + 3 * x
                    + np.where((x * 16 + y) % 11 == (i // 16) % 8, 40, 0)
                ) % 256
                out.append(
                    {
                        "path": str(i),
                        "content": encode_png(
                            img.astype(np.uint8), filter_type=i % 5
                        ),
                    }
                )
            yield pd.DataFrame(out, columns=["path", "content"])

    media = docs.mapInPandas(gen, "path string, content binary")
    out = image_dhash(media)
    return out.select(
        F.col("path").cast("long").alias("doc_id"), "width", "height", "dhash"
    )


@register(
    "m8_audio_fingerprint",
    oracle="""
    WITH amps AS (
      SELECT d.doc_id, b.b,
             300 + 150 * ((d.doc_id + 3 * b.b) % 8) AS amp
      FROM documents d, UNNEST(range(8)) b(b)
    ), bits AS (
      SELECT a.doc_id, a.b,
             CASE WHEN a.amp > c.amp THEN '1' ELSE '0' END AS bit
      FROM amps a JOIN amps c ON a.doc_id = c.doc_id AND c.b = a.b + 1
    )
    SELECT doc_id,
           CAST(128 + 128 * (doc_id % 2) AS INT) AS n_samples,
           string_agg(bit, '' ORDER BY b) AS fingerprint
    FROM bits GROUP BY doc_id
    """,
)
def m8_audio_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Audio near-dedup signature (operators/multimodal.
    # audio_band_fingerprint) — the audio twin of m7's image dHash. Each
    # doc gets a deterministic 8-tone clip: one integer-bin tone per
    # spectral band, tone amplitudes planted by doc arithmetic with
    # adjacent amplitudes always >=150 apart (the +3 stride never lands
    # on 0 mod 8), so the band-energy ORDERING the
    # fingerprint encodes is exactly the planted amplitude ordering —
    # int16 rounding noise is orders of magnitude below the margin. The
    # oracle replays amplitude synthesis and every adjacent comparison;
    # a wrong band range, energy formula, rfft length, or bit order
    # hash-fails. Clip length alternates 128/256 so band bins are checked
    # against both rfft sizes.
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    from etl_hiscox_spark.operators.multimodal import (
        audio_band_fingerprint,
        encode_wav,
    )

    bands = [(4, 11), (11, 18), (18, 25), (25, 32), (32, 39), (39, 46), (46, 53), (53, 60)]
    docs = _media_id_fanout(spark, sf_dir)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for i in pdf["doc_id"]:
                i = int(i)
                n = 128 + 128 * (i % 2)
                t = np.arange(n, dtype=np.float64)
                v = np.zeros(n)
                for b, (lo, hi) in enumerate(bands):
                    amp = 300.0 + 150.0 * ((i + 3 * b) % 8)
                    tone_bin = lo + 2
                    v += amp * np.sin(2.0 * np.pi * tone_bin * t / n)
                out.append(
                    {"path": str(i), "content": encode_wav(np.round(v).astype(np.int16), 8000)}
                )
            yield pd.DataFrame(out, columns=["path", "content"])

    media = docs.mapInPandas(gen, "path string, content binary")
    out = audio_band_fingerprint(media, bands)
    return out.select(
        F.col("path").cast("long").alias("doc_id"), "n_samples", "fingerprint"
    )


@register(
    "m9_media_near_dup_pairs",
    oracle=r"""
    WITH ids AS (SELECT doc_id, doc_id // 5 AS c, doc_id % 5 AS v FROM documents),
    cell AS (
      SELECT i.doc_id, i.v, r.r, cc.cc, ((cc.cc * 16) // 9) AS x,
             CAST(('0x' || substr(sha256('m9i:' || i.c || ':' || (2 * r.r) || ':'
                                         || ((cc.cc * 16) // 9)), 1, 2)) AS INT) AS base
      FROM ids i, UNNEST(range(8)) r(r), UNNEST(range(9)) cc(cc)
    ), cellv AS (
      SELECT doc_id, r, cc,
             CASE WHEN v > 0 AND r = v - 1
                       AND x = CASE v WHEN 1 THEN 1 WHEN 2 THEN 5 WHEN 3 THEN 10 ELSE 14 END
                  THEN (base + 120) % 256 ELSE base END AS val
      FROM cell
    ), ibits AS (
      SELECT a.doc_id, a.r, a.cc,
             CASE WHEN a.val > b.val THEN '1' ELSE '0' END AS bit
      FROM cellv a JOIN cellv b ON a.doc_id = b.doc_id AND a.r = b.r AND b.cc = a.cc + 1
      WHERE a.cc < 8
    ), ih AS (
      SELECT doc_id, string_agg(bit, '' ORDER BY r, cc) AS h FROM ibits GROUP BY doc_id
    ), iblk AS (
      SELECT doc_id, h, b.b AS blk_id, substr(h, 1 + 16 * CAST(b.b AS INT), 16) AS blk
      FROM ih, UNNEST(range(4)) b(b)
    ), icand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b, a.h AS ha, b.h AS hb
      FROM iblk a JOIN iblk b
        ON a.blk_id = b.blk_id AND a.blk = b.blk AND a.doc_id < b.doc_id
    ), ipairs AS (
      SELECT id_a, id_b,
             CAST(len(list_filter(range(64), p -> substr(ha, CAST(p AS INT) + 1, 1)
                                               <> substr(hb, CAST(p AS INT) + 1, 1))) AS INT) AS hamming
      FROM icand
    ),
    aids AS (SELECT doc_id, doc_id // 4 AS c, doc_id % 4 AS w FROM documents),
    ah AS (
      SELECT c, b.b AS b, sha256('m9a:' || c || ':' || b.b) AS hx
      FROM (SELECT DISTINCT doc_id // 4 AS c FROM documents), UNNEST(range(41)) b(b)
    ), ar AS (
      SELECT c, b, ROW_NUMBER() OVER (PARTITION BY c ORDER BY hx, b) AS rn FROM ah
    ), amp AS (
      SELECT i.doc_id, b.b AS b, 300 + 20 * r.rn AS amp
      FROM aids i
      CROSS JOIN UNNEST(range(41)) b(b)
      JOIN ar r ON r.c = i.c
               AND r.b = CASE WHEN i.w = 2 AND b.b IN (0, 1) THEN 1 - b.b
                              WHEN i.w = 3 AND b.b IN (2, 3) THEN 5 - b.b
                              ELSE b.b END
    ), abits AS (
      SELECT a.doc_id, a.b, CASE WHEN a.amp > n.amp THEN '1' ELSE '0' END AS bit
      FROM amp a JOIN amp n ON a.doc_id = n.doc_id AND n.b = a.b + 1
    ), af AS (
      SELECT doc_id, string_agg(bit, '' ORDER BY b) AS h FROM abits GROUP BY doc_id
    ), ablk AS (
      SELECT doc_id, h, b.b AS blk_id, substr(h, 1 + 10 * CAST(b.b AS INT), 10) AS blk
      FROM af, UNNEST(range(4)) b(b)
    ), acand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b, a.h AS ha, b.h AS hb
      FROM ablk a JOIN ablk b
        ON a.blk_id = b.blk_id AND a.blk = b.blk AND a.doc_id < b.doc_id
    ), apairs AS (
      SELECT id_a, id_b,
             CAST(len(list_filter(range(40), p -> substr(ha, CAST(p AS INT) + 1, 1)
                                               <> substr(hb, CAST(p AS INT) + 1, 1))) AS INT) AS hamming
      FROM acand
    )
    SELECT 'image' AS modality, id_a, id_b, hamming FROM ipairs WHERE hamming <= 3
    UNION ALL
    SELECT 'audio' AS modality, id_a, id_b, hamming FROM apairs WHERE hamming <= 3
    """,
)
def m9_media_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Cross-modal near-dedup END-TO-END (VERDICT r8 item 5): the
    # block-bucket pigeonhole pairing (operators/dedup.
    # bitstring_block_pairs — exact recall for Hamming <= 3 via 4 blocks)
    # applied to BOTH perceptual signatures, m7's image dHash and m8's
    # audio band fingerprint, over planted near-dup media:
    #   images — every 5 consecutive doc_ids share one sha256-derived
    #     16x16 texture (class c = doc_id//5); variants v=1..4 bump ONE
    #     resize-sampled pixel (+120 mod 256) at distinct positions, so
    #     v0<->vk differ by <= 2 dHash bits and vi<->vj by <= 4 — the
    #     <=3 filter keeps a deterministic subset the oracle replays.
    #   audio — every 4 consecutive doc_ids share one 41-tone clip whose
    #     per-band amplitudes are 300 + 20*rank(sha256(class, band)) (a
    #     hash-seeded permutation: all adjacent comparisons strict, >=20
    #     amplitude margin, ~40 bits of cross-class entropy so accidental
    #     pairs are impossible); variants 2/3 swap two adjacent bands,
    #     moving <= 3 fingerprint bits.
    # The oracle replays pixel/amplitude synthesis, the dHash/fingerprint
    # bit rules, the 4-block bucketing AND the exact Hamming distance —
    # a wrong resize map, band plan, block split, or distance formula
    # hash-fails. Scale shape: candidates only form inside
    # (block_id, value) buckets (bucket sizes = planted cluster sizes);
    # Python touches each clip exactly once through Arrow.
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    from etl_hiscox_spark.operators.dedup import bitstring_block_pairs
    from etl_hiscox_spark.operators.multimodal import (
        audio_band_fingerprint,
        encode_wav,
        image_dhash,
    )
    from etl_hiscox_spark.operators.png import encode_png

    docs = _media_id_fanout(spark, sf_dir)
    colpick = [1, 5, 10, 14]

    def gen_images(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib

        textures: dict[int, np.ndarray] = {}
        for pdf in batches:
            out = []
            for i in pdf["doc_id"]:
                i = int(i)
                c, v = i // 5, i % 5
                if c not in textures:
                    textures[c] = np.array(
                        [
                            [
                                int(
                                    hashlib.sha256(f"m9i:{c}:{y}:{x}".encode()).hexdigest()[:2],
                                    16,
                                )
                                for x in range(16)
                            ]
                            for y in range(16)
                        ],
                        dtype=np.int64,
                    )
                img = textures[c].copy()
                if v > 0:
                    y, x = 2 * (v - 1), colpick[v - 1]
                    img[y, x] = (img[y, x] + 120) % 256
                out.append(
                    {"path": str(i), "content": encode_png(img.astype(np.uint8))}
                )
            yield pd.DataFrame(out, columns=["path", "content"])

    bands = [(4 + 3 * k, 7 + 3 * k) for k in range(41)]

    def gen_audio(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib

        perms: dict[int, list[int]] = {}
        n = 256
        t = np.arange(n, dtype=np.float64)
        for pdf in batches:
            out = []
            for i in pdf["doc_id"]:
                i = int(i)
                c, w = i // 4, i % 4
                if c not in perms:
                    order = sorted(
                        range(41),
                        key=lambda b: (
                            hashlib.sha256(f"m9a:{c}:{b}".encode()).hexdigest(),
                            b,
                        ),
                    )
                    rn = [0] * 41
                    for pos, b in enumerate(order):
                        rn[b] = pos + 1
                    perms[c] = rn
                rn = perms[c]

                def sigma(b: int) -> int:
                    if w == 2 and b in (0, 1):
                        return 1 - b
                    if w == 3 and b in (2, 3):
                        return 5 - b
                    return b

                v = np.zeros(n)
                for b, (lo, _hi) in enumerate(bands):
                    amp = 300.0 + 20.0 * rn[sigma(b)]
                    v += amp * np.sin(2.0 * np.pi * (lo + 1) * t / n)
                out.append(
                    {"path": str(i), "content": encode_wav(np.round(v).astype(np.int16), 8000)}
                )
            yield pd.DataFrame(out, columns=["path", "content"])

    # bitstring_block_pairs self-joins its input, and a self-join re-runs
    # the whole synth→encode→decode→hash Python chain once PER SIDE
    # (profiled r17: four ~1.5 s ArrowEval jobs for two modalities —
    # exchange reuse does not fire across mapInPandas subtrees).
    # localCheckpoint pins the KB-scale (doc_id, bits) frame so Python
    # touches each clip exactly once — the stated scale contract
    # (guide §4: pay the Python boundary once, then join cheap keys).
    imedia = docs.mapInPandas(gen_images, "path string, content binary")
    amedia = docs.mapInPandas(gen_audio, "path string, content binary")
    # the two modality chains are independent pipelines ending in eager
    # localCheckpoints — materialize them overlapped (r17, guide §2.6)
    ih, af = run_overlapped(
        [
            lambda: image_dhash(imedia)
            .select(
                F.col("path").cast("long").alias("doc_id"),
                F.col("dhash").alias("bits"),
            )
            .localCheckpoint(),
            lambda: audio_band_fingerprint(amedia, bands)
            .select(
                F.col("path").cast("long").alias("doc_id"),
                F.col("fingerprint").alias("bits"),
            )
            .localCheckpoint(),
        ]
    )
    ipairs = bitstring_block_pairs(ih, "bits", "doc_id", n_bits=64, n_blocks=4, max_hamming=3)
    apairs = bitstring_block_pairs(af, "bits", "doc_id", n_bits=40, n_blocks=4, max_hamming=3)

    return ipairs.select(F.lit("image").alias("modality"), "id_a", "id_b", "hamming").unionAll(
        apairs.select(F.lit("audio").alias("modality"), "id_a", "id_b", "hamming")
    )


@register(
    "m10_video_frame_near_dup",
    oracle=r"""
    WITH ids AS (SELECT doc_id, doc_id // 3 AS c, doc_id % 3 AS v FROM documents),
    clip AS (
      SELECT doc_id, f.f AS f,
             CASE WHEN v = 1 AND f.f = 3 THEN c * 10 + 5 + f.f
                  WHEN v = 2 AND f.f = 0 THEN c * 10 + 5 + f.f
                  ELSE c * 10 + f.f END AS fid
      FROM ids, UNNEST(range(4)) f(f)
    ), fids AS (SELECT DISTINCT fid FROM clip),
    cell AS (
      SELECT fid, r.r, cc.cc,
             CAST(('0x' || substr(sha256('m10:' || fid || ':' || (2 * r.r) || ':'
                                         || ((cc.cc * 16) // 9)), 1, 2)) AS INT) AS val
      FROM fids, UNNEST(range(8)) r(r), UNNEST(range(9)) cc(cc)
    ), bits AS (
      SELECT a.fid, a.r, a.cc, CASE WHEN a.val > b.val THEN '1' ELSE '0' END AS bit
      FROM cell a JOIN cell b ON a.fid = b.fid AND a.r = b.r AND b.cc = a.cc + 1
      WHERE a.cc < 8
    ), fh AS (
      SELECT fid, string_agg(bit, '' ORDER BY r, cc) AS h FROM bits GROUP BY fid
    ), fr AS (
      SELECT clip.doc_id, fh.h FROM clip JOIN fh USING (fid)
    ), pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(DISTINCT a.h) AS n_shared
      FROM fr a JOIN fr b ON a.h = b.h AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT id_a, id_b, n_shared FROM pairs WHERE n_shared >= 2
    """,
)
def m10_video_frame_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Video-level near-dedup END-TO-END: every doc gets a 4-frame animated
    # GIF (class c = doc_id//3 shares footage; fid = frame content key;
    # variant 1 swaps the LAST frame, variant 2 the FIRST, so
    # v0<->v1 and v0<->v2 share 3 of 4 frames and v1<->v2 share 2).
    # Clips round-trip the stdlib GIF/LZW codec, each frame is dHashed
    # (operators/multimodal.video_frame_dhash — same intensity/resize/
    # compare rule as image_dhash), and clip pairs form by EQUI-JOINING on
    # the frame-hash value then counting distinct shared hashes — the
    # shot-level containment join a video dedup pipeline runs at scale
    # (bucket sizes = how many clips share a shot, never all-pairs).
    # The oracle replays frame synthesis -> sampled-cell dHash -> the
    # hash-value join; a wrong LZW decode, frame composite, resize map,
    # or shared-count rule hash-fails.
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    from etl_hiscox_spark.operators.gif import encode_gif
    from etl_hiscox_spark.operators.multimodal import video_frame_dhash

    docs = _media_id_fanout(spark, sf_dir)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib

        textures: dict[int, np.ndarray] = {}

        def texture(fid: int) -> np.ndarray:
            if fid not in textures:
                textures[fid] = np.array(
                    [
                        [
                            int(hashlib.sha256(f"m10:{fid}:{y}:{x}".encode()).hexdigest()[:2], 16)
                            for x in range(16)
                        ]
                        for y in range(16)
                    ],
                    dtype=np.uint8,
                )
            return textures[fid]

        for pdf in batches:
            out = []
            for i in pdf["doc_id"]:
                i = int(i)
                c, v = i // 3, i % 3
                fids = [c * 10 + f for f in range(4)]
                if v == 1:
                    fids[3] = c * 10 + 5 + 3
                elif v == 2:
                    fids[0] = c * 10 + 5 + 0
                out.append(
                    {"path": str(i), "content": encode_gif([texture(f) for f in fids])}
                )
            yield pd.DataFrame(out, columns=["path", "content"])

    media = docs.mapInPandas(gen, "path string, content binary")
    # the frame-hash self-join below would re-run GIF synth + LZW decode
    # once per side (same double-Python shape as m9, profiled r17);
    # localCheckpoint pins the KB-scale (doc, dhash) frame first
    fr = (
        video_frame_dhash(media)
        .filter(F.col("dhash").isNotNull())
        .select(F.col("path").cast("long").alias("doc"), "dhash")
        .localCheckpoint()
    )
    a, b = fr.alias("a"), fr.alias("b")
    return (
        a.join(b, (F.col("a.dhash") == F.col("b.dhash")) & (F.col("a.doc") < F.col("b.doc")))
        .groupBy(F.col("a.doc").alias("id_a"), F.col("b.doc").alias("id_b"))
        .agg(F.countDistinct(F.col("a.dhash")).alias("n_shared"))
        .filter(F.col("n_shared") >= 2)
    )


@register(
    "t25_token_budget_sample",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id, source,
             CAST(len(string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' '))
                  AS BIGINT) AS n_tokens,
             substr(sha256(CAST(doc_id AS VARCHAR) || ':tb:0'), 1, 16) AS prio
      FROM documents
    ), cum AS (
      SELECT doc_id, source, n_tokens,
             CAST(SUM(n_tokens) OVER (PARTITION BY source ORDER BY prio, doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens
      FROM toks
    )
    SELECT doc_id, source, n_tokens, cum_tokens FROM cum WHERE cum_tokens <= 1000
    """,
)
def t25_token_budget_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The "data recipe" primitive: fill each source's slice of the
    # training mix up to a token budget, in an engine-portable
    # deterministic priority order (sha256 prefix — the hash_split
    # story). One window shuffle on source; counts ride the scan stage.
    from etl_hiscox_spark.operators.sampling import token_budget_sample

    docs = load_table(spark, "documents", sf_dir)
    out = token_budget_sample(
        docs, "source", F.size(tokens("text")), key="doc_id", budget=1000, seed=0
    )
    return out.select("doc_id", "source", "n_tokens", "cum_tokens")


@register(
    "t26_dsir_weights",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id, lang,
             string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS t
      FROM documents
    ), occ AS (
      SELECT doc_id, lang,
             CAST(('0x' || substr(sha256(w), 1, 8)) AS BIGINT) % 64 AS bucket
      FROM (SELECT doc_id, lang, UNNEST(t) AS w FROM toks)
    ), tgt AS (SELECT bucket, COUNT(*) AS c FROM occ WHERE lang = 'en' GROUP BY bucket),
    rawh AS (SELECT bucket, COUNT(*) AS c FROM occ GROUP BY bucket),
    tgt_tot AS (SELECT CAST(COUNT(*) AS DOUBLE) AS T FROM occ WHERE lang = 'en'),
    raw_tot AS (SELECT CAST(COUNT(*) AS DOUBLE) AS T FROM occ),
    spine AS (SELECT CAST(UNNEST(range(0, 64)) AS BIGINT) AS bucket),
    ratio AS (
      SELECT s.bucket,
             ln((COALESCE(t.c, 0) + 1.0) / ((SELECT T FROM tgt_tot) + 64.0))
             - ln((COALESCE(r.c, 0) + 1.0) / ((SELECT T FROM raw_tot) + 64.0)) AS ln_ratio
      FROM spine s LEFT JOIN tgt t USING (bucket) LEFT JOIN rawh r USING (bucket)
    ), scored AS (
      SELECT occ.doc_id, COUNT(*) AS n_tokens, SUM(ln_ratio) AS lw
      FROM occ JOIN ratio USING (bucket) GROUP BY occ.doc_id
    )
    SELECT d.doc_id,
           CAST(COALESCE(s.n_tokens, 0) AS BIGINT) AS n_tokens,
           ROUND(COALESCE(s.lw, 0.0), 6) AS log_weight
    FROM documents d LEFT JOIN scored s USING (doc_id)
    """,
)
def t26_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    # DSIR importance weighting (Xie et al. 2023): score every raw doc by
    # how much its hashed-token-bucket features favor the target corpus
    # (here: the lang='en' slice) over the raw corpus. Two fixed-64-row
    # smoothed histograms, one broadcast of their log-ratio back onto the
    # token stream, one per-doc reduce. The oracle replays both
    # histograms and the per-doc sum exactly (6-dp rounding absorbs
    # summation-order noise in the ~25-term float sums).
    from etl_hiscox_spark.operators.dsir import importance_weights

    docs = load_table(spark, "documents", sf_dir)
    target = docs.filter(F.col("lang") == "en")
    out = importance_weights(docs, target, "text", "doc_id", n_buckets=64, alpha=1.0)
    return out.select(
        "doc_id", "n_tokens", F.round("log_weight", 6).alias("log_weight")
    )


@register(
    "t27_boilerplate_lines",
    oracle=r"""
    WITH norm AS (
      SELECT doc_id, string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS t
      FROM documents
    ), lines AS (
      SELECT doc_id, CAST(i AS INT) AS pos, array_to_string(t[i*4+1:i*4+4], ' ') AS line
      FROM norm, UNNEST(range(0, CAST(ceil(len(t)/4.0) AS BIGINT))) AS u(i)
    ), ldf AS (
      SELECT line, COUNT(DISTINCT doc_id) AS line_df FROM lines GROUP BY line
    ), keep AS (
      SELECT l.doc_id, l.pos, l.line FROM lines l JOIN ldf USING (line) WHERE line_df < 5
    ), reb AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_lines_kept,
             array_to_string(list(line ORDER BY pos), chr(10)) AS text_clean
      FROM keep GROUP BY doc_id
    ), tot AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_lines FROM lines GROUP BY doc_id
    )
    SELECT t.doc_id, t.n_lines, COALESCE(r.n_lines_kept, 0) AS n_lines_kept,
           COALESCE(r.text_clean, '') AS text_clean
    FROM tot t LEFT JOIN reb r USING (doc_id)
    """,
)
def t27_boilerplate_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    # C4-style boilerplate removal (Raffel et al. 2020): drop lines
    # occurring verbatim in >= 5 docs, rebuild the rest in order. The
    # corpus has no newlines, so lines are PLANTED deterministically —
    # 4-token chunks of the normalized text — and the oracle replays the
    # chunking, the line document-frequency, the threshold, and the
    # exact '\n'-rebuild. A wrong position sort or a dropped
    # fully-boilerplate doc hash-fails on text_clean.
    from etl_hiscox_spark.functions.text import normalize_text
    from etl_hiscox_spark.operators.boilerplate import remove_boilerplate_lines

    docs = load_table(spark, "documents", sf_dir)
    # Plant the newline after every 4th token with ONE codegen regex pass
    # instead of transform(sequence)+slice+array_join — Spark 4 runs array
    # lambdas interpreted per element, and this projection sits under BOTH
    # plan branches (line-df aggregate + tag join), so the r7 form paid the
    # interpreted build twice: 10 of t27's 23 s at sf1. Byte-identical to
    # the slice chunking (regexp_replace consumes non-overlapping 4-token
    # groups left to right; the <4-token tail keeps its spaces).
    text_nl = F.regexp_replace(
        normalize_text(F.col("text")), r"((\S+ ){3}\S+) ", "$1\n"
    )
    with_lines = docs.select("doc_id", text_nl.alias("text_nl"))
    return remove_boilerplate_lines(with_lines, "text_nl", "doc_id", min_docs=5)


@register(
    "t28_domain_quality_gate",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id, source,
             string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS t
      FROM documents
    ), feats AS (
      SELECT doc_id, source,
             CAST(len(list_distinct(t)) AS DOUBLE) / len(t) AS diversity
      FROM toks
    ), ranked AS (
      SELECT doc_id, source, diversity,
             CAST(ROW_NUMBER() OVER (PARTITION BY source
                  ORDER BY diversity DESC, doc_id ASC) AS INT) AS rnk,
             COUNT(*) OVER (PARTITION BY source) AS n
      FROM feats
    )
    SELECT doc_id, source, ROUND(diversity, 6) AS diversity, rnk
    FROM ranked WHERE rnk <= CAST(ceil(n * 0.5) AS BIGINT)
    """,
)
def t28_domain_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Per-domain percentile gating: keep each source's best half by
    # lexical diversity (distinct/total tokens, doc_id tiebreak). An
    # absolute threshold would empty low-quality domains and keep
    # boilerplate from high-quality ones; the per-group fraction is the
    # standard curation gate. One window shuffle; the ordering ratio is
    # exact integer division in double, so both engines rank identically.
    from etl_hiscox_spark.operators.windows import top_fraction_per_group

    docs = load_table(spark, "documents", sf_dir)
    t = tokens("text")
    feats = docs.select(
        "doc_id",
        "source",
        (F.size(F.array_distinct(t)).cast("double") / F.size(t)).alias("diversity"),
    )
    # descending=True maps every order_by column through .desc(), so the
    # ASC doc_id tiebreak rides in pre-negated
    out = top_fraction_per_group(
        feats,
        keys=["source"],
        order_by=[F.col("diversity"), -F.col("doc_id")],
        fraction=0.5,
        descending=True,
        rank_col="rnk",
    )
    return out.select("doc_id", "source", F.round("diversity", 6).alias("diversity"), "rnk")


@register(
    "t29_gumbel_weighted_topk",
    oracle=r"""
    WITH w AS (
      SELECT doc_id, CAST((doc_id * 7) % 40 AS DOUBLE) / 10.0 AS wt FROM documents
    ), keyed AS (
      SELECT doc_id, wt,
             ln(wt) - ln(-ln(
               (CAST(('0x' || substr(sha256(CAST(doc_id AS VARCHAR) || ':gum:0'), 1, 13))
                     AS BIGINT) + 0.5) / 16 ^ 13)) AS gumbel_key
      FROM w WHERE wt > 0
    )
    SELECT doc_id, wt, ROUND(gumbel_key, 6) AS gumbel_key FROM (
      SELECT doc_id, wt, gumbel_key
      FROM keyed ORDER BY gumbel_key DESC, doc_id ASC LIMIT 50
    )
    """,
)
def t29_gumbel_weighted_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Weighted sampling without replacement as a global top-k (Gumbel-max
    # / Efraimidis-Spirakis): "sample 50 docs proportional to weight"
    # compiles to TakeOrderedAndProject — no global sort, no reservoir
    # state, and the sha256-uniform makes the selection engine-portable.
    # Zero-weight docs are excluded by construction on both sides.
    from etl_hiscox_spark.operators.sampling import gumbel_topk

    docs = load_table(spark, "documents", sf_dir).select("doc_id")
    wt = ((F.col("doc_id") * 7) % 40).cast("double") / F.lit(10.0)
    out = gumbel_topk(docs.withColumn("wt", wt), F.col("wt"), "doc_id", k=50, seed=0)
    return out.select("doc_id", "wt", F.round("gumbel_key", 6).alias("gumbel_key"))


@register(
    "t22_upsample_mixture",
    oracle="""
    WITH w AS (
      SELECT doc_id, lang, source,
             CAST((doc_id * 7) % 40 AS DOUBLE) / 10.0 AS wt
      FROM documents
    ), draws AS (
      SELECT doc_id, lang, source, wt,
             CAST(FLOOR(wt) AS BIGINT)
               + CASE WHEN substr(sha256(CAST(doc_id AS VARCHAR) || ':3:0'), 1, 13)
                         < lpad(lower(to_hex(CAST(FLOOR((wt - FLOOR(wt)) * 16^13) AS BIGINT))), 13, '0')
                      THEN 1 ELSE 0 END AS n
      FROM w
    )
    SELECT doc_id, lang, source, CAST(UNNEST(range(0, n)) AS BIGINT) AS copy_id
    FROM draws WHERE n >= 1
    """,
)
def t22_upsample_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Repeat-factor mixture weighting (the w>1 half t12's downsampler
    # can't express): weight = (7·doc_id mod 40)/10 ∈ [0, 3.9] exercises
    # zero-copy drops, fractional coins and multi-copy repeats in one
    # corpus. portable=True draws the fractional coin from the sha256 hex
    # prefix, so the DuckDB twin re-derives the EXACT copy multiset —
    # including copy ids — from the same arithmetic.
    from etl_hiscox_spark.operators.sampling import upsample

    docs = load_table(spark, "documents", sf_dir).select("doc_id", "lang", "source")
    weighted = docs.withColumn(
        "wt", ((F.col("doc_id") * 7) % 40).cast("double") / F.lit(10.0)
    )
    out = upsample(weighted, "wt", key="doc_id", portable=True)
    return out.select("doc_id", "lang", "source", F.col("copy_id").cast("long").alias("copy_id"))


from etl_hiscox_spark.operators.bpe import bpe_segment, bpe_segment_oracle_sql  # noqa: E402


@register(
    "t23_bpe_segmentation",
    oracle=bpe_segment_oracle_sql("documents", "text", "doc_id", n_merges=8),
)
def t23_bpe_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Train-then-apply, end-to-end: the 8 learned merges (t21) compile
    # into ONE codegen'd projection over the corpus scan (three literal
    # replaces per merge, un-mergeable double-space word boundary), and
    # the declared output is per-doc BPE token counts. The oracle replays
    # BOTH stages in SQL — training CTE chain + the same replace chain
    # over every document — so a drifting merge order, boundary leak or
    # overlap-semantics change breaks the hash.
    docs = load_table(spark, "documents", sf_dir)
    merges = [
        (r["rank"], r["pair"]) for r in bpe_train(docs, "text", n_merges=8).collect()
    ]
    seg = bpe_segment(docs, "text", merges, out_col="bpe_tokens")
    joined = F.concat_ws(" ", F.col("bpe_tokens"))
    n = F.when(joined == "", F.lit(0)).otherwise(F.size("bpe_tokens")).cast("long")
    return seg.select(F.col("doc_id").alias("id"), n.alias("n_bpe_tokens"))


@register(
    "t24_heavy_hitter_terms",
    oracle=r"""
    WITH w AS (
      SELECT UNNEST(string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS word
      FROM documents
    ), tot AS (SELECT COUNT(*) AS n FROM w),
    cnt AS (SELECT word, COUNT(*) AS c FROM w GROUP BY word)
    SELECT word,
           c AS n_occurrences,
           c > (SELECT n FROM tot) / 16.0 AS guaranteed,
           TRUE AS summary_ok
    FROM cnt ORDER BY c DESC, word ASC LIMIT 15
    """,
)
def t24_heavy_hitter_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Misra–Gries heavy hitters with the a16 tripwire mechanism, leaning
    # on MG's DETERMINISTIC bounds (count-min's probabilistic ones could
    # fail a hash legitimately): for the exact top-15 words, `guaranteed`
    # (freq > N/k — SQL-computable on both sides) flags the items MG
    # provably retains, and `summary_ok` is Spark-side proof that every
    # guaranteed item IS in the merged summary and every present item's
    # estimate sits in [exact − N/k, exact] (MG only underestimates).
    # DuckDB emits TRUE unconditionally — a broken eviction loop, merge
    # prune or bound regression goes driver-red. k=16 is chosen BELOW the
    # corpus vocabulary so evictions genuinely occur at every SF.
    from etl_hiscox_spark.operators.heavy_hitters import heavy_hitters

    k = 16
    docs = load_table(spark, "documents", sf_dir)
    words = docs.select(
        F.explode(F.split(normalize_text(F.col("text")), " ")).alias("word")
    )
    hh = heavy_hitters(words, "word", k=k)
    exact = words.groupBy("word").agg(F.count(F.lit(1)).alias("n_occurrences"))
    # N rides the exact aggregate (r9 review: a dedicated words.count()
    # was a third full scan of the exploded frame); the vocab-sized
    # persist serves both the scalar and the top-15, released by the
    # caller via the attached-caches contract.
    exact = exact.persist()
    n_total = exact.agg(F.sum("n_occurrences")).first()[0]
    top = exact.orderBy(F.col("n_occurrences").desc(), F.col("word").asc()).limit(15)
    bound = F.lit(n_total) / float(k)
    joined = top.join(hh.withColumnRenamed("item", "word"), "word", "left")
    present = F.col("est_count").isNotNull()
    in_bounds = present & F.col("est_count").between(
        F.col("n_occurrences") - bound, F.col("n_occurrences")
    )
    guaranteed = F.col("n_occurrences") > bound
    out = joined.select(
        "word",
        "n_occurrences",
        guaranteed.alias("guaranteed"),
        (
            (~guaranteed | in_bounds)  # guaranteed items: present + bounded
            & (~present | in_bounds)  # any present item: bounded
        ).alias("summary_ok"),
    )
    from etl_hiscox_spark.operators.caching import attach_owned_caches

    return attach_owned_caches(out, [exact])

def _assert_oracle_fragment_consistency() -> None:
    """Import-time tripwire for the replicated pair-graph SQL (r9 review):
    every oracle that replays the exact n-gram pair pipeline must embed
    the canonical fragments — editing one without the others fails here,
    at import, instead of surfacing as a confusing partial driver
    hash-fail. All five oracles are now COMPOSED from the fragments
    (ADVICE r9), so divergence is impossible by construction; the check
    stays as a guard against a future verbatim re-inline, and raises
    ValueError (bare asserts are stripped under ``python -O``, silently
    disabling the tripwire). The recall-pin test reuses the same
    constants against raw parquet via a view."""
    shingle_users = (
        "l2_incremental_probe",
        "l2_lsh_compact_probe",
        "l2_lsh_erase_probe",
        "l2_lsh_rebuild_probe",
        "l2_transitive_clusters",
        "t32_cluster_keep_best",
        "t33_leakage_safe_split",
        "t34_ngram_novelty_score",
        "t35_keep_best_survivors",
    )
    closure_users = (
        "l2_transitive_clusters",
        "t32_cluster_keep_best",
        "t33_leakage_safe_split",
        "t35_keep_best_survivors",
    )
    for name in shingle_users:
        if _ORACLE_SHINGLE_N_CTE not in QUERIES[name].oracle:
            raise ValueError(
                f"{name}: shingle/jaccard oracle fragment diverged from "
                "_ORACLE_SHINGLE_N_CTE - compose from the canonical fragment"
            )
    for name in closure_users:
        if _ORACLE_PAIR_CLOSURE_CTE not in QUERIES[name].oracle:
            raise ValueError(
                f"{name}: pair-closure oracle fragment diverged from "
                "_ORACLE_PAIR_CLOSURE_CTE - compose from the canonical fragment"
            )
    for name in ("t32_cluster_keep_best", "t35_keep_best_survivors"):
        if _ORACLE_KEEP_BEST_MEMB_RANK_CTE not in QUERIES[name].oracle:
            raise ValueError(
                f"{name}: keeper-policy oracle fragment diverged from "
                "_ORACLE_KEEP_BEST_MEMB_RANK_CTE - compose from the canonical fragment"
            )






@register(
    "t34_ngram_novelty_score",
    oracle="WITH "
    + _ORACLE_SHINGLE_N_CTE
    + """,
    first AS (SELECT g, MIN(doc_id) AS fd FROM grams GROUP BY g)
    SELECT g2.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_shingles,
           CAST(SUM(CASE WHEN f.fd = g2.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
           ROUND(SUM(CASE WHEN f.fd = g2.doc_id THEN 1 ELSE 0 END)
                 / CAST(COUNT(*) AS DOUBLE), 6) AS novelty
    FROM grams g2 JOIN first f ON g2.g = f.g
    GROUP BY g2.doc_id
    """,
)
def t34_ngram_novelty_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Corpus NOVELTY signal — the curation dual of dedup: per document,
    # the share of its distinct 3-gram shingles that FIRST appear in it
    # (min doc_id over the corpus ordering). Boilerplate-heavy docs score
    # near 0, fresh content near 1 — the weighting signal
    # novelty-sampling recipes feed (and an early-exit cheaper than
    # pairwise near-dedup for "mostly seen before" rejection). Reuses the
    # exact shingle rule of the whole dedup stack (canonical fragment,
    # import-time tripwire). Plan: one distinct-shingle stem -> min agg
    # on the shingle string -> equi-join back -> per-doc agg; every
    # shuffle is on shingle/doc keys. Production runs the SAME operator
    # with use_hashes=True (the 8-byte xxhash64 stream — narrower shuffle
    # payload, identical scores, equality pinned at two scales in
    # tests/test_dedup_similarity.py); strings here keep the DuckDB
    # oracle exact (no xxhash64 twin).
    from etl_hiscox_spark.operators.dedup import ngram_novelty_scores

    docs = load_table(spark, "documents", sf_dir)
    return ngram_novelty_scores(docs, "text", "doc_id", shingle_k=3, use_hashes=False)


_assert_oracle_fragment_consistency()


@register(
    "l2_lsh_collision_rerun_probe",
    # the l2_lsh_erase_probe oracle, unchanged (same as the gen-lifecycle
    # probe): compaction is content-preserving, so after
    # build -> (erase ∥ compact-with-collision-and-re-run) the confirmed
    # pair graph must equal the exact cross-batch Jaccard graph MINUS the
    # erased docs — if the losing compact's stale stage (which still
    # holds the erased fingerprints) ever got published, the erased docs
    # resurface as dup_of and this hash-fails.
    oracle=_cross_batch_oracle("b.doc_id % 10 <> 6"),
)
def l2_lsh_collision_rerun_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Maintenance collision + bounded re-run (r13, VERDICT r12 item 6 —
    # genlog.rerun_on_generation_conflict), driver-executed for real: the
    # index builds on the even-id history with NO layout flag — the r13
    # generational-by-default contract (VERDICT r12 item 3) is proven
    # here, not just in tests — then an ERASE of doc_id % 10 == 6 is
    # injected to land exactly when a COMPACT resolves its base
    # generation (the same deterministic interleave as
    # tests/test_genlog.py's end-to-end race). The compact's pointer
    # commit collides loudly at base+1; the wrapper re-invokes it, the
    # retry re-resolves the POST-ERASE generation and compacts THAT — a
    # blind retry of the stale stage would resurrect the erased
    # fingerprints (the GDPR hazard the base-version guard exists for).
    # Loud invariants before the oracle sees the probe: the root is
    # generational by default, the pointer history records exactly
    # [build, erase, compact] (one collision, one re-run, no stale
    # publish), and the live meta still reports the build banding.
    import os as _os

    from etl_hiscox_spark.operators.dedup import (
        _read_index_meta,
        compact_minhash_index,
        erase_from_minhash_index,
        probe_minhash_index,
        write_minhash_index,
    )
    from etl_hiscox_spark.queries.writes import _scratch
    from etl_hiscox_spark.sources import genlog

    docs = load_table(spark, "documents", sf_dir)
    root = _os.path.join(_scratch("l2_lsh_rerun", sf_dir), "minhash_index")
    old = docs.filter(F.col("doc_id") % 2 == 0)
    new = docs.filter(F.col("doc_id") % 2 == 1)
    write_minhash_index(old, "text", "doc_id", root, num_hashes=24, num_bands=6)
    if not genlog.is_generational(spark, root):
        raise ValueError("a bare build must produce the generational layout (r13)")
    erase = old.filter(F.col("doc_id") % 10 == 6).select("doc_id")

    # the SCOPED hook (ADVICE r13: swapping genlog's module attribute was
    # process-global — a concurrent head resolve on the same driver would
    # pass through the probe's hook); disarmed while the hook runs, so
    # the injected erase resolves for real
    fired = {"done": False}

    def racing_current(real, spark_, root_):
        out = real(spark_, root_)
        if not fired["done"]:
            fired["done"] = True
            erase_from_minhash_index(spark, root, erase, "doc_id")
        return out

    with genlog.interpose_head_resolution(racing_current):
        genlog.rerun_on_generation_conflict(compact_minhash_index, spark, root)
    ops = [g["operation"] for g in genlog.list_generations(spark, root)]
    if ops != ["build", "erase", "compact"]:
        raise ValueError(
            f"pointer history records {ops}, expected the collision loser "
            "to re-run AFTER the erase: [build, erase, compact]"
        )
    if _read_index_meta(spark, root) != (24, 6, 3):
        raise ValueError("re-run compact drifted the banding meta")
    out = probe_minhash_index(
        new, "text", "doc_id", root, verify_df=docs, threshold=0.8
    )
    return _probe_pairs(out)


@register(
    "l2_lsh_delta_append_probe",
    # exact cross-batch Jaccard graph of odds (the probe batch) against
    # the final indexed set: evens minus the racing erase's keys
    # (doc_id % 20 == 16 — chosen ⊂ the BUILD segment, % 4 == 0, so the
    # erase's full-rewrite can never touch rows the delta re-adds). If
    # the pre-r13 lost-append race still existed, the erase's rewrite
    # would supersede the appended % 4 == 2 half and every probe pair
    # whose dup_of ≡ 2 (mod 4) would vanish — hash-fail.
    oracle=_cross_batch_oracle("b.doc_id % 20 <> 16"),
)
def l2_lsh_delta_append_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    # OCC DELTA APPENDS under a genuine race (r13 — the ADVICE r12
    # lost-append fix, driver-executed for real): the index builds on a
    # QUARTER of the corpus (doc_id % 4 == 0), the % 4 == 2 batch is
    # appended as a delta segment, and an ERASE of doc_id % 20 == 16 is
    # injected to land exactly between the append's head resolve and its
    # pointer commit (the same deterministic interleave as the collision
    # probe). Pre-r13, appends wrote INTO the live generation in place
    # and the erase's full-rewrite generation would have silently
    # superseded the appended rows. Now the append's commit COLLIDES at
    # head+1, retries against the post-erase head (its delta holds only
    # new rows — still valid), and BOTH effects are live. Loud
    # invariants before the oracle sees the probe: pointer history is
    # exactly [build, erase, append] (the append retried PAST the
    # erase), the head is two-segment, and fragmentation stats aggregate
    # across both segments. The probe (odds, exact-Jaccard verified)
    # then reads the SEGMENT UNION and must equal the full cross-batch
    # graph minus the erased docs.
    import os as _os

    from etl_hiscox_spark.operators.dedup import (
        erase_from_minhash_index,
        minhash_fragmentation_stats,
        probe_minhash_index,
        write_minhash_index,
    )
    from etl_hiscox_spark.queries.writes import _scratch
    from etl_hiscox_spark.sources import genlog

    docs = load_table(spark, "documents", sf_dir)
    root = _os.path.join(_scratch("l2_lsh_delta", sf_dir), "minhash_index")
    write_minhash_index(
        docs.filter(F.col("doc_id") % 4 == 0), "text", "doc_id", root,
        num_hashes=24, num_bands=6,
    )
    erase = docs.filter(F.col("doc_id") % 20 == 16).select("doc_id")

    # fire the erase on the append's SECOND head resolve — inside
    # append_segment, after the delta staged — so the append's first
    # pointer commit genuinely collides and the bounded retry must land.
    # Scoped hook (ADVICE r13): thread-local, disarmed while it runs, so
    # the injected erase resolves for real and concurrent queries on the
    # same driver never pass through the probe's interposition.
    calls = {"n": 0}

    def racing_current(real, spark_, root_):
        out = real(spark_, root_)
        calls["n"] += 1
        if calls["n"] == 2:
            erase_from_minhash_index(spark, root, erase, "doc_id")
        return out

    with genlog.interpose_head_resolution(racing_current):
        write_minhash_index(
            docs.filter(F.col("doc_id") % 4 == 2), "text", "doc_id", root,
            num_hashes=24, num_bands=6, mode="append",
        )

    ops = [g["operation"] for g in genlog.list_generations(spark, root)]
    if ops != ["build", "erase", "append"]:
        raise ValueError(
            f"pointer history records {ops}, expected the append to retry "
            "PAST the racing erase: [build, erase, append]"
        )
    segs = genlog.live_index_paths(spark, root)
    if len(segs) != 2:
        raise ValueError(f"expected a two-segment head, got {len(segs)}")
    frag = minhash_fragmentation_stats(spark, root).first()
    if frag["n_files"] < 2:
        raise ValueError(
            "fragmentation stats must aggregate across BOTH live segments"
        )
    out = probe_minhash_index(
        docs.filter(F.col("doc_id") % 2 == 1), "text", "doc_id", root,
        verify_df=docs, threshold=0.8,
    )
    return _probe_pairs(out)


@register(
    "l2_lsh_retired_version_guard_probe",
    # the l2_lsh_delta_append_probe oracle, unchanged: the index ends
    # holding ALL evens (built %4==0 + appended %4==2) minus the erased
    # %20==16 docs, so the odds-vs-evens exact cross-batch Jaccard graph
    # is the same hard-equality recall tripwire — if the retired-version
    # refusal had NOT fired and the stale compact (staged from the
    # pre-append v0 snapshot) had published, the appended %4==2 half
    # would vanish from the head and every probe pair whose dup_of ≡ 2
    # (mod 4) would hash-fail.
    oracle=_cross_batch_oracle("b.doc_id % 20 <> 16"),
)
def l2_lsh_retired_version_guard_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    # VERSION-NUMBER REUSE GUARD, driver-executed for real (r15 — the
    # hole this round's multi-actor stress caught): create-if-absent can
    # only collide with a pointer name that still EXISTS, and vacuum
    # trims the pointer PREFIX, so a maintenance op staged from a stale
    # head resolve used to be able to "win" a retired version number —
    # a commit below the surviving prefix the next vacuum silently
    # trims, i.e. a lost write. Lifecycle here: build (%4==0) → OCC
    # delta append (%4==2) → compact → vacuum keep_last=1 (pointer
    # prefix trimmed, the immutable _floor_v1 marker committed BEFORE
    # the trim). Then the STALE REPLAY: a compact staged from the
    # long-gone v0 snapshot commits at v1 — a vacuumed name — and must
    # be REFUSED (unwound + the standard OCC collision), never
    # published; the head must stay exactly as it was. Recovery above
    # the floor is then proven live: an erase through the bounded
    # conflict wrapper lands at v3, and the probe (odds, exact-Jaccard
    # verified) reads the final head.
    import os as _os

    from etl_hiscox_spark.operators.dedup import (
        compact_minhash_index,
        erase_from_minhash_index,
        probe_minhash_index,
        write_minhash_index,
    )
    from etl_hiscox_spark.queries.writes import _scratch
    from etl_hiscox_spark.sources import genlog

    docs = load_table(spark, "documents", sf_dir)
    root = _os.path.join(_scratch("l2_lsh_floor", sf_dir), "minhash_index")
    write_minhash_index(
        docs.filter(F.col("doc_id") % 4 == 0), "text", "doc_id", root,
        num_hashes=24, num_bands=6,
    )
    write_minhash_index(
        docs.filter(F.col("doc_id") % 4 == 2), "text", "doc_id", root,
        num_hashes=24, num_bands=6, mode="append",
    )
    genlog.rerun_on_generation_conflict(compact_minhash_index, spark, root)
    genlog.vacuum_generations(spark, root, keep_last=1, min_age_seconds=0.0)

    resolved = genlog.resolve_root(spark, root)
    log = genlog.pointer_log(resolved)
    if log.versions() != [2]:
        raise ValueError(
            f"expected the vacuum to trim the pointer prefix to [2], got "
            f"{log.versions()}"
        )
    floor = log.read_floor()
    if floor != 1:
        raise ValueError(f"vacuum floor marker records {floor}, expected 1")

    # the stale replay: a "compact" staged from the pre-append snapshot
    # (base v0, long vacuumed) — its commit wins the create-if-absent at
    # the retired v1 name and MUST be refused by the floor guard
    head = genlog.read_pointer(resolved, 2)
    refused = False
    try:
        genlog.commit_generation(
            spark, root, head["generation"], "compact", base_version=0,
            segments=genlog.pointer_segments(head),
            geometry_id=head.get("geometry_id"),
        )
    except FileExistsError as exc:
        refused = "retired by vacuum" in str(exc)
    if not refused:
        raise ValueError(
            "a stale-resolved commit at a vacuumed version number was NOT "
            "refused — the retention reuse guard is broken"
        )
    if log.versions() != [2]:
        raise ValueError("the refused commit left debris in the pointer log")

    # recovery above the floor: the production conflict wrapper re-runs
    # the erase against the live head and lands normally at v3
    genlog.rerun_on_generation_conflict(
        erase_from_minhash_index, spark, root,
        docs.filter(F.col("doc_id") % 20 == 16).select("doc_id"), "doc_id",
    )
    if genlog.current_generation(spark, root)[0] != 3:
        raise ValueError("the post-refusal erase did not land at v3")

    out = probe_minhash_index(
        docs.filter(F.col("doc_id") % 2 == 1), "text", "doc_id", root,
        verify_df=docs, threshold=0.8,
    )
    return _probe_pairs(out)


@register(
    "l2_lsh_tombstone_coalesce_probe",
    # the retired-version-guard oracle, unchanged end state: the index
    # holds ALL evens (built %4==0 + appended %4==2) minus the erased
    # %20==16 docs, so the odds-vs-evens exact cross-batch Jaccard graph
    # is the same hard-equality recall tripwire. If either refused stale
    # commit had published (at the tombstoned v1 or at the coalesced-and-
    # freed v1), the head would regress to a pre-append or pre-erase
    # snapshot and the probe pairs would hash-fail.
    oracle=_cross_batch_oracle("b.doc_id % 20 <> 16"),
)
def l2_lsh_tombstone_coalesce_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    # RETIRED-NAME TOMBSTONE LIFECYCLE, driver-executed for real (r16,
    # ADVICE r15: the r15 floor guard classified post-link by version
    # arithmetic alone, which could unwind a FRESH commit swept by a
    # concurrent retention run — a false OCC conflict whose retry
    # double-appends). r16 makes trims observable per name: vacuum
    # REPLACES each retired pointer with a tombstone (+ a ``.retired``
    # listing sidecar) instead of deleting it, so a stale writer's
    # create-if-absent fails naturally; one retention cycle later the
    # pair is COALESCED and the immutable floor marker alone keeps the
    # freed name refused. Lifecycle: build (%4==0) → OCC delta append
    # (%4==2) → compact → vacuum#1 (v0/v1 TOMBSTONED, floor=1, both
    # delisted but their names still occupied) → stale commit at the
    # tombstoned v1 REFUSED pre-link → erase (%20==16) lands at v3 →
    # vacuum#2 (v2 tombstoned, floor=2, the v0/v1 tombstone pairs
    # coalesced away) → stale commit at the now-FREED v1 still REFUSED
    # (floor guard) → probe (odds, exact-Jaccard verified) reads the
    # final head.
    import json as _json
    import os as _os

    from etl_hiscox_spark.operators.dedup import (
        compact_minhash_index,
        erase_from_minhash_index,
        probe_minhash_index,
        write_minhash_index,
    )
    from etl_hiscox_spark.queries.writes import _scratch
    from etl_hiscox_spark.sources import genlog

    docs = load_table(spark, "documents", sf_dir)
    root = _os.path.join(_scratch("l2_lsh_tomb", sf_dir), "minhash_index")
    write_minhash_index(
        docs.filter(F.col("doc_id") % 4 == 0), "text", "doc_id", root,
        num_hashes=24, num_bands=6,
    )
    write_minhash_index(
        docs.filter(F.col("doc_id") % 4 == 2), "text", "doc_id", root,
        num_hashes=24, num_bands=6, mode="append",
    )
    genlog.rerun_on_generation_conflict(compact_minhash_index, spark, root)
    genlog.vacuum_generations(spark, root, keep_last=1, min_age_seconds=0.0)

    resolved = genlog.resolve_root(spark, root)
    log = genlog.pointer_log(resolved)
    if log.versions() != [2]:
        raise ValueError(f"vacuum#1 must delist v0/v1, got {log.versions()}")
    filesystem, log_path = log.fs, log.dir
    for v in (0, 1):
        with filesystem.open_input_file(f"{log_path}/v{v}.json") as f:
            if not _json.loads(f.read().decode("utf-8")).get("tombstone"):
                raise ValueError(f"retired v{v} must hold a tombstone record")
    names = set(log.names())
    if not {"v0.retired", "v1.retired"} <= names:
        raise ValueError(f"retired sidecars missing from the log listing: {names}")

    # stale commit at the TOMBSTONED v1: the name still exists, so the
    # pre-link floor guard (or the create-if-absent itself) refuses it
    head = genlog.read_pointer(resolved, 2)
    try:
        genlog.commit_generation(
            spark, root, head["generation"], "compact", base_version=0,
            segments=genlog.pointer_segments(head),
            geometry_id=head.get("geometry_id"),
        )
        raise ValueError("stale commit at a tombstoned name was NOT refused")
    except FileExistsError:
        pass
    # a retired version reads as gone — loudly, never a stale record
    try:
        genlog.read_pointer(resolved, 1)
        raise ValueError("reading a tombstoned pointer must raise")
    except FileNotFoundError:
        pass

    genlog.rerun_on_generation_conflict(
        erase_from_minhash_index, spark, root,
        docs.filter(F.col("doc_id") % 20 == 16).select("doc_id"), "doc_id",
    )
    if genlog.current_generation(spark, root)[0] != 3:
        raise ValueError("the erase did not land at v3")

    # vacuum#2: v2 joins the tombstones (floor 2), and the v0/v1 pairs —
    # covered by the floor since BEFORE this run — are coalesced away
    genlog.vacuum_generations(spark, root, keep_last=1, min_age_seconds=0.0)
    names = set(log.names())
    for gone in ("v0.json", "v0.retired", "v1.json", "v1.retired"):
        if gone in names:
            raise ValueError(f"vacuum#2 must coalesce {gone}, still listed: {names}")
    if not {"v2.json", "v2.retired"} <= names:
        raise ValueError(f"the newest trim (v2) must stay tombstoned: {names}")
    if log.read_floor() != 2:
        raise ValueError("the floor marker must record the v2 trim")
    if log.versions() != [3]:
        raise ValueError("the erase head must be the only live pointer")

    # stale commit at the now-FREED v1: nothing occupies the name any
    # more, so only the pre-link floor guard stands between a stale
    # writer and a silent lost write — it must refuse, with no debris
    try:
        genlog.commit_generation(
            spark, root, head["generation"], "compact", base_version=0,
            segments=genlog.pointer_segments(head),
            geometry_id=head.get("geometry_id"),
        )
        raise ValueError("stale commit at a coalesced name was NOT refused")
    except FileExistsError:
        pass
    if "v1.json" in log.names():
        raise ValueError("the refused commit left debris at the freed name")

    out = probe_minhash_index(
        docs.filter(F.col("doc_id") % 2 == 1), "text", "doc_id", root,
        verify_df=docs, threshold=0.8,
    )
    return _probe_pairs(out)


@register(
    "l2_lsh_half_retired_repair_probe",
    # final index: ALL evens (built %4==0 + appended %8==2 and %8==6)
    # minus the three erased cohorts %20 in (8, 12, 16) — the
    # odds-vs-evens exact cross-batch Jaccard graph is the hard-equality
    # recall tripwire shared by the lifecycle-probe family. If the
    # half-retired v2 had kept serving (repair missed), if the repair
    # had damaged the head, or if the stale commit at the repaired name
    # had published, the head would regress and the pairs would
    # hash-fail.
    oracle=_cross_batch_oracle("b.doc_id % 20 NOT IN (8, 12, 16)"),
)
def l2_lsh_half_retired_repair_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    # HALF-RETIRED REPAIR LIFECYCLE, driver-executed for real (r17,
    # ADVICE r16: a retire that wrote the ``.retired``
    # sidecar and then lost the tombstone content replace left a name
    # that is EXCLUDED from the live listing — so no vacuum ever
    # re-victims it — yet still SERVES the retired record on a direct
    # read, and coalescing skips the pair forever: unbounded residue.
    # r17's vacuum opens with a repair scan that re-runs the content
    # replace, age-gated on the record's own committed_at). Lifecycle:
    # build (%4==0) → OCC delta appends (%8==2, %8==6) → vacuum#1
    # (v0/v1 tombstoned under the r17 tombstone-first order, floor=1) →
    # erase#1 (%20==16) lands at v3 → INJECT the crash residue (write
    # v2's sidecar by hand, content left live — exactly the lost-replace
    # state) → assert the hazard (delisted everywhere, yet a direct
    # read serves the retired record) → vacuum#2 with min_age=0 (a
    # NO-VICTIM vacuum: the repair pass must run regardless) finishes
    # the retire → erase#2 (%20==12) → vacuum#3 (floor 3; v0/v1 pairs
    # coalesce, the repaired v2 pair — above the previous floor — stays)
    # → erase#3 (%20==8) → vacuum#4 (floor 4; the REPAIRED pair
    # coalesces through the normal path) → stale commit at the freed v2
    # refused by the floor guard → probe (odds, exact-Jaccard verified).
    import json as _json
    import os as _os

    from etl_hiscox_spark.operators.dedup import (
        erase_from_minhash_index,
        probe_minhash_index,
        write_minhash_index,
    )
    from etl_hiscox_spark.queries.writes import _scratch
    from etl_hiscox_spark.sources import genlog

    docs = load_table(spark, "documents", sf_dir)
    root = _os.path.join(_scratch("l2_lsh_halfret", sf_dir), "minhash_index")
    write_minhash_index(
        docs.filter(F.col("doc_id") % 4 == 0), "text", "doc_id", root,
        num_hashes=24, num_bands=6,
    )
    for m in (2, 6):
        write_minhash_index(
            docs.filter(F.col("doc_id") % 8 == m), "text", "doc_id", root,
            num_hashes=24, num_bands=6, mode="append",
        )
    genlog.vacuum_generations(spark, root, keep_last=1, min_age_seconds=0.0)
    resolved = genlog.resolve_root(spark, root)
    log = genlog.pointer_log(resolved)
    if log.versions() != [2]:
        raise ValueError(f"vacuum#1 must delist v0/v1, got {log.versions()}")

    def _erase(mod: int) -> None:
        genlog.rerun_on_generation_conflict(
            erase_from_minhash_index, spark, root,
            docs.filter(F.col("doc_id") % 20 == mod).select("doc_id"), "doc_id",
        )

    _erase(16)  # lands at v3: v2 is now superseded but still live
    if genlog.current_generation(spark, root)[0] != 3:
        raise ValueError("erase#1 did not land at v3")

    # INJECT the crash residue a lost content replace leaves: the
    # sidecar exists, the content is still the live v2 record
    filesystem, log_path = log.fs, log.dir
    with filesystem.open_output_stream(f"{log_path}/v2.retired") as fh:
        fh.write(b"")
    # the hazard, observed: v2 is delisted everywhere (no vacuum would
    # ever re-victim it) ...
    if log.versions() != [3]:
        raise ValueError("the sidecar must delist v2 from the live listing")
    if [r["version"] for r in genlog.list_generations(spark, resolved)] != [3]:
        raise ValueError("history must exclude the half-retired v2")
    # ... yet a direct read still serves the retired record as live
    if genlog.read_pointer(resolved, 2).get("tombstone"):
        raise ValueError("the injected residue must leave v2's content LIVE")

    # vacuum#2 has NO victims (only v3 lives) — the repair pass must
    # still run and finish the retire (min_age=0: no op is mid-flight)
    genlog.vacuum_generations(spark, root, keep_last=1, min_age_seconds=0.0)
    with filesystem.open_input_file(f"{log_path}/v2.json") as f:
        if not _json.loads(f.read().decode("utf-8")).get("tombstone"):
            raise ValueError("the repair pass must tombstone the half-retired v2")
    try:
        genlog.read_pointer(resolved, 2)
        raise ValueError("reading the repaired v2 must raise the retired error")
    except FileNotFoundError:
        pass
    if genlog.current_generation(spark, root)[0] != 3:
        raise ValueError("the repair must not touch the live head")

    _erase(12)  # v4
    genlog.vacuum_generations(spark, root, keep_last=1, min_age_seconds=0.0)
    names = set(log.names())
    # vacuum#3's floor_before (=1) coalesces v0/v1; the repaired v2 pair
    # is above it and must survive this cycle intact
    for gone in ("v0.json", "v0.retired", "v1.json", "v1.retired"):
        if gone in names:
            raise ValueError(f"vacuum#3 must coalesce {gone}, still listed: {names}")
    if not {"v2.json", "v2.retired"} <= names:
        raise ValueError(f"the repaired v2 pair must survive one more cycle: {names}")

    _erase(8)  # v5
    genlog.vacuum_generations(spark, root, keep_last=1, min_age_seconds=0.0)
    names = set(log.names())
    for gone in ("v2.json", "v2.retired"):
        if gone in names:
            raise ValueError(
                f"the REPAIRED pair must coalesce through the normal path: {names}"
            )
    if log.versions() != [5]:
        raise ValueError("the erase#3 head must be the only live pointer")

    # stale commit at the freed-and-repaired v2: only the floor guard
    # stands between a stale writer and a silent lost write
    head = genlog.read_pointer(resolved, 5)
    try:
        genlog.commit_generation(
            spark, root, head["generation"], "compact", base_version=1,
            segments=genlog.pointer_segments(head),
            geometry_id=head.get("geometry_id"),
        )
        raise ValueError("stale commit at the repaired-and-freed name not refused")
    except FileExistsError:
        pass
    if "v2.json" in log.names():
        raise ValueError("the refused commit left debris at the freed name")

    out = probe_minhash_index(
        docs.filter(F.col("doc_id") % 2 == 1), "text", "doc_id", root,
        verify_df=docs, threshold=0.8,
    )
    return _probe_pairs(out)


@register(
    "l2_stream_index_ingest",
    # the l2_incremental_probe oracle, unchanged: after the stream lands,
    # the index holds ALL evens (built %4==0 + streamed %4==2), so the
    # odds-vs-evens exact cross-batch Jaccard graph is the same proven
    # hard-equality recall tripwire — a micro-batch whose delta never
    # committed (or committed twice and broke the probe) hash-fails.
    oracle=_cross_batch_oracle(),
)
def l2_stream_index_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    # CONTINUOUS index ingestion, EXACTLY-ONCE (r13): a Structured
    # Streaming source feeds the generational minhash index through
    # foreachBatch, one OCC delta segment + pointer commit per
    # micro-batch — the pattern a 100 TB crawl pipeline runs all day
    # (the index ingests at stream cadence; compaction merges the
    # accumulated deltas on a maintenance schedule, off the ingest
    # path). maxFilesPerTrigger=1 forces one micro-batch per source
    # file, so the run provably exercises REPEATED delta commits, not
    # one big append. foreachBatch is at-least-once, so each commit
    # carries (app_id, batch_id) into the pointer record's
    # txn_watermarks ledger (x13's protocol applied to the genlog) —
    # and the WHOLE stream then runs a SECOND time against a fresh
    # checkpoint with the same app_id: every replayed batch id is at or
    # below the committed watermark, so run 2 must commit NOTHING. Loud
    # invariants before the oracle sees the probe: the pointer history
    # after BOTH runs is exactly [build, append, append, append] (three
    # micro-batches, three commits, zero replays landed), the head has
    # one segment per commit, and the post-stream COMPACT merges them
    # back to a single generation with probe results unchanged.
    import os as _os

    from etl_hiscox_spark.operators.dedup import (
        compact_minhash_index,
        probe_minhash_index,
        write_minhash_index,
    )
    from etl_hiscox_spark.queries.writes import _scratch
    from etl_hiscox_spark.sources import genlog

    docs = load_table(spark, "documents", sf_dir)
    base = _scratch("l2_stream_ingest", sf_dir)
    root = _os.path.join(base, "minhash_index")
    src = _os.path.join(base, "src")
    arriving = docs.filter(F.col("doc_id") % 4 == 2).select("doc_id", "text")
    # the index build (%4==0 half, index root) and the stream-source
    # staging write (%4==2 half, src dir) touch disjoint paths —
    # independent, overlapped (r17, guide §2.6)
    run_overlapped(
        [
            lambda: write_minhash_index(
                docs.filter(F.col("doc_id") % 4 == 0), "text", "doc_id", root,
                num_hashes=24, num_bands=6,
            ),
            lambda: arriving.repartition(3).write.mode("overwrite").parquet(src),
        ]
    )

    def ingest(batch_df, batch_id):
        if batch_df.isEmpty():
            return
        write_minhash_index(
            batch_df, "text", "doc_id", root,
            num_hashes=24, num_bands=6, mode="append",
            txn=("l2_stream_ingest", batch_id),
        )

    def run(ckpt_name: str) -> None:
        q = (
            spark.readStream.schema(arriving.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
            .writeStream.foreachBatch(ingest)
            .option("checkpointLocation", _os.path.join(base, ckpt_name))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run("ckpt1")
    run("ckpt2")  # full replay, fresh checkpoint, same app_id -> no-op

    ops = [g["operation"] for g in genlog.list_generations(spark, root)]
    if ops != ["build", "append", "append", "append"]:
        raise ValueError(
            f"pointer history records {ops}, expected one OCC delta commit "
            "per micro-batch and ZERO replay commits: "
            "[build, append, append, append]"
        )
    if len(genlog.live_index_paths(spark, root)) != 4:
        raise ValueError("head must carry one live segment per commit")
    compact_minhash_index(spark, root)
    if len(genlog.live_index_paths(spark, root)) != 1:
        raise ValueError("compact must merge the stream's deltas into ONE segment")
    out = probe_minhash_index(
        docs.filter(F.col("doc_id") % 2 == 1), "text", "doc_id", root,
        verify_df=docs, threshold=0.8,
    )
    return _probe_pairs(out)
