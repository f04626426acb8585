"""Deduplication operators for LLM-scale corpora (SURVEY.md §2.11 L1-L2).

Four tiers, all shuffle-conscious:

- **exact** (L1): hash-groupBy on a normalized content hash. One shuffle on
  a uniformly-distributed 256-bit key — no skew by construction.
- **MinHash + LSH** (L2): shingle → minhash signature (expression-only
  permutation hashing) → band → bucket self-join. Candidate pairs only ever
  meet inside a band-bucket, so the join is an equi-join on (band, bucket)
  — never O(n²).
- **SimHash**: 64-bit near-dup signature via per-token xxhash bit voting;
  Hamming-adjacent buckets found by splitting the signature into 4 16-bit
  blocks (pigeonhole: any pair within Hamming distance 3 shares a block).
- **n-gram Jaccard**: exact verify step applied to LSH candidate pairs
  (array_intersect/array_union on shingle arrays).

Everything is built-in expressions — no Python UDFs — so the hot path stays
in whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from etl_hiscox_spark.functions.text import content_hash, normalize_text, shingles
from etl_hiscox_spark.operators import segindex
from etl_hiscox_spark.operators.caching import adopt_caches, attach_owned_caches

# ---------------------------------------------------------------------------
# L1: exact dedup
# ---------------------------------------------------------------------------


def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Keep the lowest-id document per normalized-content hash.

    groupBy on sha256(normalized text): one shuffle, uniform keys. The
    deterministic keeper (min id) makes the result oracle-comparable —
    same rule as the reference's deterministic dedup requirement (W1).
    """
    return (
        df.withColumn("__h", content_hash(F.col(text_col)))
        .withColumn(
            "__keep",
            F.row_number().over(
                Window.partitionBy("__h").orderBy(F.col(id_col).asc())
            ),
        )
        .filter(F.col("__keep") == 1)
        .drop("__h", "__keep")
    )


# ---------------------------------------------------------------------------
# L2: MinHash + banded LSH
# ---------------------------------------------------------------------------
# Permutation hashing: h_i(s) = xxhash64(shingle, seed=i). The minhash
# signature is [min_i over shingles] — computed with array exprs, no UDF.


def _shingle_grams(df: DataFrame, text_col: str, id_col: str, shingle_k: int) -> DataFrame:
    """(doc, shingle-string) rows, duplicates included — shared plan stem.

    Formulation: split once → explode a ``sequence`` of k-gram start
    positions → assemble each k-gram with ``element_at`` (all codegen'd
    expressions). ZERO shuffles: unlike the window-``lead`` form (which
    shuffles and sorts the whole token table by (doc, pos) — the entire
    corpus at 100 TB), the generate and projection stay in the scan stage.
    Array-lambda forms (``F.transform`` + slice) run interpreted per
    element in Spark 4 and measured ~6× slower on the sf0.1 corpus.
    Docs shorter than k tokens contribute their whole normalized text as a
    single shingle (same rule as :func:`...functions.text.shingles`).
    """
    norm = normalize_text(F.col(text_col))
    base = df.select(F.col(id_col).alias("doc"), F.split(norm, " ").alias("__t"))
    long_docs = (
        base.filter(F.size("__t") >= shingle_k)
        .select(
            "doc",
            "__t",
            F.explode(F.sequence(F.lit(1), F.size("__t") - (shingle_k - 1))).alias("__i"),
        )
        .select(
            "doc",
            F.concat_ws(
                " ", *[F.element_at("__t", F.col("__i") + j) for j in range(shingle_k)]
            ).alias("shingle"),
        )
    )
    short_docs = base.filter(F.size("__t") < shingle_k).select(
        "doc", F.concat_ws(" ", "__t").alias("shingle")
    )
    return long_docs.unionByName(short_docs)


def exploded_shingles(df: DataFrame, text_col: str, id_col: str, shingle_k: int = 3) -> DataFrame:
    """(doc, shingle) rows — one per DISTINCT word-k-gram per doc."""
    return _shingle_grams(df, text_col, id_col, shingle_k).distinct()


def _raw_shingle_hash_stream(
    df: DataFrame, text_col: str, id_col: str, shingle_k: int
) -> DataFrame:
    """(doc, h) rows, duplicates included — the ZERO-SHUFFLE stem.

    Each k-gram is xxhash64'd to a long in the scan stage, so anything
    downstream moves fixed 8-byte keys instead of text. min() aggregations
    (MinHash signatures) consume this directly — min is idempotent over
    duplicate hashes, so paying a corpus-wide distinct shuffle before the
    signature agg buys nothing (VERDICT r4 profile: that distinct
    dominated l2_minhash_near_dup's runtime).

    The hash is ``xxhash64(slice(tokens, i, k))`` — hashing the token
    slice DIRECTLY instead of materializing the concat_ws shingle string
    first (measured 2.4× faster on the sf0.1 signature stage; also
    separator-unambiguous). Hash values therefore differ from
    ``xxhash64(shingle-string)`` — fine, because every consumer (minhash
    signatures, banded LSH, Jaccard counts, hashed decontamination grams)
    compares hashes produced by THIS function against each other, never
    against string-form shingles.
    """
    norm = normalize_text(F.col(text_col))
    base = df.select(F.col(id_col).alias("doc"), F.split(norm, " ").alias("__t"))
    long_docs = (
        base.filter(F.size("__t") >= shingle_k)
        .select(
            "doc",
            "__t",
            F.explode(F.sequence(F.lit(1), F.size("__t") - (shingle_k - 1))).alias("__i"),
        )
        .select("doc", F.xxhash64(F.slice("__t", F.col("__i"), shingle_k)).alias("h"))
    )
    # docs shorter than k: the whole token array is the single shingle
    # (same rule as _shingle_grams / functions.text.shingles)
    short_docs = base.filter(F.size("__t") < shingle_k).select(
        "doc", F.xxhash64("__t").alias("h")
    )
    return long_docs.unionByName(short_docs)


def exploded_shingle_hashes(
    df: DataFrame, text_col: str, id_col: str, shingle_k: int = 3
) -> DataFrame:
    """(doc, h) rows — one per DISTINCT 64-bit-hashed word-k-gram per doc.

    The distinct'd form exact set arithmetic needs (Jaccard |A∩B|/|A∪B|);
    signature building uses :func:`_raw_shingle_hash_stream` instead.
    Jaccard counts are exact up to 64-bit hash collisions (~2^-64 per
    shingle pair — immaterial next to MinHash's own error).
    """
    return _raw_shingle_hash_stream(df, text_col, id_col, shingle_k).distinct()


def minhash_signature_table(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 32,
    shingle_k: int = 3,
    _shingle_hashes: DataFrame | None = None,
) -> DataFrame:
    """(doc, h0..h{n-1}) minhash signature table.

    Plan: explode shingle hashes → project num_hashes codegen'd xxhash64
    columns (per-permutation seed mixed in as an extra hashed column) →
    groupBy(doc) min() per column. One shuffle on doc id; partial min()
    runs map-side so shuffle volume is |docs| × num_hashes longs regardless
    of corpus size. The num_hashes "permutations" re-hash the fixed-width
    shingle hash with per-function seeds (xxhash64 of a long is a handful
    of multiplies — the string pass happened once, upstream).
    """
    sh = (
        _shingle_hashes
        if _shingle_hashes is not None
        else _raw_shingle_hash_stream(df, text_col, id_col, shingle_k)
    )
    # ``_shingle_hashes`` may be raw (duplicates included) or distinct'd —
    # min() is idempotent, signatures are identical either way.
    # SQL-string aggregates, one parse per column: the Column-builder form
    # (num_hashes × F.xxhash64(F.col…)/F.min chains) paid ~5 py4j round
    # trips per column PER CALL — profiled r17 at ~0.4 s per invocation
    # on the driver, and this function runs 3+ times per lifecycle probe.
    # Identical plan: min(xxhash64(h, i)) with partial map-side agg.
    return sh.groupBy("doc").agg(
        *[F.expr(f"min(xxhash64(h, {i})) AS h{i}") for i in range(num_hashes)]
    )


def _banded_buckets(sig: DataFrame, num_hashes: int, num_bands: int) -> DataFrame:
    """(doc, band, bucket) rows from a signature table — the LSH index form.

    Bucket = variadic xxhash64 over the band's signature longs + band id —
    no string concat (the cast-to-string + concat_ws form costs an order
    of magnitude more codegen and byte traffic for identical recall).
    """
    rows_per_band = num_hashes // num_bands
    # one SQL string instead of num_bands × nested Column builders (same
    # py4j-chatter fix as minhash_signature_table — this ran ~0.2 s of
    # driver time per call); the expression tree is identical
    bands_sql = ", ".join(
        "named_struct('band', {b}, 'bucket', xxhash64({cols}, {b}))".format(
            b=b,
            cols=", ".join(f"h{b * rows_per_band + r}" for r in range(rows_per_band)),
        )
        for b in range(num_bands)
    )
    return sig.select(
        "doc", F.expr(f"explode(array({bands_sql}))").alias("bb")
    ).select("doc", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))


def minhash_candidates(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 32,
    num_bands: int = 8,
    shingle_k: int = 3,
    _shingle_hashes: DataFrame | None = None,
) -> DataFrame:
    """Candidate near-duplicate pairs (id_a < id_b) via banded MinHash LSH.

    Plan shape: signature table (one shuffle) → explode to (band, bucket,
    doc) — num_bands rows per doc → self equi-join on (band, bucket) →
    distinct pairs. Bucket keys are hashes, so skew appears only for
    genuinely massive duplicate clusters (AQE skew-join splits those).
    """
    if num_hashes % num_bands != 0:
        raise ValueError(
            f"num_hashes ({num_hashes}) must be divisible by num_bands "
            f"({num_bands}) — trailing hashes would be computed but never banded"
        )
    sig = minhash_signature_table(df, text_col, id_col, num_hashes, shingle_k, _shingle_hashes)
    banded = _banded_buckets(sig, num_hashes, num_bands)
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc") < F.col("b.doc")),
        )
        .select(F.col("a.doc").alias("id_a"), F.col("b.doc").alias("id_b"))
        .distinct()
    )


def jaccard_pairs(
    df: DataFrame,
    pairs: DataFrame,
    text_col: str,
    id_col: str,
    shingle_k: int = 3,
    threshold: float = 0.0,
    _shingle_hashes: DataFrame | None = None,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard similarity for candidate pairs.

    Set formulation (r17, guide §2.4/§3): aggregate each doc's distinct
    shingle hashes into ONE array row (``collect_set`` — dedup for free,
    so a raw stream works as input), join the a-side and b-side arrays
    onto the pairs, and compute |A∩B| with ``array_intersect`` /
    |A∪B| = |A| + |B| − |A∩B| inline. This replaces the count-join
    formulation (distinct stem + per-doc count agg + a big-big
    (id, shingle) intersection join + three count re-joins) with one
    aggregation and two equi-joins — ~7 Exchanges → ~3 on the confirmed-
    pairs plan, and the per-pair work is O(|A| + |B|) hash-set arithmetic
    instead of a shuffled join row per matching shingle. Joining on the
    64-bit shingle hash instead of the string keeps the per-doc payload
    at 8 bytes/element (collision error ~2^-64 — see
    :func:`exploded_shingle_hashes`). Scores are bit-identical to the
    count-join form (same integer operands, same division).
    """
    # The per-doc set table feeds two plan branches (a-side, b-side);
    # cache it lazily so the first action computes it once and the other
    # branch reuses it. (Not an eager localCheckpoint: that would run a
    # Spark job at DataFrame-CONSTRUCTION time — surprising for callers
    # that only .explain() — and truncate lineage, losing fault tolerance.)
    # Lifecycle (ADVICE r8): the persisted stem is attached to the returned
    # frame — materialize, then ``caching.release_caches(result)`` (or use
    # the ``owned_caches`` context manager) to free the blocks.
    src = (
        _shingle_hashes
        if _shingle_hashes is not None
        else _raw_shingle_hash_stream(df, text_col, id_col, shingle_k)
    )
    sets = src.groupBy("doc").agg(F.collect_set("h").alias("__s"))
    if checkpoint_dir is not None:
        # the documented cluster contract (ADVICE r17): with a reliable
        # checkpoint dir, the multi-branch set table goes to durable
        # storage — a lazy persist alone keeps full lineage back to the
        # corpus scan, so executor loss would recompute the whole stem
        sets = _materialize(sets, checkpoint_dir)
        owned: list[DataFrame] = []
    else:
        sets = sets.persist()
        owned = [sets]
    sa = sets.select(F.col("doc").alias("id_a"), F.col("__s").alias("__sa"))
    sb = sets.select(F.col("doc").alias("id_b"), F.col("__s").alias("__sb"))
    n_int = F.size(F.array_intersect(F.col("__sa"), F.col("__sb")))
    out = (
        pairs.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            (
                n_int.cast("double")
                / (F.size("__sa") + F.size("__sb") - n_int)
            ).alias("jaccard"),
        )
    )
    out = out.filter(F.col("jaccard") >= threshold) if threshold > 0 else out
    return attach_owned_caches(out, owned)


def _materialize(df: DataFrame, checkpoint_dir: str | None) -> DataFrame:
    """Eagerly cut lineage: ``localCheckpoint`` (executor-local blocks —
    fast, but lost with an executor) by default; with ``checkpoint_dir``
    set, a RELIABLE ``checkpoint()`` to that path, which survives executor
    loss — the cluster setting for the iterative/multi-branch pipelines
    here. The dir is set once per SparkContext; passing a different dir
    later re-points it.
    """
    if checkpoint_dir is None:
        return df.localCheckpoint(eager=True)
    sc = df.sparkSession.sparkContext
    sc.setCheckpointDir(checkpoint_dir)
    return df.checkpoint(eager=True)


def _confirmed_minhash_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float,
    num_hashes: int,
    num_bands: int,
    shingle_k: int,
    checkpoint_dir: str | None,
) -> DataFrame:
    """LSH candidates → exact-Jaccard-confirmed pairs (id_a, id_b, jaccard).

    Plan (the VERDICT r4 item 3 shape): the SIGNATURE path consumes the
    raw zero-shuffle shingle-hash stream — no corpus-wide distinct (min()
    is duplicate-proof), so the first shuffle in the whole pipeline is the
    |docs| × num_hashes map-side-combined signature agg. The Jaccard
    branch is the only consumer that needs distinct shingle SETS, and only
    for docs that survived banding — so the set aggregation runs after a
    broadcast semi-join against the candidate ids: its shuffle is sized by
    near-duplicate volume, not corpus volume. Candidates are materialized
    eagerly (they feed 2-3 plan branches; ``checkpoint_dir`` switches that
    from executor-local to reliable storage for real clusters); the
    per-doc set table persists inside :func:`jaccard_pairs`.
    """
    raw = _raw_shingle_hash_stream(df, text_col, id_col, shingle_k)
    cands = _materialize(
        minhash_candidates(
            df, text_col, id_col, num_hashes, num_bands, shingle_k, _shingle_hashes=raw
        ),
        checkpoint_dir,
    )
    pair_docs = (
        cands.select(F.col("id_a").alias("doc"))
        .unionByName(cands.select(F.col("id_b").alias("doc")))
        .distinct()
    )
    # Semi-join the DOCUMENTS to the candidate set BEFORE re-shingling, not
    # the exploded hash stream after: normalize/split/hash then runs over
    # candidate docs only (duplicate volume), not the whole corpus — the
    # r6 profile showed the post-explode semi-join re-paying the full
    # corpus-wide shingle-hash CPU a second time. The candidate-id set is
    # sized by near-duplicate volume; when that outgrows broadcast range,
    # Catalyst falls back per the join-strategy hint rules (no forced
    # build: candidate volume scales with duplication, not a constant).
    cand_docs = df.join(
        pair_docs.withColumnRenamed("doc", id_col), on=id_col, how="left_semi"
    )
    # No separate distinct + materialize of the candidate-doc stream:
    # jaccard_pairs' collect_set aggregation dedups for free and persists
    # the per-doc set table itself (one exchange instead of distinct +
    # checkpoint + count-agg — r17).
    return jaccard_pairs(
        df,
        cands,
        text_col,
        id_col,
        shingle_k,
        threshold,
        _shingle_hashes=_raw_shingle_hash_stream(cand_docs, text_col, id_col, shingle_k),
        checkpoint_dir=checkpoint_dir,
    )


def confirmed_minhash_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.8,
    num_hashes: int = 32,
    num_bands: int = 8,
    shingle_k: int = 3,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Public form of the LSH-candidates → exact-Jaccard-confirmed pair
    graph (id_a, id_b, jaccard) — the edge set every composition consumes
    (cluster dedup, survivorship, leakage-safe splits)."""
    return _confirmed_minhash_pairs(
        df, text_col, id_col, threshold, num_hashes, num_bands, shingle_k, checkpoint_dir
    )


def near_dedup_minhash(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.8,
    num_hashes: int = 32,
    num_bands: int = 8,
    shingle_k: int = 3,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Full near-dedup: LSH candidates → Jaccard verify → drop the higher
    id of each confirmed pair (greedy single-link by min id).

    Returns the surviving rows of ``df``. The drop set is computed as
    "appears as id_b in a confirmed pair" — a left-anti join, no driver
    collect. See :func:`_confirmed_minhash_pairs` for the plan shape;
    pass ``checkpoint_dir`` (an HDFS/S3 path on a cluster) to make the
    intermediate materializations executor-loss-tolerant.
    """
    confirmed = _confirmed_minhash_pairs(
        df, text_col, id_col, threshold, num_hashes, num_bands, shingle_k, checkpoint_dir
    )
    drops = confirmed.select(F.col("id_b").alias(id_col)).distinct()
    # propagate cache ownership (ADVICE r17): the confirmed-pairs frame
    # carries jaccard_pairs' persisted per-doc set stem — without adoption
    # the blocks outlive the caller with no handle to release them
    return adopt_caches(df.join(drops, on=id_col, how="left_anti"), confirmed)


def connected_components(
    pairs: DataFrame,
    max_iterations: int = 20,
    strict: bool = True,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Connected components of an undirected pair graph (id_a, id_b) →
    (node, component) with component = min node id in the component.

    Iterative min-label propagation: each round every node adopts the
    smallest label among itself and its neighbors; converges in
    O(graph diameter) rounds (duplicate clusters are near-cliques, so 2-3
    rounds in practice). Each round is two equi-joins + a groupBy — no
    driver-side graph state, checkpoint-friendly. This is the transitive
    version of near-dup clustering: A~B and B~C place A,B,C in one cluster
    even when A~C was never a candidate pair.
    """
    edges = (
        pairs.selectExpr("id_a AS src", "id_b AS dst")
        .unionByName(pairs.selectExpr("id_b AS src", "id_a AS dst"))
        .distinct()
    )
    edges = _materialize(edges, checkpoint_dir)
    # The INITIAL labels are a tiny derivation over the just-materialized
    # edges (one distinct) — a lazy persist lets round 1's materialization
    # compute them once for its two plan references instead of paying a
    # dedicated eager job up front (r18, guide §5); released after the
    # first round lands. Lineage is one distinct over checkpointed edges,
    # so the plan-truncation argument for an eager cut does not apply.
    labels0 = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("component", F.col("node"))
        .persist()
    )
    labels = labels0
    def _one_step(cur: DataFrame) -> DataFrame:
        # carry the change flag THROUGH the label update instead of
        # re-joining new vs old labels afterwards — the convergence
        # check becomes a filter over the materialized frame, saving one
        # join + exchange per round (r17, guide §2.4; labels only ever
        # decrease, so "changed" ≡ new < old)
        neighbor_min = (
            edges.join(cur, edges.dst == cur.node)
            .groupBy("src")
            .agg(F.min("component").alias("nbr_component"))
        )
        return (
            cur.join(neighbor_min, cur.node == neighbor_min.src, "left")
            .select(
                "node",
                F.least(
                    F.col("component"), F.coalesce(F.col("nbr_component"), F.col("component"))
                ).alias("__new"),
                F.col("component").alias("__old"),
            )
            .select(
                "node",
                F.col("__new").alias("component"),
                (F.col("__new") < F.col("__old")).alias("__chg"),
            )
        )

    # TWO propagation steps per materialization round (r17, guide §5/§7.3:
    # the per-round driver cost — checkpoint job + convergence count +
    # py4j round trips — dominated the per-step join work at every scale
    # we measured). Convergence is judged on the LAST step's flag only,
    # which keeps the semantics EXACTLY those of the one-step loop:
    # min-label propagation is monotone (extra steps past the fixed point
    # are no-ops), and the loop raises iff graph diameter + 1 >
    # max_iterations, same boundary as before (the final partial round
    # runs a single step when max_iterations is odd). Labels and
    # components are unchanged by construction.
    it = 0
    try:
        while it < max_iterations:
            cur = labels
            step1: DataFrame | None = None
            steps = min(2, max_iterations - it)
            for i in range(steps):
                cur = _one_step(cur.drop("__chg") if "__chg" in cur.columns else cur)
                it += 1
                if i == 0 and steps > 1:
                    # step 2's plan references step 1's output TWICE
                    # (inside neighbor_min and as the update join's left
                    # side) — a lazy persist makes the round's
                    # materialization compute step 1 once instead of
                    # relying on ReusedExchange to dedup the copies
                    # (ADVICE r17); released right after the round
                    # materializes
                    cur = cur.persist()
                    step1 = cur
            # Truncate lineage every round: without this, iteration N
            # re-executes all N-1 previous rounds for every action
            # (exponential replay — the classic iterative-algorithm trap).
            # ``checkpoint_dir`` upgrades the cut to a reliable
            # checkpoint() that also tolerates executor loss.
            new_labels = _materialize(cur, checkpoint_dir)
            if step1 is not None:
                step1.unpersist(blocking=False)
            if labels0 is not None:
                labels0.unpersist(blocking=False)
                labels0 = None
            changed = new_labels.filter(F.col("__chg")).limit(1).count()
            labels = new_labels.drop("__chg")
            if changed == 0:
                break
        else:
            # Loop exhausted without a zero-change round: labels on long
            # chains (diameter > max_iterations) are still mid-propagation
            # — silently returning them would split one duplicate cluster
            # into several.
            if strict:
                raise RuntimeError(
                    f"connected_components did not converge in {max_iterations} "
                    "iterations; raise max_iterations (graph diameter exceeds it)"
                )
    finally:
        # exception / zero-iteration exits must not strand the lazy
        # init-labels persist (idempotent on the normal path)
        if labels0 is not None:
            labels0.unpersist(blocking=False)
    return labels


def near_dedup_clusters(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.8,
    num_hashes: int = 32,
    num_bands: int = 8,
    shingle_k: int = 3,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Transitive near-dedup: confirmed pairs → connected components →
    keep the minimum id of each component. Returns surviving rows.

    Stricter than :func:`near_dedup_minhash`'s greedy drop (which keeps
    every local minimum of the pair graph); this keeps exactly one doc per
    transitive duplicate cluster.
    """
    confirmed = _confirmed_minhash_pairs(
        df, text_col, id_col, threshold, num_hashes, num_bands, shingle_k, checkpoint_dir
    )
    comp = connected_components(
        confirmed.select("id_a", "id_b"), checkpoint_dir=checkpoint_dir
    )
    drops = comp.filter(F.col("node") != F.col("component")).select(
        F.col("node").alias(id_col)
    )
    # cache ownership travels with the result (ADVICE r17) — see
    # near_dedup_minhash
    return adopt_caches(df.join(drops, on=id_col, how="left_anti"), confirmed)


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def simhash_blocks(sim_col: Column, n_blocks: int = 4) -> list[Column]:
    """Split a 64-bit simhash into 16-bit blocks for pigeonhole bucketing:
    any pair within Hamming distance n_blocks-1 shares >=1 identical block."""
    width = 64 // n_blocks
    mask = (1 << width) - 1
    return [
        F.shiftrightunsigned(sim_col, i * width)
        .bitwiseAND(F.lit(mask).cast("long"))
        .alias(f"blk_{i}")
        for i in range(n_blocks)
    ]


def hamming64(a: Column, b: Column) -> Column:
    return F.bit_count(a.bitwiseXOR(b))


def simhash_table(
    df: DataFrame, text_col: str, id_col: str, portable: bool = False
) -> DataFrame:
    """(doc, sim) SimHash table via explode + 64 conditional-sum aggregates.

    64-bit SimHash of the token multiset: bit b is set iff the +1/-1 votes
    of the token hashes' bit b sum positive. Fully codegen'd: one
    projection per token, one groupBy(doc) with 64 partial sums — map-side
    combine keeps shuffle at |docs| rows.

    ``portable=False`` (default): token hashes are xxhash64 — the fast
    JVM-native path. ``portable=True``: token bit b comes from bit
    ``b % 4`` of hex digit ``b // 4`` of sha256(token) — re-derivable on
    any engine with sha256 (same portability contract as
    ``sampling.weighted_sample(portable=True)``); the declared query
    l2_simhash_candidates runs this form against its DuckDB twin.
    """
    toks = df.select(
        F.col(id_col).alias("doc"),
        F.explode(F.split(normalize_text(text_col), " ")).alias("tok"),
    )
    masks = [(1 << b) if b < 63 else -(1 << 63) for b in range(64)]
    if portable:
        hashed = toks.select("doc", F.sha2(F.col("tok"), 256).alias("hx"))
        digits = hashed.select(
            "doc",
            *[
                F.conv(F.substring("hx", d + 1, 1), 16, 10).cast("int").alias(f"d{d}")
                for d in range(16)
            ],
        )
        votes = digits.groupBy("doc").agg(
            *[
                F.sum(
                    F.when(
                        F.shiftright(F.col(f"d{b // 4}"), b % 4).bitwiseAND(F.lit(1)) == 1, 1
                    ).otherwise(-1)
                ).alias(f"v{b}")
                for b in range(64)
            ]
        )
    else:
        hashed = toks.select("doc", F.xxhash64(F.col("tok")).alias("h"))
        votes = hashed.groupBy("doc").agg(
            *[
                F.sum(
                    F.when(F.col("h").bitwiseAND(F.lit(m).cast("long")) != 0, 1).otherwise(-1)
                ).alias(f"v{b}")
                for b, m in enumerate(masks)
            ]
        )
    sim = F.lit(0).cast("long")
    for b, m in enumerate(masks):
        sim = sim.bitwiseOR(
            F.when(F.col(f"v{b}") > 0, F.lit(m).cast("long")).otherwise(F.lit(0).cast("long"))
        )
    return votes.select("doc", sim.alias("sim"))


def simhash_candidates(
    df: DataFrame, text_col: str, id_col: str, max_hamming: int = 3, portable: bool = False
) -> DataFrame:
    """Near-dup pairs by SimHash: block-bucket join then exact Hamming
    filter. 4 blocks guarantee recall for distance <= 3 (pigeonhole)."""
    with_sim = simhash_table(df, text_col, id_col, portable=portable)
    blocks = with_sim.select(
        "doc", "sim", *simhash_blocks(F.col("sim"), 4)
    )
    exploded = blocks.select(
        "doc",
        "sim",
        F.explode(
            F.array(*[F.struct(F.lit(i).alias("blk_id"), F.col(f"blk_{i}").alias("blk")) for i in range(4)])
        ).alias("b"),
    ).select("doc", "sim", F.col("b.blk_id").alias("blk_id"), F.col("b.blk").alias("blk"))
    a, b = exploded.alias("a"), exploded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.blk_id") == F.col("b.blk_id"))
            & (F.col("a.blk") == F.col("b.blk"))
            & (F.col("a.doc") < F.col("b.doc")),
        )
        .select(
            F.col("a.doc").alias("id_a"),
            F.col("b.doc").alias("id_b"),
            hamming64(F.col("a.sim"), F.col("b.sim")).alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


def bitstring_block_pairs(
    df: DataFrame,
    bits_col: str,
    id_col: str,
    n_bits: int,
    n_blocks: int = 4,
    max_hamming: int = 3,
) -> DataFrame:
    """Near-dup pairs over ANY fixed-width '0'/'1' bitstring column —
    the generic form of :func:`simhash_candidates`'s block-bucket
    pigeonhole, usable on perceptual hashes that aren't 64-bit longs
    (image dHash strings, audio band fingerprints, any learned binary
    code).

    Split the string into ``n_blocks`` nearly-equal substrings; any pair
    within Hamming distance ``max_hamming`` < ``n_blocks`` differs in at
    most ``max_hamming`` blocks, so it MATCHES exactly on at least one —
    candidates only ever meet inside a (block_id, block_value) bucket,
    never all-pairs. Exact Hamming distance is then a per-position
    substring comparison (codegen'd expression sum), and the filter keeps
    pairs at ``<= max_hamming``. Recall is exact (pigeonhole theorem),
    precision is exact (explicit distance) — only the candidate set is
    approximate, and only toward extra work, never missed pairs.

    Output: (id_a, id_b, hamming) with id_a < id_b, distinct.

    At 100 TB: the shuffle key is (block_id, block_value) — bucket sizes
    are the data's near-dup cluster structure; the join is an equi-join
    and AQE's skew split handles a pathological bucket. Mirrors the
    banded-LSH scale story of :func:`minhash_candidates`.
    """
    if not 0 <= max_hamming < n_blocks:
        raise ValueError(
            f"pigeonhole recall needs max_hamming ({max_hamming}) < n_blocks ({n_blocks})"
        )
    if n_blocks > n_bits:
        raise ValueError(f"n_blocks ({n_blocks}) > n_bits ({n_bits})")
    base, rem = divmod(n_bits, n_blocks)
    starts, lens, pos = [], [], 1  # substring() is 1-indexed
    for i in range(n_blocks):
        ln = base + (1 if i < rem else 0)
        starts.append(pos)
        lens.append(ln)
        pos += ln
    cols = df.select(
        F.col(id_col).alias("doc"), F.col(bits_col).alias("bits")
    ).filter(F.length("bits") == n_bits)
    exploded = cols.select(
        "doc",
        "bits",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("blk_id"),
                        F.substring("bits", starts[i], lens[i]).alias("blk"),
                    )
                    for i in range(n_blocks)
                ]
            )
        ).alias("b"),
    ).select("doc", "bits", F.col("b.blk_id").alias("blk_id"), F.col("b.blk").alias("blk"))
    a, b = exploded.alias("a"), exploded.alias("b")
    # distinct the candidate PAIRS before computing the distance: a pair
    # within hamming <= n_blocks-1 can match in up to n_blocks buckets,
    # and computing the n_bits-term expression once per matched bucket
    # row (then deduping) would do the hot work up to n_blocks times
    # (r9 review). bits ride the distinct — functionally dependent on
    # the ids, so the pair set is unchanged and no re-join is needed.
    cand = (
        a.join(
            b,
            (F.col("a.blk_id") == F.col("b.blk_id"))
            & (F.col("a.blk") == F.col("b.blk"))
            & (F.col("a.doc") < F.col("b.doc")),
        )
        .select(
            F.col("a.doc").alias("id_a"),
            F.col("b.doc").alias("id_b"),
            F.col("a.bits").alias("__ba"),
            F.col("b.bits").alias("__bb"),
        )
        .distinct()
    )
    # Exact Hamming distance via 32-bit chunks: conv each chunk of the
    # bitstring to a long, XOR, bit_count, sum. Replaces the r9 per-bit
    # substring-compare chain — n_bits nested Adds over 2×n_bits
    # substring calls evaluated ~30 µs/row; the chunked form is ~10
    # expression nodes and measured 10× faster on 400k pairs (r17,
    # guide §1.2 per-task work). Same value bit-for-bit: '0'/'1' chunks
    # of ≤32 chars are exact in conv(…, 2, 10).
    ham = F.lit(0)
    pos = 1
    while pos <= n_bits:
        ln = min(32, n_bits - pos + 1)
        ca = F.conv(F.substring(F.col("__ba"), pos, ln), 2, 10).cast("long")
        cb = F.conv(F.substring(F.col("__bb"), pos, ln), 2, 10).cast("long")
        ham = ham + F.bit_count(ca.bitwiseXOR(cb))
        pos += ln
    return cand.select("id_a", "id_b", ham.cast("int").alias("hamming")).filter(
        F.col("hamming") <= max_hamming
    )


def near_dedup_keep_best(
    df: DataFrame,
    text_col: str,
    id_col: str,
    quality: Column,
    threshold: float = 0.8,
    num_hashes: int = 32,
    num_bands: int = 8,
    shingle_k: int = 3,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Transitive near-dedup with a SURVIVORSHIP POLICY: per duplicate
    cluster, keep the member maximizing ``quality`` (ties broken by min
    id) instead of :func:`near_dedup_clusters`' min-id rule — the
    "keep the longest / highest-scoring representative" step every
    training-corpus dedup actually wants.

    Returns the per-cluster report for clusters of size >= 2:
    (component, kept_id, n_members, best_quality). Survivor selection for
    the full frame is then one left-anti join of (cluster members minus
    kept ids) against ``df`` — exposed by callers that need rows, kept
    separate so the report itself stays small (|clusters| rows).

    Plan: confirmed LSH pairs → iterative min-label connected components
    → one groupBy(component) count + one row_number window per component
    ordered by (quality desc, id asc). Window partitions are cluster-
    sized — bounded by the true duplicate structure, never the corpus.
    """
    confirmed = _confirmed_minhash_pairs(
        df, text_col, id_col, threshold, num_hashes, num_bands, shingle_k, checkpoint_dir
    )
    comp = connected_components(
        confirmed.select("id_a", "id_b"), checkpoint_dir=checkpoint_dir
    )
    members = comp.join(
        df.select(F.col(id_col).alias("node"), quality.alias("__q")), "node"
    )
    w = Window.partitionBy("component").orderBy(
        F.col("__q").desc(), F.col("node").asc()
    )
    out = (
        members.select(
            "component",
            "node",
            "__q",
            F.row_number().over(w).alias("__rn"),
            F.count(F.lit(1)).over(Window.partitionBy("component")).alias("n_members"),
        )
        .filter(F.col("__rn") == 1)
        .select(
            "component",
            F.col("node").alias("kept_id"),
            "n_members",
            F.col("__q").alias("best_quality"),
        )
    )
    # cache ownership travels with the result (ADVICE r17)
    return adopt_caches(out, confirmed)


def ngram_novelty_scores(
    df: DataFrame,
    text_col: str,
    id_col: str,
    shingle_k: int = 3,
    use_hashes: bool = True,
) -> DataFrame:
    """Per-document corpus NOVELTY: the share of a doc's distinct
    k-gram shingles that FIRST appear in it (min id over the corpus
    ordering) — the curation dual of dedup (t34's operator, promoted
    from the query body so both key layouts share one implementation).

    ``use_hashes=True`` (the PRODUCTION shape) runs the whole pipeline on
    the 8-byte xxhash64 shingle stream (:func:`exploded_shingle_hashes`):
    the min-agg + equi-join shuffle fixed-width longs instead of k-word
    strings — at 100 TB that is the difference between shuffling ~8 bytes
    and ~50+ bytes per shingle occurrence. Scores are identical up to
    64-bit hash collisions (~2^-64 per shingle pair); equality against
    the string path is pinned at two scales in
    tests/test_dedup_similarity.py. ``use_hashes=False`` joins on the
    shingle STRINGS — the oracle-exact form the declared t34 query uses
    (DuckDB has no xxhash64 twin).

    Output: (doc_id, n_shingles, n_novel, novelty) — novelty rounded to
    6 dp for engine parity.
    """
    if use_hashes:
        sh = exploded_shingle_hashes(df, text_col, id_col, shingle_k)
        key = "h"
    else:
        sh = exploded_shingles(df, text_col, id_col, shingle_k)
        key = "shingle"
    first = sh.groupBy(key).agg(F.min("doc").alias("__first_doc"))
    return (
        sh.join(first, key)
        .groupBy(F.col("doc").alias("doc_id"))
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum((F.col("__first_doc") == F.col("doc")).cast("int"))
            .cast("long")
            .alias("n_novel"),
        )
        .select(
            "doc_id",
            "n_shingles",
            "n_novel",
            F.round(F.col("n_novel") / F.col("n_shingles").cast("double"), 6).alias("novelty"),
        )
    )


def keep_best_survivors(
    df: DataFrame,
    text_col: str,
    id_col: str,
    quality: Column,
    threshold: float = 0.8,
    num_hashes: int = 32,
    num_bands: int = 8,
    shingle_k: int = 3,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Full survivor frame under :func:`near_dedup_keep_best`'s policy:
    every row of ``df`` except cluster members that lost to a
    higher-quality keeper (VERDICT r9 — the caller-owned anti-join,
    promoted to an operator with its own declared oracle).

    Plan: the same confirmed-pairs → connected-components stem, then the
    LOSERS (rank > 1 within their cluster by quality desc, id asc) are a
    |duplicates|-sized frame anti-joined against ``df`` — the corpus is
    scanned once, the window runs over cluster-sized partitions only.
    """
    confirmed = _confirmed_minhash_pairs(
        df, text_col, id_col, threshold, num_hashes, num_bands, shingle_k, checkpoint_dir
    )
    comp = connected_components(
        confirmed.select("id_a", "id_b"), checkpoint_dir=checkpoint_dir
    )
    members = comp.join(
        df.select(F.col(id_col).alias("node"), quality.alias("__q")), "node"
    )
    w = Window.partitionBy("component").orderBy(
        F.col("__q").desc(), F.col("node").asc()
    )
    losers = (
        members.select("node", F.row_number().over(w).alias("__rn"))
        .filter(F.col("__rn") > 1)
        .select("node")
    )
    # cache ownership travels with the result (ADVICE r17)
    return adopt_caches(
        df.join(losers, df[id_col] == losers["node"], "left_anti"), confirmed
    )


# ---------------------------------------------------------------------------
# Incremental near-dedup: a persisted LSH index the daily ingest probes.
# Everything above dedups ONE batch against itself; real corpus ingestion
# is "is today's crawl a near-dup of anything we already hold?" — which
# must not re-shingle the historical corpus per batch. The index stores
# the banded (doc, band, bucket) table; a probe shingles ONLY the new
# batch and equi-joins the index.
# ---------------------------------------------------------------------------


def _stage_minhash_index(
    df: DataFrame,
    text_col: str,
    id_col: str,
    target: str,
    num_hashes: int,
    num_bands: int,
    shingle_k: int,
) -> None:
    """Write one complete LSH segment at a fresh ``target``: the banded
    (doc, band, bucket) table under ``buckets/``, then the banding meta —
    the segment's commit record — LAST, so a stage cut short has no meta
    and every reader rejects it. The one staging write behind build,
    append and rebuild."""
    if num_hashes % num_bands != 0:
        # same guard as minhash_candidates: trailing signature hashes
        # would be computed but never banded — a silent recall loss the
        # meta would then propagate to every probe
        raise ValueError(
            f"num_hashes ({num_hashes}) must be divisible by num_bands "
            f"({num_bands}) — trailing hashes would be computed but never banded"
        )
    sig = minhash_signature_table(df, text_col, id_col, num_hashes, shingle_k)
    _LSH.write_data(_banded_buckets(sig, num_hashes, num_bands), _LSH.data(target))
    _write_index_meta(df.sparkSession, target, num_hashes, num_bands, shingle_k)


def write_minhash_index(
    df: DataFrame,
    text_col: str,
    id_col: str,
    path: str,
    num_hashes: int = 24,
    num_bands: int = 6,
    shingle_k: int = 3,
    mode: str = "overwrite",
    txn: tuple[str, int] | None = None,
) -> None:
    """Persist the banded LSH bucket table as the near-dedup index.

    Layout: generation-pointer segments (:mod:`operators.segindex`). Each
    segment holds ``buckets/`` = (doc, band, bucket) parquet and ``meta``
    = a 1-row parquet pinning (num_hashes, num_bands, shingle_k). Probes
    read their banding parameters FROM the meta — a probe banded
    differently from its index silently misses every duplicate, so the
    parameters travel with the data, never with the caller. A build
    stages one segment and an atomic ``_gen_log`` pointer commit makes it
    live; compact/erase/rebuild commit new segments the same way, so the
    full maintenance lifecycle runs on any filesystem.

    ``mode="append"`` stages the batch's buckets as a self-contained DELTA
    segment (its own buckets + meta) and commits it through
    :func:`segindex.append`; the parameters must match the index's meta.
    A lost pointer race re-commits the same delta; a winner that re-banded
    the index fails the parameter check loudly.

    ``txn=(app_id, batch_id)`` makes an append EXACTLY-ONCE under
    streaming redelivery (:func:`genlog.append_segment`'s watermark
    ledger — a foreachBatch replay at or below its app's committed
    watermark is a no-op): the streaming ingest path passes Structured
    Streaming's batch id here.

    At 100 TB: the index is |corpus| × num_bands fixed-width rows; the
    probe join shuffles on (band, bucket) 16-byte keys. Bucketing the
    parquet on ``bucket`` (``save_as_catalog_table`` + bucketBy) upgrades
    the probe to a shuffle-free sort-merge — layout choice, same contract.
    """
    spark = df.sparkSession
    if txn is not None and mode != "append":
        raise ValueError(
            f"txn=(app_id, batch_id) tags an append — got mode={mode!r}; the "
            "watermark ledger records appended batches only"
        )
    requested = (num_hashes, num_bands, shingle_k)

    def _stage(_head, target: str) -> None:
        _stage_minhash_index(df, text_col, id_col, target, *requested)

    if mode != "append":
        segindex.build(spark, path, _stage)
        return

    def _validate_banding(_staged, current) -> None:
        # checked against the head before the staging write, then again
        # inside each commit attempt (a rebuild landing mid-append
        # changes the banding out from under the staged delta)
        meta = _read_index_meta(spark, current.paths[0], resolved=True)
        if meta != requested:
            raise ValueError(
                "minhash index parameter mismatch: index has "
                f"{meta}, append asked for {requested}"
            )

    segindex.append(spark, path, _stage, _validate_banding, txn)


def compact_minhash_index(spark, path: str, target_file_mb: int = 256) -> int:
    """Merge every live segment of a minhash index into ONE segment of
    ~target-sized bucket files (:func:`segindex.compact`).

    ``write_minhash_index(mode="append")`` adds one delta segment per
    batch — at daily-ingest cadence the bucket table fragments into
    thousands of small files and every probe's (band, bucket) join pays
    an open/LIST tax (VERDICT r9). Compaction rewrites the union range-
    partitioned AND sorted on (band, bucket) — beyond defragmenting, the
    layout clusters each probe key into one file-contiguous run.

    Bucket CONTENT is untouched, so probe results are equal by
    construction (pinned by test and by the l2_lsh_compact_probe oracle);
    the merged segment carries the meta unchanged. Returns the
    post-compaction bucket file count.
    """
    from etl_hiscox_spark.sources.writers import compact_parquet_to_dir

    def _merge(h, target: str) -> int:
        srcs = [_LSH.data(p) for p in h.paths]
        return compact_parquet_to_dir(
            _LSH.read_data(spark, srcs), srcs, target, target_file_mb,
            sort_by=("band", "bucket"),
        )

    return segindex.compact(spark, path, _LSH, _merge)


def erase_from_minhash_index(spark, path: str, keys: DataFrame, id_col: str) -> int:
    """Right-to-be-forgotten erasure INSIDE the minhash index: drop every
    bucket row whose ``doc`` appears in ``keys``; returns the number of
    bucket rows erased (num_bands rows per erased doc).

    The index retains a banded fingerprint of every ingested document —
    GDPR reaches it exactly like the primary table
    (``sources/writers.erase_keys``), and an erased doc must stop
    surfacing as ``dup_of`` in every future probe. The erase runs under
    :mod:`operators.segindex`'s segment protocol: only the segments it
    hits are rewritten, and one pointer commit publishes the result.
    """
    return segindex.erase(spark, path, _LSH, keys, id_col)


def minhash_fragmentation_stats(spark, path: str) -> DataFrame:
    """Observability twin of :func:`compact_minhash_index` — file count
    and bytes of the index's bucket table, so the compaction trigger is a
    queryable fact instead of an operator's guess (the IVF side got this
    in r10 via ``similarity.ivf_fragmentation_stats``; VERDICT r10 item 2
    closes the asymmetry). Trigger rule, same as the compactor documents:
    compact when ``n_files`` ≫ ``ceil(total_bytes / target_file_mb)`` —
    every probe's (band, bucket) join pays an open/LIST tax per bucket
    file until then.

    One row: (n_files, total_bytes, avg_file_bytes), from one recursive
    LIST per live segment's bucket table on the driver
    (:func:`listing.data_files`). Multi-segment heads (OCC append deltas,
    r13) aggregate across every live segment: segment count is itself
    fragmentation, and this stat is the compaction trigger that merges
    it away.
    """
    from etl_hiscox_spark.smalldf import local_rows_df
    from etl_hiscox_spark.sources.genlog import live_index_paths
    from etl_hiscox_spark.sources.listing import data_files

    paths = live_index_paths(spark, path)
    _read_index_meta(spark, paths[0], resolved=True)  # loud on an uncommitted index
    files = [f for p in paths for f in data_files(_LSH.data(p))]
    n, total = len(files), sum(f.size for f in files)
    return local_rows_df(
        spark, [(n, total, total / n if n else None)],
        "n_files long, total_bytes long, avg_file_bytes double",
    )


def rebuild_minhash_index(
    spark,
    df: DataFrame,
    text_col: str,
    id_col: str,
    path: str,
    num_hashes: int | None = None,
    num_bands: int | None = None,
    shingle_k: int | None = None,
) -> tuple[int, int, int]:
    """Re-band a LIVE minhash index under new parameters — the parameter
    migration the meta-pinning design otherwise forbids (r11; the IVF
    side's geometry repair is :func:`similarity.rebuild_ivf_index`).
    ``write_minhash_index`` pins (num_hashes, num_bands, shingle_k) at
    build time and every probe/append validates against them FOREVER —
    correct by design, but when recall requirements change (more bands →
    higher recall, fewer → cheaper probes) the lifecycle needs a
    migration that keeps the commit protocol: hand-composing a fresh
    build at a new path leaves a window with two divergent indexes and
    re-points every probe.

    Unlike the IVF index (which stores its vectors and can self-rebuild),
    the bucket table stores only banded fingerprints — re-shingling needs
    the source corpus, so the caller supplies ``df``; the rebuilt index
    indexes EXACTLY those rows. That also makes this the
    fingerprint-refresh op: pass the current base table (post-erasures)
    and the index drops any stragglers in the same commit. ``None``
    parameters keep the live meta's values.

    The complete new index stages as one fresh segment and a single
    pointer commit under a new geometry epoch makes it live
    (:func:`segindex.rebuild`); a crash before the commit leaves the old
    head serving and a vacuum-reclaimable stage. Returns the new
    (num_hashes, num_bands, shingle_k).
    """

    def _reband(h, target: str) -> tuple[int, int, int]:
        cur = _read_index_meta(spark, h.paths[0], resolved=True)
        new = tuple(
            int(v) if v is not None else c
            for v, c in zip((num_hashes, num_bands, shingle_k), cur)
        )
        _stage_minhash_index(df, text_col, id_col, target, *new)
        return new

    return segindex.rebuild(spark, path, _reband)


def _write_index_meta(spark, path: str, num_hashes: int, num_bands: int, shingle_k: int) -> None:
    """The banding meta at ``<path>/meta``: the LSH segment's commit record."""
    segindex.write_record(_LSH, path, (num_hashes, num_bands, shingle_k))


def _read_index_meta(spark, path: str, resolved: bool = False) -> tuple[int, int, int]:
    """``(num_hashes, num_bands, shingle_k)`` of an index root, or of the
    segment ``path`` names when ``resolved``. Loud when the meta is
    missing: a probe without trustworthy banding parameters must never
    fall back to defaults and return plausible-but-empty results."""
    if not resolved:  # callers that already resolved skip the re-stat (r12)
        from etl_hiscox_spark.sources.genlog import live_index_paths

        # the GEOMETRY segment (segments[0]) carries the authoritative
        # banding; append deltas were validated equal at commit time (r13)
        path = live_index_paths(spark, path)[0]
    return segindex.read_record(_LSH, path)


_META_COLS = ("num_hashes", "num_bands", "shingle_k")


def _encode_meta(params: tuple[int, int, int]):
    import pyarrow as pa

    return pa.table({c: pa.array([v], pa.int32()) for c, v in zip(_META_COLS, params)})


def _read_buckets(spark, paths: list[str]) -> DataFrame:
    """One scan over the bucket tables of ``paths``, pinned to the footer
    schema of the first: Spark's per-call inference would cost a job
    (~0.2 s per probe, r18 guide §6), and a mismatched table fails loudly
    at scan time."""
    from etl_hiscox_spark.sources.listing import footer_schema

    return spark.read.schema(footer_schema(paths)).parquet(*paths)


# The LSH answers to the segment protocol (operators/segindex): the
# (doc, band, bucket) table sits under ``buckets/`` and is written as plain
# parquet; the banding meta is the commit record.
_LSH = segindex.SegmentKind(
    data_dir="buckets",
    key_col="doc",
    write_data=lambda rows, path: rows.write.mode("error").parquet(path),
    read_data=_read_buckets,
    record_dir="meta",
    encode=_encode_meta,
    decode=lambda t: tuple(int(t[c][0].as_py()) for c in _META_COLS),
    missing=(
        "minhash index at {segment!r} has no readable meta "
        "(an overwrite may have been interrupted between the bucket "
        "and meta writes — meta is written last as the commit record). "
        "Rebuild the index with write_minhash_index(mode='overwrite')."
    ),
)


def probe_minhash_index(
    new_df: DataFrame,
    text_col: str,
    id_col: str,
    path: str,
    verify_df: DataFrame | None = None,
    threshold: float = 0.8,
) -> DataFrame:
    """Near-duplicates of a NEW batch against a written index.

    Candidates: shingle+sign the new batch only (the historical corpus is
    never re-read), equi-join the index's (band, bucket) table, distinct
    (new_id, dup_of) with self-matches dropped (re-ingesting an indexed
    doc must not flag it as its own duplicate). Without ``verify_df`` the
    candidate pairs return as-is (recall-oriented). With ``verify_df`` (a
    frame resolving BOTH sides' texts, e.g. corpus ∪ new batch) every
    candidate is confirmed by exact shingle Jaccard >= ``threshold`` and
    the pair carries its score — the precision gate of
    :func:`near_dedup_minhash`, applied cross-batch. Candidates whose ids
    ``verify_df`` does NOT resolve come back with ``jaccard`` NULL
    instead of silently vanishing — "zero duplicates" because the caller
    resolved half the corpus is this operator's worst failure mode.

    Banding parameters come from the index meta (see
    :func:`write_minhash_index`).
    """
    from etl_hiscox_spark.sources.genlog import live_index_paths

    spark = new_df.sparkSession
    # probe every live segment (build + OCC append deltas, r13); banding
    # comes from the geometry segment, which every delta was validated
    # against at append time
    paths = live_index_paths(spark, path)
    num_hashes, num_bands, shingle_k = _read_index_meta(spark, paths[0], resolved=True)
    sig = minhash_signature_table(new_df, text_col, id_col, num_hashes, shingle_k)
    new_banded = _banded_buckets(sig, num_hashes, num_bands).alias("n")
    idx = _LSH.read_data(spark, [_LSH.data(p) for p in paths]).alias("i")
    cand = (
        new_banded.join(
            idx,
            (F.col("n.band") == F.col("i.band"))
            & (F.col("n.bucket") == F.col("i.bucket"))
            & (F.col("n.doc") != F.col("i.doc")),
        )
        .select(F.col("n.doc").alias("id_a"), F.col("i.doc").alias("id_b"))
        .distinct()
    )
    if verify_df is None:
        return cand.select(
            F.col("id_a").alias("new_id"), F.col("id_b").alias("dup_of")
        )
    # Verify only what the candidates touch: semi-join the resolver down to
    # candidate ids BEFORE shingling — at 100 TB verify_df is the whole
    # corpus and re-shingling it would dwarf the probe itself (measured
    # ~2x the query at sf0.1). cand feeds two branches (the id set and the
    # pair list); lazy persist so the banded join runs once. The persists
    # (cand and the per-doc shingle-set frame below) are attached to the
    # returned frame — callers free them with
    # ``caching.release_caches(result)`` after materializing; the streaming
    # foreachBatch path does this per batch.
    cand = cand.persist()
    ids = (
        cand.select(F.col("id_a").alias(id_col))
        .union(cand.select(F.col("id_b").alias(id_col)))
        .distinct()
    )
    resolved = verify_df.join(ids, id_col, "left_semi")
    # Exact Jaccard via per-doc shingle-hash SETS instead of the generic
    # jaccard_pairs count-join formulation (r17, guide §2.4/§3): one
    # collect_set aggregation (distinct per doc for free) + two candidate
    # joins replaces the shingle-distinct stem, the per-doc count agg, the
    # big-big (id, shingle) intersection join and the three count re-joins
    # — ~7 Exchanges -> ~3 and 6 joins -> 2 on the probe plan, measured
    # 1.61 -> 1.17 s warm at sf0.1 with bit-identical scores. Safe at
    # scale: ``sets`` holds arrays only for RESOLVED docs (batch-bound —
    # the semi-join above caps it at the candidate ids, never the corpus),
    # and array_intersect is O(|A|+|B|) per LSH-gated candidate pair.
    # A candidate whose id is missing from verify_df surfaces as jaccard
    # NULL via the left joins instead of silently vanishing — "zero
    # duplicates" because the caller resolved half the corpus is this
    # operator's worst failure mode. The threshold applies only to scored
    # pairs, exactly as before.
    sets = (
        _raw_shingle_hash_stream(resolved, text_col, id_col, shingle_k)
        .groupBy("doc")
        .agg(F.collect_set("h").alias("__s"))
        .persist()
    )
    sa = sets.select(F.col("doc").alias("id_a"), F.col("__s").alias("__sa"))
    sb = sets.select(F.col("doc").alias("id_b"), F.col("__s").alias("__sb"))
    n_int = F.size(F.array_intersect(F.col("__sa"), F.col("__sb")))
    jac = n_int.cast("double") / (F.size("__sa") + F.size("__sb") - n_int)
    out = (
        cand.join(sa, "id_a", "left")
        .join(sb, "id_b", "left")
        .select(
            "id_a",
            "id_b",
            F.when(
                F.col("__sa").isNotNull() & F.col("__sb").isNotNull(), jac
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard").isNull() | (F.col("jaccard") >= F.lit(threshold)))
    )
    out = out.select(
        F.col("id_a").alias("new_id"),
        F.col("id_b").alias("dup_of"),
        "jaccard",
    )
    return attach_owned_caches(out, [cand, sets])
